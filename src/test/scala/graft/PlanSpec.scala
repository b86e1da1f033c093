package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

import graft.index.{IndexBuilder, IndexStore}
import graft.query.QueryEngine
import TestKit.spark

/** Physical-plan shape assertions (the "would this survive 100x" checks):
  * filters/pruning reach the parquet scan, small sides broadcast, the
  * postings relation stays narrow, the exhaustive top-k plans as
  * TakeOrderedAndProject. A ranked query's result is a local relation of
  * rows its one scoring job returned, so its scan is asserted on
  * [[QueryEngine.scorerInput]], the scorer's input.
  */
class PlanSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: Dataset[_]): String = df.queryExecution.executedPlan.toString

  /** The physical plan (AQE's input plan when adaptive). */
  private def physical(df: Dataset[_]): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case other => other
  }

  /** The block scan a ranked search (or searchBatch) over `queries` is
    * scored from.
    */
  private def scorerInput(idx: IndexStore.Index, queries: Seq[String], m: Int = 1,
      docs: Option[DataFrame] = None): String =
    plan(QueryEngine.scorerInput(spark, idx.blocks, idx.termStats, queries, m,
      SparkEntry.cfg, docs).getOrElse(fail(s"no query of $queries can match")))

  /** A ranked result runs no per-qid window and no shuffle after scoring:
    * the finish is the driver's merge of the tasks' top-k lists.
    */
  private def assertLocalFinish(df: DataFrame): Unit = {
    val p = physical(df)
    assert(p.find(_.isInstanceOf[WindowExec]).isEmpty, s"a Window finishes the top-k:\n$p")
    assert(p.find(_.isInstanceOf[Exchange]).isEmpty, s"an Exchange follows the scorer:\n$p")
  }

  test("P1: filter and column pruning reach the parquet scan") {
    val p = plan(graft.operators.Relational.queries("p1_select_prune")(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(p.contains("ReadSchema") &&
      !p.contains("l_quantity"), "scan reads pruned columns:\n" + p)
  }

  test("J3: tiny top-k side is broadcast for decoration") {
    val p = plan(graft.operators.Relational.queries("j3_topk_decorate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("postings relation is narrow over the docId sort (no extra exchange)") {
    import spark.implicits._
    val turns = spark.createDataset(TestKit.TranscriptGen.turns(seed = 5, nConvs = 10))
    val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8)
    // prepare() returns the LAZY (pre-persist) postings plan — the one
    // that actually runs in the production build — so an accidental second
    // shuffle is visible here (a persisted relation would always render as
    // an InMemoryTableScan and hide it)
    val p0 = IndexBuilder.prepare(spark, turns,
      java.nio.file.Files.createTempDirectory("graft-docs").toString, cfg)
    val p = plan(p0.postings)
    assert(!p.contains("Exchange"),
      "postings plan acquired a shuffle before the encode exchange:\n" + p)
  }

  test("positional postings encode like non-positional ones: no per-posting objects") {
    import spark.implicits._
    val turns = spark.createDataset(TestKit.TranscriptGen.turns(seed = 5, nConvs = 10))
    def encodePlan(positional: Boolean): String = {
      val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8,
        storePositions = positional)
      val p0 = IndexBuilder.prepare(spark, turns,
        java.nio.file.Files.createTempDirectory("graft-docs").toString, cfg)
      plan(IndexBuilder.encodePostings(spark, p0.postings, cfg).toDF())
    }
    // operator names, one per plan line (tree glyphs and codegen stage ids stripped)
    def shape(p: String): Seq[String] =
      p.linesIterator.map(_.replaceAll("^[\\s:+-]*(\\*\\(\\d+\\) )?", "")
        .takeWhile(_.isLetter)).toSeq
    val pos = encodePlan(positional = true)
    assert(!pos.contains("DeserializeToObject"),
      "positional encode deserializes each posting into an object:\n" + pos)
    assert(shape(pos) == shape(encodePlan(positional = false)), pos)
  }

  test("compaction decodes blocks in the plan: no per-posting objects, positional or not") {
    import spark.implicits._
    val turns = spark.createDataset(TestKit.TranscriptGen.turns(seed = 5, nConvs = 10))
    Seq(false, true).foreach { positional =>
      val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8,
        storePositions = positional)
      val dir = java.nio.file.Files.createTempDirectory("graft-compact-plan").toString
      IndexStore.build(spark, turns, dir, "base", cfg)
      IndexStore.deleteDocs(spark, Seq(1L, 2L).toDF("docId"), dir, "del", cfg)
      val postings = IndexStore.livePostings(IndexStore.load(spark, dir))
      assert(postings.columns.contains("pos") == positional, postings.columns.toSeq)
      val p = plan(postings)
      assert(!p.contains("DeserializeToObject"),
        s"positional=$positional compaction decode deserializes each block:\n" + p)
    }
  }

  test("exhaustive top-k plans as TakeOrderedAndProject with broadcast stats") {
    import spark.implicits._
    val turns = spark.createDataset(TestKit.TranscriptGen.turns(seed = 6, nConvs = 10))
    val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8)
    val rel = IndexBuilder.relations(spark, turns,
      java.nio.file.Files.createTempDirectory("graft-docs").toString, cfg)
    val p = plan(QueryEngine.exhaustiveTopK(spark, rel, "term0000 term0001", 10, cfg))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    rel.unpersistAll()
  }

  test("WAND block scan pushes the term predicate to parquet") {
    val idx = SparkEntry.index(spark, dir)
    import spark.implicits._
    val p = plan(idx.blocks.filter($"term".isin("data", "spark")).toDF())
    assert(p.contains("PushedFilters: [In(term"), p)
  }

  test("WAND scoring never reads the positions column (columnar pruning)") {
    // positions are a phrase-only column: the BM25 paths must not pay for
    // them at the parquet scan, or enabling storePositions would tax every
    // query. The index at `dir` IS positional (SparkEntry.cfg).
    val idx = SparkEntry.index(spark, dir)
    val p = scorerInput(idx, Seq("data spark"))
    // assert on the scan's column list (the ReadSchema string truncates)
    val scanCols = "FileScan parquet \\[[^\\]]*\\]".r.findAllIn(p).toSeq
    assert(scanCols.nonEmpty, p)
    assert(!scanCols.exists(_.contains("positions#")),
      "WAND scan reads the positions column:\n" + p)
  }

  test("conjunctive scan: term predicate pushed, positions column unread, local finish") {
    val idx = SparkEntry.index(spark, dir)
    // "data spark -join" at m = 2 is conjunctiveTopK's query
    val p = scorerInput(idx, Seq("data spark -join"), m = 2)
    assert(p.contains("PushedFilters: [In(term"), p)
    val scanCols = "FileScan parquet \\[[^\\]]*\\]".r.findAllIn(p).toSeq
    assert(scanCols.nonEmpty && !scanCols.exists(_.contains("positions#")),
      "conjunctive scan reads the positions column:\n" + p)
    assertLocalFinish(QueryEngine.conjunctiveTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "data spark -join", 10, SparkEntry.cfg))
  }

  test("lifecycle (deleted) docs view broadcasts the tiny tombstone relation") {
    val idx = SparkEntry.lifecycleIndex(spark, dir)
    assert(idx.tombstoneSet.nonEmpty, "lifecycle fixture deleted nothing — vacuous")
    val p = plan(idx.docs.toDF())
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "live docs view must anti-join a BROADCAST tombstone set:\n" + p)
  }

  test("phrase scan pushes the term predicate and reads positions") {
    // a lone phrase is scored from the same scan as every ranked query
    val idx = SparkEntry.index(spark, dir)
    val p = scorerInput(idx, Seq("\"data spark\""))
    assert(p.contains("PushedFilters: [In(term"), p)
    assert("FileScan parquet \\[[^\\]]*\\]".r.findAllIn(p)
      .exists(_.contains("positions#")), p)
  }

  test("batch WAND scans the block table once for the whole query batch") {
    val idx = SparkEntry.index(spark, dir)
    val qs = Seq("b1" -> "data spark", "b2" -> "join stream", "b3" -> "window")
    val p = scorerInput(idx, qs.map(_._2))
    val scans = "Scan parquet".r.findAllMatchIn(p).size
    assert(scans == 1, s"expected ONE shared block scan, got $scans:\n$p")
    assertLocalFinish(QueryEngine.wandTopKBatch(spark, idx.blocks, idx.termStats,
      idx.corpus, qs, 10))
  }

  test("searchBatch with minShouldMatch = 2 and exclusions scans the block table once") {
    // every term-only query shares ONE BoolScorer job whatever its m and
    // exclusions — no per-query plan unioned in
    val idx = SparkEntry.index(spark, dir)
    val qs = Seq("m1" -> "data spark stream", "m2" -> "join window -data",
      "m3" -> "spark window stream -join")
    val p = scorerInput(idx, qs.map(_._2), m = 2)
    val scans = "Scan parquet".r.findAllMatchIn(p).size
    assert(scans == 1, s"expected ONE shared block scan, got $scans:\n$p")
  }

  test("FWCI composite broadcasts the tiny (field, year) baseline") {
    // the baseline is #fields x #years rows: at corpus scale the fact
    // table must never be shuffle-exchanged twice for the re-join
    val p = plan(graft.operators.Relational.queries("fwci_percentile")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "baseline re-join degraded to SMJ:\n" + p)
  }

  test("embedding-cosine dedup joins on the probe key (no nested-loop pair join)") {
    val p = plan(graft.operators.TrainingData.queries("dedup_embedding_cosine")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation degraded to a cross join:\n" + p)
  }

  test("decontamination broadcasts the benchmark shingles (corpus never shuffled on shingles)") {
    val p = plan(graft.operators.TrainingData.queries("decontaminate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "benchmark overlap degraded to a corpus-wide shingle shuffle:\n" + p)
    // the invariant itself: NO exchange keyed on the corpus's (doc_id, sh)
    // pairs — per-doc shingle dedup must stay in-row (array_distinct), and
    // only the small benchmark side may exchange on sh for its distinct
    assert(!"hashpartitioning\\(doc_id#\\d+, sh#".r.findFirstIn(p).isDefined,
      "corpus shingles were shuffled for the per-doc distinct:\n" + p)
  }

  test("IVF assignment is a partial-aggregable groupBy, not a per-vector window") {
    val p = plan(graft.operators.TrainingData.queries("ann_ivf_topk")(spark, dir))
    assert(!p.contains("Window"), "IVF argmin fell back to a window:\n" + p)
    // positive shape: the argmin IS a map-side partial max over the struct
    assert(p.contains("partial_max") || p.contains("functions=[max("),
      "IVF assignment lost its partial-aggregable max:\n" + p)
  }

  test("doc lookup is a pushed-down parquet point read") {
    val p = plan(SparkEntry.queries("doc_lookup")(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(docId), EqualTo(docId,123)"), p)
  }

  /** The parquet scans of a plan with their column lists (the ReadSchema
    * string truncates).
    */
  private def scans(p: String): Seq[String] = "FileScan parquet \\[[^\\]]*\\]".r.findAllIn(p).toSeq

  test("fielded search pushes the field predicate to the docs parquet") {
    val idx = SparkEntry.index(spark, dir)
    // the allow-list's rows: the live docs view under the field predicate
    val allow = plan(QueryEngine.fieldFilter(Seq("role" -> "user"), idx.docs.toDF()))
    assert(allow.contains("EqualTo(role,user)"),
      "role predicate did not reach the docs parquet scan:\n" + allow)
    // the ranked plan is the term-only one: the allow-list was collected
    // into a DocIdSet, so no docs scan or join remains in it
    val p = scorerInput(idx, Seq("role:user data spark"), docs = Some(idx.docs.toDF()))
    assert(p.contains("PushedFilters: [In(term"), p) // block scan stays term-pushed
    assert(scans(p).size == 1 && !p.contains("Join"), p)
    assertLocalFinish(QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus,
      "role:user data spark", 10, 1, SparkEntry.cfg, idx.tombstoneSet,
      Some(idx.docs.toDF())))
  }

  test("composed search keeps the term-pushed scan and the top-k finish") {
    // phrase + term + exclusion: ONE block scan scored by the one
    // BoolScorer job — the phrase is a per-document positional check, so
    // the scan reads positions and no survivor join is left
    val idx = SparkEntry.index(spark, dir)
    val p = scorerInput(idx, Seq("\"data stream\"~1 spark -join"))
    assert(p.contains("PushedFilters: [In(term"), p)
    assertLocalFinish(QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus,
      "\"data stream\"~1 spark -join", 10, 1, SparkEntry.cfg, idx.tombstoneSet))
    assert(scans(p).size == 1, s"expected ONE block scan:\n$p")
    assert(!p.contains("Join"), s"a join is left in the phrase + term plan:\n$p")
    assert(scans(p).exists(_.contains("positions#")),
      "the phrase's positional check needs the positions column:\n" + p)
  }

  test("searchBatch with a phrase + term query and a field query scans the block table once") {
    val idx = SparkEntry.index(spark, dir)
    val qs = Seq("p1" -> "\"data stream\" spark", "f1" -> "role:user spark join",
      "t1" -> "window join")
    val p = scorerInput(idx, qs.map(_._2), docs = Some(idx.docs.toDF()))
    assert(scans(p).size == 1, s"expected ONE shared block scan, got ${scans(p).size}:\n$p")
    assert(!p.contains("Join"), p)
    assertLocalFinish(QueryEngine.searchBatch(spark, idx.blocks, idx.termStats,
      idx.corpus, qs, 10, 1, SparkEntry.cfg, idx.tombstoneSet, Some(idx.docs.toDF())))
  }

  test("a loaded index's term scorers read the block scan without an exchange") {
    // each shard dir of a loaded index holds one file, so the scorer groups
    // shards straight off the scan, and a single query and a batch both
    // finish on the driver: no window, no exchange anywhere
    val idx = SparkEntry.index(spark, dir)
    def assertExchangeFree(queries: Seq[String]): Unit = {
      val input = physical(QueryEngine.scorerInput(spark, idx.blocks, idx.termStats, queries,
        1, SparkEntry.cfg).getOrElse(fail(s"no query of $queries can match")))
      assert(input.find(_.isInstanceOf[Exchange]).isEmpty,
        "an exchange feeds the block scorer:\n" + input)
    }
    assertExchangeFree(Seq("data spark"))
    assertExchangeFree(Seq("data spark", "join stream"))
    assertLocalFinish(QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "data spark", 10, SparkEntry.cfg))
    assertLocalFinish(QueryEngine.wandTopKBatch(spark, idx.blocks, idx.termStats,
      idx.corpus, Seq("b1" -> "data spark", "b2" -> "join stream"), 10, SparkEntry.cfg))
  }

  test("job counts: a phrase adds no job to its terms, a field filter at most 2") {
    // Spark jobs are the deterministic cost of a query (wall-clock on a
    // shared host is not): planning's eager collects plus the action's
    // stages, counted under one job group. A term, prefix or phrase + terms
    // query is one job; a field filter adds its allow-list's two
    val idx = SparkEntry.index(spark, dir)
    val sc = spark.sparkContext
    def jobs(q: String): Int = {
      def run(): Unit = QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus,
        q, 10, 1, SparkEntry.cfg, idx.tombstoneSet, Some(idx.docs.toDF())).collect()
      run() // warm: no first-touch job of a lazy relation is counted
      val group = s"jobs-${q.hashCode}"
      sc.setJobGroup(group, q)
      try run() finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val terms = jobs("data stream spark -join")
    val prefix = jobs("dat* spark")
    val phrase = jobs("\"data stream\" spark -join")
    val fielded = jobs("role:user spark join data")
    info(s"jobs: terms $terms, prefix $prefix, phrase + terms $phrase, fielded $fielded")
    assert(terms == 1, s"a term query ran $terms jobs")
    assert(prefix == 1, s"a prefix query ran $prefix jobs")
    assert(phrase == 1, s"a phrase + terms query ran $phrase jobs")
    assert(fielded <= 3, s"a field query ran $fielded jobs")
  }

  test("job counts: a searchBatch of term, m-of-n and exclusion queries is one job") {
    // the per-task top-k lists merge on the driver: no second job for a
    // per-qid finish
    val idx = SparkEntry.index(spark, dir)
    val sc = spark.sparkContext
    val qs = Seq("t1" -> "data spark", "m1" -> "data spark stream window",
      "x1" -> "join window stream -data")
    def jobs(m: Int): Int = {
      def run(): Unit = QueryEngine.searchBatch(spark, idx.blocks, idx.termStats, idx.corpus,
        qs, 10, m, SparkEntry.cfg, idx.tombstoneSet).collect()
      run() // warm: no first-touch job of a lazy relation is counted
      val group = s"batch-jobs-$m"
      sc.setJobGroup(group, group)
      try run() finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    Seq(1, 2).foreach { m =>
      val n = jobs(m)
      assert(n == 1, s"a searchBatch at minShouldMatch $m ran $n jobs")
    }
  }

  test("job counts: a lone phrase is one job, alone and in a searchBatch") {
    // a lone phrase is walked, counted and scored in the scorer's one job,
    // its df summed on the driver; a batch holding it, a term query and an
    // m-of-n query stays one job
    val idx = SparkEntry.index(spark, dir)
    val sc = spark.sparkContext
    def jobs(group: String)(run: => Unit): Int = {
      run // warm: no first-touch job of a lazy relation is counted
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val phrase = "\"fast table\""
    def search(): DataFrame = QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus,
      phrase, 10, 1, SparkEntry.cfg, idx.tombstoneSet)
    val qs = Seq("p1" -> phrase, "t1" -> "data spark", "m1" -> "data spark stream window")
    def batch(): DataFrame = QueryEngine.searchBatch(spark, idx.blocks, idx.termStats,
      idx.corpus, qs, 10, 2, SparkEntry.cfg, idx.tombstoneSet)
    assert(search().collect().nonEmpty, s"vacuous: [$phrase] matches nothing")
    assert(batch().collect().map(_.getString(0)).distinct.length == qs.size,
      "vacuous: a query of the batch matches nothing")
    val searchJobs = jobs("lone-phrase-search")(search().collect())
    assert(searchJobs == 1, s"a lone-phrase search ran $searchJobs jobs")
    val batchJobs = jobs("lone-phrase-batch")(batch().collect())
    assert(batchJobs == 1, s"a searchBatch holding a lone phrase ran $batchJobs jobs")
  }
}
