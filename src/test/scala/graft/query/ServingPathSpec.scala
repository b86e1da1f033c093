package graft.query

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkEntry
import graft.TestKit.{spark, OracleBM25, TranscriptGen}
import graft.index.{IndexBuilder, IndexStore}
import graft.model.{TermStat, Turn}

/** The one-job serving path: the driver-side term dictionary (idf lookup
  * and prefix expansion in Spark's string order) and the exchange-free
  * block scan. Multi-generation indexes answer exactly without the
  * exchange, and each gate's fallback (split files, persisted blocks, a
  * dictionary over its cap) keeps the per-query work it replaces and the
  * same answers.
  */
class ServingPathSpec extends AnyFunSuite {

  private val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8,
    storePositions = true)
  private val enc = Encoders.product[Turn]

  private def shiftConvs(ts: Seq[Turn], prefix: String): Seq[Turn] =
    ts.map(t => t.copy(conv_id = prefix + t.conv_id))

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Whether an exchange is in `ds`'s plan: a block scorer's input
    * ([[QueryEngine.scorerInput]]), whose only exchange is the one feeding
    * the scorer.
    */
  private def exchangeFed(ds: Dataset[_]): Boolean = {
    val p = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    assert(p.find(_.isInstanceOf[FileSourceScanExec]).nonEmpty ||
      p.find(_.isInstanceOf[InMemoryTableScanExec]).nonEmpty, s"no block scan in the plan:\n$p")
    p.find(_.isInstanceOf[Exchange]).isDefined
  }

  /** The block scan the ranked query `q` (a lone phrase too) is scored from. */
  private def input(idx: IndexStore.Index, q: String,
      c: IndexBuilder.Config = cfg): Dataset[_] =
    QueryEngine.scorerInput(spark, idx.blocks, idx.termStats, Seq(q), 1, c)
      .getOrElse(fail(s"[$q] can match nothing"))

  private def jobs(run: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"serving-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try run finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The brute-force reference over an index's live docs (their ids as
    * the index assigned them); its stats must be the index's.
    */
  private def liveCorpus(idx: IndexStore.Index, c: IndexBuilder.Config): OracleBM25.Corpus = {
    val corpus = OracleBM25.corpusFromDocs(
      idx.docs.collect().map(d => d.docId -> d.text).sortBy(_._1).toVector, c.analyzer)
    assert(idx.corpus.docCount == corpus.n && idx.corpus.avgdl == corpus.avgdl,
      "the index's corpus stats are not its live docs'")
    corpus
  }

  /** Every (query, m) through search() and, grouped by m, searchBatch()
    * against the brute-force reference (a lone phrase: PhraseQuery
    * scoring); `role:` filters keep the docs of that role. Returns how
    * many queries had answers.
    */
  private def assertServesExactly(idx: IndexStore.Index, queries: Seq[(String, Int)],
      c: IndexBuilder.Config = cfg): Int = {
    val corpus = liveCorpus(idx, c)
    val role = idx.docs.collect().map(d => d.docId -> d.role).toMap
    val docs = Some(idx.docs.toDF())
    def oracle(q: String, m: Int): Seq[(Long, Double)] = {
      val pq = QueryEngine.parseQuery(q)
      if (pq.phrases.size == 1 && pq.free.isEmpty && pq.prefixes.isEmpty &&
          pq.fields.isEmpty && pq.excluded.isEmpty)
        OracleBM25.phraseTopK(corpus, pq.phrases.head._1, pq.phrases.head._2, 10, c)
      else OracleBM25.search(corpus, q, m, 10, c,
        id => pq.fields.forall { case (f, v) => f == "role" && role(id) == v })
    }
    queries.foreach { case (q, m) =>
      val got = rows(QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus, q,
        10, m, c, idx.tombstoneSet, docs))
      assert(got == oracle(q, m), s"search mismatch for [$q] m=$m")
    }
    queries.groupBy(_._2).foreach { case (m, qs) =>
      val batch = QueryEngine.searchBatch(spark, idx.blocks, idx.termStats, idx.corpus,
        qs.zipWithIndex.map { case ((q, _), i) => s"q$i" -> q }, 10, m, c,
        idx.tombstoneSet, docs).collect().toSeq.groupBy(_.getString(0))
      qs.zipWithIndex.foreach { case ((q, _), i) =>
        val got = batch.getOrElse(s"q$i", Nil).map(r => (r.getLong(1), r.getDouble(2)))
          .sortBy { case (d, s) => (-s, d) }
        assert(got == oracle(q, m), s"searchBatch mismatch for [$q] m=$m")
      }
    }
    queries.count { case (q, m) => oracle(q, m).nonEmpty }
  }

  /** OR, AND, m-of-n, exclusion, prefix, phrase (lone, with slop, with
    * terms) and field queries over the generated vocabulary.
    */
  private val genQueries = Seq(
    "term0000 term0001 term0002" -> 1,
    "term0000 term0001" -> 2,
    "term0000 term0001 term0002 term0003" -> 2,
    "term0001 term0002 -term0000" -> 1,
    "term000* term0010" -> 1,
    "\"term0000 term0001\"" -> 1,
    "\"term0001 term0000\"~2" -> 1,
    "\"term0000 term0001\" term0002" -> 1,
    "role:user term0000 term0003" -> 1)

  /** A single-generation positional index of generated turns, loaded
    * afresh by every caller (each gets its own relations).
    */
  private lazy val singleGenDir: String = {
    val dir = Files.createTempDirectory("graft-serve-single").toString
    IndexStore.build(spark, spark.createDataset(TranscriptGen.turns(seed = 140, nConvs = 40))(enc),
      dir, "serve-single", cfg)
    dir
  }

  test("dictionary prefix expansion equals the termStats scan in Spark's string order") {
    import spark.implicits._
    val cap = QueryEngine.PrefixExpansionCap
    // more than cap terms of one stem, and non-ASCII terms whose UTF-8 and
    // UTF-16 orders differ: U+FF21 sorts before a surrogate pair in UTF-8
    // bytes and after it in UTF-16 code units, so the cap keeps "preＡ"
    val fullA = "Ａ"
    val smile = "😀"
    val terms = new scala.util.Random(7).shuffle(
      (0 until cap - 1).map(i => f"pre$i%05d") ++
        Seq("pre" + fullA, "pre" + smile, fullA, smile, "a" + fullA, "a" + smile,
          "aé", "ab", "a", "z"))
    val ts = terms.zipWithIndex.map { case (t, i) => TermStat(t, 1L, i.toDouble) }.toDS()
    val dict = QueryEngine.termDictionary(ts).getOrElse(fail("dictionary over its cap"))
    Seq("pre", "pre0", "pre01", "a", fullA, smile, "z", "q").foreach { stem =>
      val want = ts.filter($"term".startsWith(stem)).orderBy($"term").limit(cap)
        .collect().map(_.term).toSeq
      val got = dict.withPrefix(stem, cap)
      if (got != want) fail(s"expansion of [$stem]: only in the dictionary's " +
        s"${got.diff(want)}, only in the scan's ${want.diff(got)}")
    }
    val pre = dict.withPrefix("pre", cap)
    assert(pre.size == cap && pre.contains("pre" + fullA) && !pre.contains("pre" + smile))
    terms.zipWithIndex.foreach { case (t, i) => assert(dict.idf(t).contains(i.toDouble), t) }
    assert(dict.idf("pre").isEmpty && dict.idf("b").isEmpty && dict.idf("zz").isEmpty)
  }

  test("multi-generation lifecycle index (append, delete, update): exchange-free answers equal the oracle") {
    val idx = SparkEntry.lifecycleIndex(spark, "/root/testdata/sf0.001")
    assert(idx.manifest.blockDirs.size >= 2 && idx.tombstoneSet.nonEmpty,
      "the lifecycle fixture is not multi-generation with deletes")
    assert(QueryEngine.wholeFileScan(idx.blocks))
    val c = SparkEntry.cfg.copy(storePositions = false)
    assert(!exchangeFed(input(idx, "spark join data", c)))
    val nonEmpty = assertServesExactly(idx, Seq(
      "spark join data" -> 1,
      "spark join data" -> 3,
      "spark query join data" -> 2,
      "data join -stream" -> 2,
      "dat* join" -> 1,
      "role:user spark data" -> 1,
      "role:user join data" -> 2), c)
    assert(nonEmpty >= 5, "lifecycle queries mostly empty — vacuous")
  }

  test("multi-generation positional index: exchange-free phrase and term answers equal the oracle") {
    val dir = Files.createTempDirectory("graft-serve-gens").toString
    IndexStore.build(spark, spark.createDataset(
      shiftConvs(TranscriptGen.turns(seed = 141, nConvs = 30), "a-"))(enc), dir, "gen-base", cfg)
    IndexStore.appendSnapshot(spark, spark.createDataset(
      shiftConvs(TranscriptGen.turns(seed = 142, nConvs = 20), "b-"))(enc), dir, "gen-delta", cfg)
    val live = IndexStore.load(spark, dir)
    import spark.implicits._
    IndexStore.deleteDocs(spark, live.docs.map(_.docId).filter(_ % 5 == 0).toDF("docId"),
      dir, "gen-del", cfg)
    val idx = IndexStore.load(spark, dir)
    assert(idx.manifest.blockDirs.size == 2 && idx.tombstoneSet.nonEmpty)
    assert(QueryEngine.wholeFileScan(idx.blocks))
    assert(!exchangeFed(input(idx, "\"term0000 term0001\"")))
    assert(assertServesExactly(idx, genQueries) >= 7, "generated queries mostly empty")
  }

  test("fallback: files split by a small maxPartitionBytes keep the shard exchange") {
    val idx = IndexStore.load(spark, singleGenDir)
    assert(QueryEngine.wholeFileScan(idx.blocks) && !exchangeFed(input(idx, "term0000")))
    withConf("spark.sql.files.maxPartitionBytes" -> "1024",
        "spark.sql.files.openCostInBytes" -> "1") {
      assert(!QueryEngine.wholeFileScan(idx.blocks))
      assert(exchangeFed(input(idx, "term0000")))
      assert(exchangeFed(input(idx, "\"term0000 term0001\"")))
      assert(assertServesExactly(idx, genQueries) >= 7)
    }
  }

  test("fallback: persisted blocks keep the shard exchange") {
    val idx = IndexStore.load(spark, singleGenDir)
    idx.blocks.persist()
    try {
      assert(!QueryEngine.wholeFileScan(idx.blocks))
      assert(exchangeFed(input(idx, "term0000")))
      assert(assertServesExactly(idx, genQueries) >= 7)
    } finally idx.blocks.unpersist()
  }

  test("fallback: a dictionary over its cap keeps the per-query term lookups") {
    val served = IndexStore.load(spark, singleGenDir)
    val idx = IndexStore.load(spark, singleGenDir) // its own termStats relation
    assert(QueryEngine.termDictionary(idx.termStats, cap = 3).isEmpty)
    assert(QueryEngine.termDictionary(served.termStats).nonEmpty)
    assert(assertServesExactly(idx, genQueries) >= 7)
    def prefixJobs(i: IndexStore.Index): Int =
      jobs(QueryEngine.search(spark, i.blocks, i.termStats, i.corpus, "term000* term0010",
        10, 1, cfg, i.tombstoneSet).collect())
    // the dictionary answers the expansion and the idfs on the driver; the
    // fallback pays a dictionary scan and an idf collect
    assert(prefixJobs(served) == 1)
    assert(prefixJobs(idx) >= 3)
  }
}
