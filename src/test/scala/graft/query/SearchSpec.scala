package graft.query

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestKit.{spark, OracleBM25, TranscriptGen}
import graft.functions.Analyzer
import graft.index.{IndexBuilder, IndexStore}
import graft.model.Turn

/** The unified search box (QueryEngine.search): grammar parsing, routing
  * identity to every dedicated scorer, and the composed path (phrase
  * filter + exclusions + minimum-should-match in one query) against a
  * brute-force scalar oracle.
  */
class SearchSpec extends AnyFunSuite {

  private val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8,
    storePositions = true)

  private def buildIndex(turns: Seq[Turn], name: String): IndexStore.Index = {
    val dir = Files.createTempDirectory(name).toString
    val ds = spark.createDataset(turns)(org.apache.spark.sql.Encoders.product[Turn])
    IndexStore.build(spark, ds, dir, snapshotId = name, cfg)
    IndexStore.load(spark, dir)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def searchTop(idx: IndexStore.Index, q: String, m: Int = 1,
      k: Int = 10): Seq[(Long, Double)] =
    rows(QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus, q, k, m, cfg))

  test("parseQuery splits phrases (with slop), exclusions, prefixes, free terms") {
    val pq = QueryEngine.parseQuery(
      """spark join "data stream"~2 dat* -flink "fast table" -x y*""")
    assert(pq.free == Seq("spark", "join"))
    assert(pq.phrases == Seq(("data stream", 2), ("fast table", 0)))
    assert(pq.excluded == Seq("flink", "x"))
    assert(pq.prefixes == Seq("dat*", "y*"))
    // blank quotes drop; a stray quote is whitespace; bare '-' and '*' are
    // plain tokens (too short to be operators)
    val pq2 = QueryEngine.parseQuery("""a "" b " c - *""")
    assert(pq2.free == Seq("a", "b", "c", "-", "*"))
    assert(pq2.phrases.isEmpty && pq2.excluded.isEmpty && pq2.prefixes.isEmpty)
  }

  test("routing: each single-feature query is identical to its dedicated API") {
    val turns = TranscriptGen.turns(seed = 120, nConvs = 40)
    val idx = buildIndex(turns, "graft-search-route")
    def b = idx.blocks; def ts = idx.termStats; def c = idx.corpus

    // plain terms -> WAND disjunctive
    val plain = "term0000 term0001 term0002"
    assert(searchTop(idx, plain) ==
      rows(QueryEngine.wandTopK(spark, b, ts, c, plain, 10, cfg)))
    // lone quoted phrase -> PhraseQuery scoring
    assert(searchTop(idx, "\"term0000 term0001\"") ==
      rows(QueryEngine.phraseTopK(spark, b, c, "term0000 term0001", 10, cfg)))
    // lone quoted phrase with slop
    assert(searchTop(idx, "\"term0000 term0001\"~2") ==
      rows(QueryEngine.phraseTopK(spark, b, c, "term0000 term0001", 10, cfg, 2)))
    // phrase + free terms -> filter-then-rank
    assert(searchTop(idx, "term0002 \"term0000 term0001\"") ==
      rows(QueryEngine.phraseFilterRank(spark, b, ts, c, "term0002",
        "term0000 term0001", 10, cfg)))
    // m = n (with exclusion) -> conjunctive leapfrog
    assert(searchTop(idx, "term0000 term0001 -term0002", m = 2) ==
      rows(QueryEngine.conjunctiveTopK(spark, b, ts, c,
        "term0000 term0001 -term0002", 10, cfg)))
    // 1 < m < n -> minimum-should-match
    val q4 = "term0000 term0001 term0002 term0003"
    assert(searchTop(idx, q4, m = 2) ==
      rows(QueryEngine.minShouldMatchTopK(spark, b, ts, c, q4, 2, 10, cfg)))
    // wildcard -> dictionary expansion (identical to prefixTopK)
    assert(searchTop(idx, "term000* term0042") ==
      rows(QueryEngine.prefixTopK(spark, b, ts, c, "term000* term0042", 10, cfg)))
    assert(searchTop(idx, plain).nonEmpty, "vacuous routing fixture")
  }

  test("unsatisfiable minShouldMatch and empty grammars return empty") {
    val turns = TranscriptGen.turns(seed = 121, nConvs = 10)
    val idx = buildIndex(turns, "graft-search-empty")
    assert(searchTop(idx, "term0000 term0001", m = 3).isEmpty,
      "m beyond the distinct positive terms is unsatisfiable")
    assert(searchTop(idx, "\"term0000 term0001\"", m = 2).nonEmpty,
      "a phrase match contains every phrase word, so m = 2 is satisfiable")
    assert(searchTop(idx, "").isEmpty)
    assert(searchTop(idx, "\"\"").isEmpty)
    assert(searchTop(idx, "-term0000").isEmpty,
      "exclusions without any positive term match nothing")
  }

  /** Brute-force scalar oracle for the full unified semantics. */
  private def unifiedOracle(turns: Seq[Turn], query: String, m: Int,
      k: Int): Seq[(Long, Double)] =
    OracleBM25.search(OracleBM25.corpus(turns, cfg.analyzer), query, m, k, cfg)

  test("composed path (phrase + exclusion + msm + wildcard) matches the scalar oracle") {
    val turns = TranscriptGen.turns(seed = 122, nConvs = 40)
    val idx = buildIndex(turns, "graft-search-comp")
    var nonEmpty = 0
    Seq(
      ("\"term0000 term0001\" term0002 -term0005", 1),
      ("\"term0000 term0001\"~2 term0002 term0003", 2),
      ("\"term0000 term0001\" \"term0001 term0002\"", 1), // two phrases
      ("term000* \"term0000 term0001\"", 1), // wildcard + phrase
      ("\"term0000 term0001\" -term0002 -term0003", 1),
      ("\"term0001 term0002\" term0004 term0005 term0000", 3)
    ).foreach { case (q, m) =>
      val want = unifiedOracle(turns, q, m, 10)
      val got = searchTop(idx, q, m)
      assert(got == want, s"composed mismatch for [$q] m=$m")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 4, "composed fixtures mostly empty — vacuous")
  }

  test("msm with exclusions (no phrase) matches the scalar oracle") {
    val turns = TranscriptGen.turns(seed = 123, nConvs = 40)
    val idx = buildIndex(turns, "graft-search-msmx")
    var nonEmpty = 0
    Seq(
      ("term0000 term0001 term0002 -term0005", 2),
      ("term0000 term0001 term0002 term0003 -term0004", 2),
      ("term0001 term0002 term0003 -term0000", 1)
    ).foreach { case (q, m) =>
      val want = unifiedOracle(turns, q, m, 10)
      val got = searchTop(idx, q, m)
      assert(got == want, s"msm+excl mismatch for [$q] m=$m")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 2, "msm+excl fixtures mostly empty — vacuous")
  }

  test("property: unified search == scalar oracle over random grammars") {
    val rnd = new scala.util.Random(777L)
    val turns = TranscriptGen.turns(seed = 124, nConvs = 30, vocabSize = 60)
    val idx = buildIndex(turns, "graft-search-prop")
    var nonEmpty = 0
    (0 until 12).foreach { i =>
      def t(): String = f"term${rnd.nextInt(30)}%04d"
      val free = Seq.fill(rnd.nextInt(3))(t())
      val phrase =
        if (rnd.nextBoolean()) {
          val slop = rnd.nextInt(3)
          val sfx = if (slop > 0) s"~$slop" else ""
          Seq(s""""${t()} ${t()}"$sfx""")
        } else Nil
      val excl = Seq.fill(rnd.nextInt(2))("-" + t())
      val wild = if (rnd.nextInt(4) == 0) Seq("term000*") else Nil
      val q = rnd.shuffle(free ++ phrase ++ excl ++ wild).mkString(" ")
      val nPos = (free ++ phrase.map(_.takeWhile(_ != '~').replace("\"", "")) ++ wild)
        .mkString(" ").split("\\s+").count(_.nonEmpty)
      val m = 1 + rnd.nextInt(math.max(1, math.min(nPos, 2)))
      if (q.trim.nonEmpty && (free.nonEmpty || phrase.nonEmpty || wild.nonEmpty)) {
        val want = unifiedOracle(turns, q, m, 10)
        val got = searchTop(idx, q, m)
        assert(got == want, s"property mismatch #$i for [$q] m=$m")
        if (want.nonEmpty) nonEmpty += 1
      }
    }
    assert(nonEmpty >= 4, "random grammar property mostly vacuous")
  }

  test("a stopword prefix expands the dictionary instead of silently matching nothing") {
    val ts0 = new java.sql.Timestamp(0L)
    val turns = Seq(
      Turn("c0", 0, "user", "theory holds", "", ts0),
      Turn("c0", 1, "user", "theorem proved theory", "", ts0),
      Turn("c0", 2, "user", "nothing here", "", ts0))
    val idx = buildIndex(turns, "graft-prefix-stop")
    // 'the' is a stopword: round 4 analyzed the stem and dropped the token
    val got = rows(QueryEngine.prefixTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "the*", 10, cfg))
    val want = rows(QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "theorem theory", 10, cfg))
    assert(got == want, "the* must expand to theorem/theory")
    assert(got.nonEmpty)
    assert(searchTop(idx, "the*") == want, "search() shares the fixed stem analysis")
  }

  test("fielded search: role:/tool: filter-then-rank matches a scalar oracle") {
    val turns = TranscriptGen.turns(seed = 125, nConvs = 40)
    val idx = buildIndex(turns, "graft-search-field")
    // role per docId, replicating the engine's stable (conv_id, turn_idx)
    // id assignment over indexable turns
    val byId = turns.filter(t => t.text != null && t.text.trim.nonEmpty)
      .sortBy(t => (t.conv_id, t.turn_idx)).zipWithIndex
      .map { case (t, i) => i.toLong -> t }.toMap
    val c = OracleBM25.corpus(turns, cfg.analyzer)
    def fieldedOracle(q: String, role: String): Seq[(Long, Double)] = {
      val qterms = Analyzer.analyzeQuery(q, cfg.analyzer)
        .filter { case (t, _) => c.postings.contains(t) }
      val idf = qterms.map { case (t, _) => t -> Bm25.idf(c.n, c.postings(t).size) }.toMap
      c.docs.map(_._1)
        .filter(d => byId(d).role == role &&
          qterms.exists { case (t, _) => c.postings(t).contains(d) })
        .map { d =>
          var s = 0.0
          qterms.foreach { case (t, qtf) =>
            c.postings(t).get(d).foreach(tf =>
              s += Bm25.contribution(qtf, idf(t), tf, c.dl(d), c.avgdl, cfg.params))
          }
          (d, s)
        }.sortBy { case (d, s) => (-s, d) }.take(10)
    }
    def searchDocs(q: String): Seq[(Long, Double)] =
      rows(QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus, q,
        10, 1, cfg, graft.index.DocIdSet.empty, Some(idx.docs.toDF())))
    val got = searchDocs("role:user term0000 term0001")
    val want = fieldedOracle("term0000 term0001", "user")
    assert(got == want, "fielded top-k must equal the role-filtered oracle")
    assert(got.nonEmpty, "vacuous fielded fixture")
    // every hit really has the role; stats stayed corpus-wide (scores are a
    // SUBSET of the unfiltered ranking's scores, not recomputed)
    got.foreach { case (d, _) => assert(byId(d).role == "user") }
    val unfiltered = rows(QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "term0000 term0001", 10000, cfg)).toMap
    got.foreach { case (d, s) => assert(unfiltered(d) == s,
      "fielded scores must equal the corpus-wide-stats scores") }
    // parser surface + guard
    val pq = QueryEngine.parseQuery("role:user \"a b\" tool:bash x")
    assert(pq.fields == Seq(("role", "user"), ("tool", "bash")))
    assert(pq.free == Seq("x") && pq.phrases == Seq(("a b", 0)))
    intercept[IllegalArgumentException] {
      QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus,
        "role:user x", 10, 1, cfg)
    }
  }

  test("grammar robustness: stray colons forgiven, filter-only match-all, slop clamp") {
    val turns = TranscriptGen.turns(seed = 126, nConvs = 20)
    val idx = buildIndex(turns, "graft-search-robust")
    val docsDf = Some(idx.docs.toDF())
    def s(q: String) = rows(QueryEngine.search(spark, idx.blocks, idx.termStats,
      idx.corpus, q, 10, 1, cfg, graft.index.DocIdSet.empty, docsDf))
    // a colon token NOT naming a doc column falls back to plain text
    assert(s("roles:user term0000") ==
      rows(QueryEngine.wandTopK(spark, idx.blocks, idx.termStats, idx.corpus,
        "roles user term0000", 10, cfg)),
      "typo'd field must degrade to free text, not crash")
    assert(s("http://example.com term0000").nonEmpty)
    // filter-only query = match-all under the filter (constant score 0,
    // docId order), not an empty result
    val only = s("role:user")
    assert(only.nonEmpty && only.forall(_._2 == 0.0))
    val ids = idx.docs.toDF().filter(org.apache.spark.sql.functions.col("role") === "user")
      .select("docId").collect().map(_.getLong(0)).sorted.take(10).toSeq
    assert(only.map(_._1) == ids, "filter-only must return the filtered docs in docId order")
    // an oversized ~slop clamps instead of crashing the parse
    assert(s("\"term0000 term0001\"~99999999999") ==
      rows(QueryEngine.phraseTopK(spark, idx.blocks, idx.corpus,
        "term0000 term0001", 10, cfg, QueryEngine.MaxSlop)))
    // filter-only WITH exclusions: the filtered docs minus the excluded
    // term's docs, still constant-score match-all (not silently empty)
    val exclOnly = s("role:user -term0000")
    assert(exclOnly.nonEmpty && exclOnly.forall(_._2 == 0.0))
    val c = OracleBM25.corpus(turns, cfg.analyzer)
    val byId2 = turns.filter(t => t.text != null && t.text.trim.nonEmpty)
      .sortBy(t => (t.conv_id, t.turn_idx)).zipWithIndex
      .map { case (t, i) => i.toLong -> t }.toMap
    val wantIds = c.docs.map(_._1)
      .filter(d => byId2(d).role == "user" &&
        !c.postings("term0000").contains(d)).sorted.take(10)
    assert(exclOnly.map(_._1) == wantIds,
      "filter-only + exclusion must anti-join the excluded term's docs")
    // duplicate qids in a batch are rejected, not silently cross-wired
    intercept[IllegalArgumentException] {
      QueryEngine.searchBatch(spark, idx.blocks, idx.termStats, idx.corpus,
        Seq("q" -> "dat*", "q" -> "spa*"), 10, 1, cfg)
    }
    // DOCS-LESS serving path: a stray colon token (URL) degrades to free
    // text instead of throwing; a GENUINE metadata field query still
    // throws the pass-the-docs contract error
    def sNoDocs(q: String) = rows(QueryEngine.search(spark, idx.blocks,
      idx.termStats, idx.corpus, q, 10, 1, cfg))
    assert(sNoDocs("http://example.com term0000") ==
      rows(QueryEngine.wandTopK(spark, idx.blocks, idx.termStats, idx.corpus,
        "http example com term0000", 10, cfg)),
      "docs-less URL token must degrade to free text, not crash")
    intercept[IllegalArgumentException] { sNoDocs("role:user x") }
  }

  test("searchBatch: every qid identical to its single search() call") {
    val turns = TranscriptGen.turns(seed = 127, nConvs = 30)
    val idx = buildIndex(turns, "graft-search-batch")
    val docsDf = Some(idx.docs.toDF())
    val batch = Seq(
      "b1" -> "term0000 term0001 term0002", // plain -> shared WAND job
      "b2" -> "term000* term0042", // wildcard -> expanded into the batch
      "b3" -> "\"term0000 term0001\" term0002 -term0005", // composed
      "b4" -> "role:user term0000 term0001", // fielded
      "b5" -> "zzznotaterm", // empty result
      "b6" -> "term0000 term0001 term0003 -term0002", // exclusion -> shared job
      "b7" -> "term0001 term000* -term0004", // wildcard + exclusion -> shared job
      "b8" -> "-term0000") // exclusion alone matches nothing
    // m = 1 and m = 2 over the same batch: every term-only query, whatever
    // its m and exclusions, scores in the one shared job
    Seq(1 -> 5, 2 -> 4).foreach { case (m, minNonEmpty) =>
      val got = QueryEngine.searchBatch(spark, idx.blocks, idx.termStats, idx.corpus,
        batch, 10, m, cfg, graft.index.DocIdSet.empty, docsDf)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(x => (-x._2, x._1)).toSeq).toMap
      var nonEmpty = 0
      batch.foreach { case (qid, q) =>
        val single = rows(QueryEngine.search(spark, idx.blocks, idx.termStats,
          idx.corpus, q, 10, m, cfg, graft.index.DocIdSet.empty, docsDf))
        assert(got.getOrElse(qid, Nil) == single, s"batch/single mismatch for $qid [$q] m=$m")
        if (single.nonEmpty) nonEmpty += 1
      }
      assert(nonEmpty >= minNonEmpty, s"m=$m batch fixtures mostly empty — vacuous")
    }
  }

  test("filter-only search on a delete-carrying index never returns a tombstoned doc") {
    // pins the LIVE-docs-view invariant the match-all path relies on
    // (VERDICT r5 "What's wrong #3"): the docs relation passed to search()
    // is the post-delete live view, so a tombstoned doc cannot survive the
    // field filter even though the match-all branch itself never probes
    // the tombstone set.
    val turns = TranscriptGen.turns(seed = 129, nConvs = 20)
    val dir = Files.createTempDirectory("graft-search-tomb").toString
    val ds = spark.createDataset(turns)(org.apache.spark.sql.Encoders.product[Turn])
    IndexStore.build(spark, ds, dir, snapshotId = "st-base", cfg)
    val before = IndexStore.load(spark, dir)
    val userIds = before.docs.toDF()
      .filter(org.apache.spark.sql.functions.col("role") === "user")
      .select("docId").collect().map(_.getLong(0)).sorted.toSeq
    assert(userIds.size >= 3, "vacuous fixture")
    val dropped = userIds.take(2)
    val dropDf = spark.createDataset(dropped)(org.apache.spark.sql.Encoders.scalaLong)
      .toDF("docId")
    IndexStore.deleteDocs(spark, dropDf, dir, "st-del", cfg)
    val idx = IndexStore.load(spark, dir)
    assert(idx.tombstoneSet.nonEmpty, "delete produced no tombstones")
    val got = rows(QueryEngine.search(spark, idx.blocks, idx.termStats,
      idx.corpus, "role:user", 10000, 1, cfg, idx.tombstoneSet,
      Some(idx.docs.toDF())))
    assert(got.nonEmpty && got.forall(_._2 == 0.0))
    assert(got.map(_._1).intersect(dropped).isEmpty,
      "a tombstoned doc surfaced through the filter-only match-all path")
    assert(got.map(_._1) == userIds.drop(2).take(10000),
      "filter-only must return exactly the LIVE filtered docs in docId order")
  }

  test("k < 1 returns no rows on every route, through search and searchBatch") {
    // a filter-only query's match-all ends in limit(k), which Spark rejects
    // for a negative k at analysis: k < 1 must return no rows instead, as
    // the ranked routes (a lone phrase and a term query) do
    val idx = buildIndex(TranscriptGen.turns(seed = 130, nConvs = 20), "graft-search-k")
    val docsDf = Some(idx.docs.toDF())
    val queries = Seq("f" -> "role:user", "p" -> "\"term0000 term0001\"",
      "t" -> "term0000 term0001")
    def search(q: String, k: Int) = rows(QueryEngine.search(spark, idx.blocks, idx.termStats,
      idx.corpus, q, k, 1, cfg, idx.tombstoneSet, docsDf))
    def batch(k: Int) = QueryEngine.searchBatch(spark, idx.blocks, idx.termStats, idx.corpus,
      queries, k, 1, cfg, idx.tombstoneSet, docsDf).collect().toSeq
    queries.foreach { case (_, q) => assert(search(q, 1).nonEmpty, s"vacuous: [$q] at k = 1") }
    assert(batch(1).map(_.getString(0)).distinct.size == queries.size)
    Seq(0, -1).foreach { k =>
      queries.foreach { case (_, q) =>
        assert(search(q, k).isEmpty, s"search [$q] at k = $k returned rows")
      }
      assert(batch(k).isEmpty, s"searchBatch at k = $k returned rows")
    }
  }
}
