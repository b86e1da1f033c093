package graft.query

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestKit.{spark, OracleBM25, TranscriptGen}
import graft.functions.Analyzer
import graft.index.{IndexBuilder, IndexStore}
import graft.model.Turn

/** Conjunctive (AND / -term) and proximity (slop) queries vs scalar
  * oracles that scan the raw texts — rank- and score-identical.
  */
class BooleanQuerySpec extends AnyFunSuite {

  private val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8,
    storePositions = true)

  private def buildIndex(turns: Seq[Turn], name: String): IndexStore.Index = {
    val dir = Files.createTempDirectory(name).toString
    val ds = spark.createDataset(turns)(org.apache.spark.sql.Encoders.product[Turn])
    IndexStore.build(spark, ds, dir, snapshotId = name, cfg)
    IndexStore.load(spark, dir)
  }

  /** Scalar AND oracle: docs containing every required analyzed term and
    * none of the excluded ones; BM25 over the required terms only.
    */
  private def andOracle(turns: Seq[Turn], query: String, k: Int): Seq[(Long, Double)] = {
    val c = OracleBM25.corpus(turns, cfg.analyzer)
    val (posText, negRaw) = QueryEngine.parseBoolean(query)
    val qterms = Analyzer.analyzeQuery(posText, cfg.analyzer)
    if (qterms.isEmpty) return Nil
    val neg = negRaw.flatMap(t => Analyzer.tokenize(t, cfg.analyzer)).distinct
    // AND semantics: an absent required term means no matches at all
    if (qterms.exists { case (t, _) => !c.postings.contains(t) }) return Nil
    val required = qterms.map(_._1).toSet
    val matching = c.docs.map(_._1).filter { d =>
      required.forall(t => c.postings(t).contains(d)) &&
        !neg.exists(t => c.postings.get(t).exists(_.contains(d)))
    }
    val idf = qterms.map { case (t, _) => t -> Bm25.idf(c.n, c.postings(t).size) }.toMap
    matching.map { d =>
      var s = 0.0
      qterms.foreach { case (t, qtf) => // ascending-term summation order
        s += Bm25.contribution(qtf, idf(t), c.postings(t)(d), c.dl(d), c.avgdl, cfg.params)
      }
      (d, s)
    }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  private def andTop(idx: IndexStore.Index, q: String, k: Int): Seq[(Long, Double)] =
    QueryEngine.conjunctiveTopK(spark, idx.blocks, idx.termStats, idx.corpus, q, k, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("conjunctive top-k matches the scalar oracle (incl. exclusions, qtf)") {
    val turns = TranscriptGen.turns(seed = 91, nConvs = 40)
    val idx = buildIndex(turns, "graft-and")
    Seq(
      "term0000 term0001", // common pair
      "term0000 term0001 term0002", // triple
      "term0000 -term0001", // exclusion
      "term0003 term0000 -term0002 -term0005", // multiple exclusions
      "term0000 term0000 term0001", // repeated term: qtf = 2
      "term0042" // single term, no intersect
    ).foreach { q =>
      val want = andOracle(turns, q, 10)
      val got = andTop(idx, q, 10)
      assert(got == want, s"AND mismatch for [$q]")
      assert(want.nonEmpty, s"vacuous fixture for [$q]")
    }
  }

  test("conjunctive semantics: absent required term empties, absent exclusion no-ops") {
    val turns = TranscriptGen.turns(seed = 92, nConvs = 20)
    val idx = buildIndex(turns, "graft-and-edge")
    assert(andTop(idx, "term0000 zzznotaterm", 10).isEmpty,
      "an absent REQUIRED term must produce no matches (unlike WAND's drop)")
    assert(andTop(idx, "term0000 term0001 -zzznotaterm", 10) ==
      andTop(idx, "term0000 term0001", 10),
      "an absent excluded term must exclude nothing")
    // every result doc really contains every required term
    val c = OracleBM25.corpus(turns, cfg.analyzer)
    val hits = andTop(idx, "term0000 term0002", 1000).map(_._1)
    assert(hits.nonEmpty)
    hits.foreach { d =>
      assert(c.postings("term0000").contains(d) && c.postings("term0002").contains(d))
    }
  }

  private def msmTop(idx: IndexStore.Index, q: String, m: Int, k: Int): Seq[(Long, Double)] =
    QueryEngine.minShouldMatchTopK(spark, idx.blocks, idx.termStats, idx.corpus,
      q, m, k, cfg).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Scalar msm oracle: docs matching >= m distinct query terms, scored
    * over the terms they contain.
    */
  private def msmOracle(turns: Seq[Turn], query: String, m: Int, k: Int): Seq[(Long, Double)] = {
    val c = OracleBM25.corpus(turns, cfg.analyzer)
    val qterms = Analyzer.analyzeQuery(query, cfg.analyzer)
      .filter { case (t, _) => c.postings.contains(t) }
    if (qterms.size < m) return Nil
    val idf = qterms.map { case (t, _) => t -> Bm25.idf(c.n, c.postings(t).size) }.toMap
    val matching = c.docs.map(_._1).filter(d =>
      qterms.count { case (t, _) => c.postings(t).contains(d) } >= m)
    matching.map { d =>
      var s = 0.0
      qterms.foreach { case (t, qtf) => // ascending-term summation order
        c.postings(t).get(d).foreach(tf =>
          s += Bm25.contribution(qtf, idf(t), tf, c.dl(d), c.avgdl, cfg.params))
      }
      (d, s)
    }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  test("minimum-should-match matches the oracle; m=1 == WAND, m=n == AND") {
    val turns = TranscriptGen.turns(seed = 95, nConvs = 40)
    val idx = buildIndex(turns, "graft-msm")
    val q4 = "term0000 term0001 term0002 term0003"
    (1 to 4).foreach { m =>
      val want = msmOracle(turns, q4, m, 10)
      val got = msmTop(idx, q4, m, 10)
      assert(got == want, s"msm mismatch for [$q4] m=$m")
      assert(m == 4 || want.nonEmpty, s"vacuous msm fixture at m=$m")
    }
    // m = 1 is disjunctive top-k: rank-identical to WAND
    assert(msmTop(idx, q4, 1, 10) ==
      QueryEngine.wandTopK(spark, idx.blocks, idx.termStats, idx.corpus, q4, 10, cfg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "msm(1) must equal WAND's disjunctive top-k")
    // m = n is conjunctive AND (no exclusions)
    assert(msmTop(idx, q4, 4, 10) == andTop(idx, q4, 10),
      "msm(n) must equal the conjunctive intersect")
    // absent terms lower the achievable count: 3 live terms can't reach 4
    assert(msmTop(idx, "term0000 term0001 term0002 zzznotaterm", 4, 10).isEmpty)
    assert(msmTop(idx, "term0000 term0001 term0002 zzznotaterm", 3, 10) ==
      msmTop(idx, "term0000 term0001 term0002", 3, 10))
  }

  test("prefix queries: dictionary expansion == WAND over the expanded terms") {
    val turns = TranscriptGen.turns(seed = 96, nConvs = 30)
    val idx = buildIndex(turns, "graft-prefix")
    val c = OracleBM25.corpus(turns, cfg.analyzer)
    // term000* expands to term0000..term0009 (whichever exist)
    val expanded = c.postings.keys.filter(_.startsWith("term000")).toSeq.sorted
    assert(expanded.size > 1, "vacuous prefix fixture")
    val viaPrefix = QueryEngine.prefixTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "term000* term0042", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaWand = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, (expanded :+ "term0042").mkString(" "), 10, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaPrefix == viaWand,
      "prefix expansion must score exactly like typing the expansions")
    assert(viaPrefix.nonEmpty)
    // a prefix matching nothing contributes nothing; all-miss query is empty
    assert(QueryEngine.prefixTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "zzznope* term0042", 10, cfg).collect().nonEmpty)
    assert(QueryEngine.prefixTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "zzznope*", 10, cfg).collect().isEmpty)
  }

  /** Scalar slop oracle: brute-force chain existence (DFS, not greedy —
    * deliberately a different algorithm from the engine's greedy
    * completion) per start position over the filtered token stream.
    */
  private def slopOracle(turns: Seq[Turn], phrase: String, slop: Int,
      k: Int): Seq[(Long, Double)] =
    OracleBM25.phraseTopK(OracleBM25.corpus(turns, cfg.analyzer), phrase, slop, k, cfg)

  private def slopTop(idx: IndexStore.Index, phrase: String, slop: Int,
      k: Int): Seq[(Long, Double)] =
    QueryEngine.phraseTopK(spark, idx.blocks, idx.corpus, phrase, k, cfg, slop)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("slop phrase matches the brute-force oracle at slop 0, 1, 2") {
    val turns = TranscriptGen.turns(seed = 93, nConvs = 40)
    val idx = buildIndex(turns, "graft-slop")
    var nonEmpty = 0
    for {
      p <- Seq("term0000 term0001", "term0001 term0003", "term0000 term0002 term0001")
      s <- Seq(0, 1, 2)
    } {
      val want = slopOracle(turns, p, s, 10)
      val got = slopTop(idx, p, s, 10)
      assert(got == want, s"slop mismatch for [$p]~$s")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 6, "fixture produced almost no slop matches — vacuous")
  }

  test("slop 0 is exactly the adjacency phrase path; wider slop only adds docs") {
    val turns = TranscriptGen.turns(seed = 94, nConvs = 30)
    val idx = buildIndex(turns, "graft-slop0")
    val p = "term0000 term0001"
    assert(slopTop(idx, p, 0, 10) ==
      QueryEngine.phraseTopK(spark, idx.blocks, idx.corpus, p, 10, cfg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val d0 = slopTop(idx, p, 0, 10000).map(_._1).toSet
    val d2 = slopTop(idx, p, 2, 10000).map(_._1).toSet
    assert(d0.subsetOf(d2), "slop widening must never lose an adjacency match")
    assert(d2.size > d0.size, "fixture gave slop 2 nothing beyond adjacency — vacuous")
  }

  test("property: conjunctive == scalar oracle over random corpora and queries") {
    val rnd = new scala.util.Random(4242L)
    (0 until 5).foreach { i =>
      val turns = TranscriptGen.turns(seed = 9100L + i, nConvs = 8 + rnd.nextInt(20),
        vocabSize = 40 + rnd.nextInt(200))
      val idx = buildIndex(turns, s"graft-and-prop$i")
      var nonEmpty = 0
      (0 until 4).foreach { _ =>
        val nPos = 1 + rnd.nextInt(3)
        val nNeg = rnd.nextInt(2)
        val q = ((0 until nPos).map(_ => f"term${rnd.nextInt(40)}%04d") ++
          (0 until nNeg).map(_ => f"-term${rnd.nextInt(40)}%04d")).mkString(" ")
        val want = andOracle(turns, q, 10)
        val got = andTop(idx, q, 10)
        assert(got == want, s"property AND mismatch corpus=$i q=[$q]")
        if (want.nonEmpty) nonEmpty += 1
      }
      assert(nonEmpty > 0, s"corpus $i produced only empty AND results — weak fixture")
    }
  }

  test("slop with duplicate terms requires strictly increasing positions") {
    val turns = Seq(
      Turn("c0", 0, "user", "data x data", "", new java.sql.Timestamp(0L)), // within slop 1
      Turn("c0", 1, "user", "data x y z data", "", new java.sql.Timestamp(1000L)), // gap 4 > 1+1
      Turn("c0", 2, "user", "data", "", new java.sql.Timestamp(2000L))) // single: no chain
    val idx = buildIndex(turns, "graft-slop-dup")
    val hits = slopTop(idx, "data data", 1, 10).map(_._1).toSet
    assert(hits == Set(0L), s"expected only doc 0, got $hits")
    assert(slopTop(idx, "data data", 3, 10).map(_._1).toSet == Set(0L, 1L))
  }
}
