package graft.query

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestKit.{spark, OracleBM25, TranscriptGen}
import graft.functions.Analyzer
import graft.index.{Codec, IndexBuilder, IndexStore}
import graft.model.Turn

/** Phrase queries over the positional index vs a scalar oracle that scans
  * the raw texts — rank- and score-identical, including duplicate-term
  * phrases, stopword-gap adjacency, incremental appends, and the
  * non-positional-index failure mode.
  */
class PhraseSpec extends AnyFunSuite {

  private val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8,
    storePositions = true)

  /** Scalar phrase BM25 (the shared brute-force oracle at slop 0): tf =
    * occurrence count, df = matching docs, idf = ln((N+1)/(df+1)).
    */
  private def phraseOracle(turns: Seq[Turn], phrase: String, k: Int): Seq[(Long, Double)] =
    OracleBM25.phraseTopK(OracleBM25.corpus(turns, cfg.analyzer), phrase, 0, k, cfg)

  private def buildIndex(turns: Seq[Turn], name: String): IndexStore.Index = {
    val dir = Files.createTempDirectory(name).toString
    val ds = spark.createDataset(turns)(org.apache.spark.sql.Encoders.product[Turn])
    IndexStore.build(spark, ds, dir, snapshotId = name, cfg)
    IndexStore.load(spark, dir)
  }

  private def phraseTop(idx: IndexStore.Index, phrase: String, k: Int): Seq[(Long, Double)] =
    QueryEngine.phraseTopK(spark, idx.blocks, idx.corpus, phrase, k, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("positions codec round-trips arbitrary ascending lists") {
    val rnd = new scala.util.Random(7L)
    (0 until 200).foreach { _ =>
      val lists = (0 until 1 + rnd.nextInt(20)).map { _ =>
        val n = 1 + rnd.nextInt(12)
        val out = new Array[Int](n)
        var p = 0
        (0 until n).foreach { i => p += 1 + rnd.nextInt(1000); out(i) = p }
        out
      }
      val enc = Codec.encodePositions(lists)
      val dec = Codec.decodePositions(enc, lists.map(_.length).toArray)
      assert(dec.map(_.toSeq) sameElements lists.map(_.toSeq))
    }
  }

  test("phrase top-k matches the scalar oracle (bigram, trigram, stopword gap)") {
    val turns = TranscriptGen.turns(seed = 81, nConvs = 40)
    val idx = buildIndex(turns, "graft-phrase")
    // head terms: adjacency occurs often in Zipf text — assert non-vacuous
    Seq("term0000 term0001", "term0001 term0000", "term0000 term0002 term0001",
      "term0003 the term0000" /* stopword dropped -> term0003 term0000 */).foreach { p =>
      val want = phraseOracle(turns, p, 10)
      val got = phraseTop(idx, p, 10)
      assert(got == want, s"phrase mismatch for [$p]")
    }
    assert(phraseOracle(turns, "term0000 term0001", 10).nonEmpty,
      "fixture produced no bigram matches — test is vacuous")
  }

  test("duplicate-term phrase counts overlapping occurrences like the oracle") {
    val turns = Seq(
      Turn("c0", 0, "user", "data data data spark", "", new java.sql.Timestamp(0L)),
      Turn("c0", 1, "user", "data spark data data", "", new java.sql.Timestamp(1000L)),
      Turn("c0", 2, "user", "spark data spark", "", new java.sql.Timestamp(2000L)))
    val idx = buildIndex(turns, "graft-phrase-dup")
    val want = phraseOracle(turns, "data data", 10)
    val got = phraseTop(idx, "data data", 10)
    assert(got == want)
    // doc 0 has "data data data" -> two overlapping occurrences
    assert(want.map(_._1).contains(0L) && want.map(_._1).contains(1L)
      && !want.map(_._1).contains(2L))
  }

  test("absent term yields an empty result; phrase survives incremental append") {
    val base = TranscriptGen.turns(seed = 82, nConvs = 20).map(t => t.copy(conv_id = "a-" + t.conv_id))
    val delta = TranscriptGen.turns(seed = 83, nConvs = 15).map(t => t.copy(conv_id = "b-" + t.conv_id))
    val dir = Files.createTempDirectory("graft-phrase-app").toString
    val enc = org.apache.spark.sql.Encoders.product[Turn]
    IndexStore.build(spark, spark.createDataset(base)(enc), dir, "p-base", cfg)
    IndexStore.appendSnapshot(spark, spark.createDataset(delta)(enc), dir, "p-delta", cfg)
    val idx = IndexStore.load(spark, dir)
    assert(phraseTop(idx, "zzznotaterm term0000", 10).isEmpty)
    val all = base ++ delta
    Seq("term0000 term0001", "term0002 term0000").foreach { p =>
      assert(phraseTop(idx, p, 10) == phraseOracle(all, p, 10),
        s"post-append phrase mismatch for [$p]")
    }
  }

  /** Scalar mixed-query oracle: phrase filter, rank by full-query BM25. */
  private def filterRankOracle(turns: Seq[Turn], freeTerms: String, phrase: String,
      k: Int): Seq[(Long, Double)] = {
    val c = OracleBM25.corpus(turns, cfg.analyzer)
    val pTerms = Analyzer.tokenize(phrase, cfg.analyzer)
    val matching = c.docs.filter { case (_, text) =>
      val toks = Analyzer.tokenize(text, cfg.analyzer).toArray
      (0 to toks.length - pTerms.length).exists(i =>
        pTerms.indices.forall(j => toks(i + j) == pTerms(j)))
    }.map(_._1).toSet
    OracleBM25.topK(c, freeTerms + " " + phrase, Int.MaxValue, cfg.analyzer)
      .filter { case (d, _) => matching.contains(d) }
      .take(k)
  }

  test("mixed query: phrase filters, full-query BM25 ranks (vs scalar oracle)") {
    val turns = TranscriptGen.turns(seed = 86, nConvs = 40)
    val idx = buildIndex(turns, "graft-phrase-mixed")
    Seq(("term0002 term0005", "term0000 term0001"),
      ("term0003", "term0001 term0000")).foreach { case (free, phrase) =>
      val want = filterRankOracle(turns, free, phrase, 10)
      val got = QueryEngine.phraseFilterRank(spark, idx.blocks, idx.termStats,
        idx.corpus, free, phrase, 10, cfg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(want.nonEmpty, s"vacuous fixture for [$free | $phrase]")
      assert(got == want, s"mixed-query mismatch for [$free | $phrase]")
    }
  }

  test("compaction preserves positions: phrase answers identical after compact") {
    // exercises the positional re-block path in IndexStore.compact (decode
    // positions -> re-exchange -> re-encode with moved block boundaries)
    val base = TranscriptGen.turns(seed = 84, nConvs = 20).map(t => t.copy(conv_id = "a-" + t.conv_id))
    val delta = TranscriptGen.turns(seed = 85, nConvs = 15).map(t => t.copy(conv_id = "b-" + t.conv_id))
    val dir = Files.createTempDirectory("graft-phrase-cmp").toString
    val enc = org.apache.spark.sql.Encoders.product[Turn]
    IndexStore.build(spark, spark.createDataset(base)(enc), dir, "c-base", cfg)
    IndexStore.appendSnapshot(spark, spark.createDataset(delta)(enc), dir, "c-delta", cfg)
    val all = base ++ delta
    val queries = Seq("term0000 term0001", "term0002 term0000")
    val before = queries.map(p => phraseTop(IndexStore.load(spark, dir), p, 10))
    assert(before.exists(_.nonEmpty), "fixture produced no phrase matches — vacuous")
    val compacted = IndexStore.compact(spark, dir, cfg)
    assert(compacted.manifest.positional && compacted.manifest.blockDirs.size == 1)
    val idx = IndexStore.load(spark, dir)
    queries.zip(before).foreach { case (p, want) =>
      assert(phraseTop(idx, p, 10) == want, s"post-compact phrase drift for [$p]")
      assert(phraseTop(idx, p, 10) == phraseOracle(all, p, 10), s"post-compact oracle mismatch for [$p]")
    }
  }

  test("a lone phrase leaves no cached match relation behind") {
    val idx = buildIndex(TranscriptGen.turns(seed = 83, nConvs = 20), "graft-phrase-cache")
    val phrases = Seq("term0000 term0001", "term0001 term0000", "term0000 term0002")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    phrases.foreach(p => assert(phraseTop(idx, p, 10).nonEmpty, s"vacuous: [$p]"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"phraseTopK left cached relations: ${
      leaked.map(spark.sparkContext.getPersistentRDDs).mkString("; ")}")
  }

  test("phrase query against a NON-positional index fails loudly, not silently-empty") {
    val turns = Seq(
      Turn("c0", 0, "user", "data spark data", "", new java.sql.Timestamp(0L)))
    val dir = Files.createTempDirectory("graft-phrase-nopos").toString
    val enc = org.apache.spark.sql.Encoders.product[Turn]
    val noPos = cfg.copy(storePositions = false)
    IndexStore.build(spark, spark.createDataset(turns)(enc), dir, "np", noPos)
    val idx = IndexStore.load(spark, dir)
    assert(!idx.manifest.positional)
    val ex = intercept[Exception] {
      QueryEngine.phraseTopK(spark, idx.blocks, idx.corpus, "data spark", 10, noPos).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("positional")), s"unexpected error: $ex")
  }
}
