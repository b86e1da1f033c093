package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Analyzer
import graft.index.{Codec, DocIds, IndexBuilder, IndexStore}
import graft.model._
import graft.query.QueryEngine
import TestKit.{spark, OracleBM25, TranscriptGen}

/** End-to-end engine semantics (SURVEY §5.2): rank-identity of every
  * distributed path against the scalar oracle, docID determinism across
  * partition counts, per-turn text equality, WAND exactness, salted-merge
  * correctness, resume-from-checkpoint.
  */
class EngineSpec extends AnyFunSuite {

  import spark.implicits._

  private val cfg = IndexBuilder.Config(docIdPartitions = 8, numShards = 8)
  private lazy val turns = TranscriptGen.turns(seed = 42, nConvs = 80)
  private lazy val turnsDs = spark.createDataset(turns)
  private lazy val rel = IndexBuilder.relations(spark, turnsDs,
    Files.createTempDirectory("graft-docs").toString, cfg)
  private lazy val oracle = OracleBM25.corpus(turns, cfg.analyzer)

  private val queries = Seq(
    "term0000 term0001", // head terms
    "term0000",
    "term0250 term0299", // tail terms
    "世界 café", // unicode
    "term0003 notinvocab term0007", // mixed present/absent
    "notinvocab", // absent -> empty
    "term0002 term0002 term0002", // repeated -> qtf 3
    "the term0004", // stopword in query
    "TERM0005, term0006!" // query needs analysis too
  )

  private lazy val index: IndexStore.Index = {
    val dir = Files.createTempDirectory("graft-test-index").toString
    IndexStore.build(spark, turnsDs, dir, snapshotId = "test", cfg)
    IndexStore.load(spark, dir)
  }

  test("corpus stats match the scalar oracle exactly") {
    assert(rel.corpus.docCount == oracle.n)
    assert(rel.corpus.avgdl == oracle.avgdl)
  }

  test("docID assignment is deterministic across 1/8/32 partitions") {
    val expected = oracle.docs.map(_._1).zip(
      turns.filter(t => t.text != null && t.text.trim.nonEmpty)
        .sortBy(t => (t.conv_id, t.turn_idx))
        .map(t => (t.conv_id, t.turn_idx))).map(_.swap).toMap
    Seq(1, 8, 32).foreach { parts =>
      val got = DocIds.assign(spark, turnsDs.filter(t => t.text != null && t.text.trim.nonEmpty), parts)
        .collect().map(d => (d.conv_id, d.turn_idx) -> d.docId).toMap
      assert(got == expected, s"docIds differ at $parts partitions")
    }
  }

  test("per-turn text equality preserved end-to-end under stable ordering") {
    val rows = rel.docs.collect()
    // row count BEFORE collapsing to a map: duplicate docId rows must fail
    assert(rows.length == oracle.docs.size, "docs row count != oracle")
    val byId = rows.map(d => d.docId -> (d.conv_id, d.turn_idx, d.text)).toMap
    assert(byId.size == oracle.docs.size)
    oracle.docs.foreach { case (id, text) =>
      assert(byId(id)._3 == text, s"text mismatch at docId $id")
    }
  }

  test("exhaustive scorer is rank- and score-identical to the scalar oracle") {
    queries.foreach { q =>
      val want = OracleBM25.topK(oracle, q, 25, cfg.analyzer)
      val got = QueryEngine.exhaustiveTopK(spark, rel, q, 25, cfg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"exhaustive mismatch for query [$q]")
    }
  }

  test("block-max WAND is exact: identical to oracle for all queries and ks") {
    Seq(1, 3, 10, 100).foreach { k =>
      queries.foreach { q =>
        val want = OracleBM25.topK(oracle, q, k, cfg.analyzer)
        val got = QueryEngine.wandTopK(spark, index.blocks, index.termStats,
          index.corpus, q, k, cfg)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == want, s"WAND mismatch for query [$q] k=$k")
      }
    }
  }

  test("sharded sub-lists concatenate to the globally sorted posting list") {
    val blocks = index.blocks.collect()
    val byTerm = blocks.groupBy(_.term)
    val postings = rel.postings
      .select("term", "docId", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val wantByTerm = postings.groupBy(_._1).view
      .mapValues(_.map(p => (p._2, p._3)).sortBy(_._1).toSeq).toMap
    byTerm.foreach { case (term, bs) =>
      val got = bs.sortBy(b => (b.shardId, b.minDocId))
        .flatMap(b => Codec.decode(b.payload, b.n))
        .map(p => (p.docId, p.tf)).toSeq
      assert(got == wantByTerm(term), s"posting list mismatch for term [$term]")
      assert(got.map(_._1) == got.map(_._1).sorted, s"not sorted for [$term]")
    }
    assert(wantByTerm.keySet == byTerm.keySet)
  }

  test("head-term postings are spread across shards (skew handling)") {
    val head = index.blocks.filter($"term" === "term0000").collect()
    val shards = head.map(_.shardId).distinct
    assert(shards.length >= cfg.numShards / 2,
      s"head term concentrated on ${shards.length} shards of ${cfg.numShards}")
  }

  test("decoration preserves turn text (J3 shape)") {
    val top = QueryEngine.exhaustiveTopK(spark, rel, "term0000", 5, cfg)
    val dec = QueryEngine.decorate(top, rel.docs).collect()
    assert(dec.length == 5)
    dec.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(4) == oracle.docs(id.toInt)._2)
    }
  }

  test("build is resumable: crash after 3 shard commits, resume, identical index") {
    val dirA = Files.createTempDirectory("graft-resume-a").toString
    val dirB = Files.createTempDirectory("graft-resume-b").toString
    // uninterrupted reference build
    val full = IndexStore.build(spark, turnsDs, dirB, snapshotId = "snap1", cfg)
    // crashed build
    intercept[RuntimeException] {
      IndexStore.build(spark, turnsDs, dirA, snapshotId = "snap1", cfg,
        commitBatchShards = 1, failAfterShards = Some(3))
    }
    val partial = IndexStore.readManifest(dirA)
    assert(partial.exists(!_.complete))
    assert(partial.get.shards.size == 3)
    // resume
    val resumed = IndexStore.build(spark, turnsDs, dirA, snapshotId = "snap1", cfg)
    assert(resumed.manifest.complete)
    val a = resumed.manifest.shards.map(s => (s.shardId, s.postings, s.blocks, s.payloadBytes, s.checksum)).sorted
    val b = full.manifest.shards.map(s => (s.shardId, s.postings, s.blocks, s.payloadBytes, s.checksum)).sorted
    assert(a == b, "resumed index lineage differs from uninterrupted build")
    // the recorded lineage is what the resumed index's blocks hash to
    val idx = IndexStore.load(spark, dirA)
    assert(resumed.manifest.shards == IndexStore.shardLineage(idx.blocks)._1,
      "resumed manifest lineage differs from its blocks'")
    // and the resumed index answers queries identically
    val want = OracleBM25.topK(oracle, "term0000 term0001", 10, cfg.analyzer)
    val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats, idx.corpus,
      "term0000 term0001", 10, cfg).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("build metrics are emitted (postings/sec, compression, skew ratio)") {
    val m = index.manifest.metrics
    Seq("buildSec", "turnsPerSec", "postingsPerSec", "bytesRaw",
      "bytesCompressed", "skewRatio").foreach { k =>
      assert(m.contains(k), s"missing metric $k")
    }
    assert(m("bytesCompressed") < m("bytesRaw"))
    assert(m("skewRatio") >= 1.0 && m("skewRatio") < 3.0, s"skew ${m("skewRatio")}")
  }

  test("WAND exact under multi-block lists + docId ties (tie-extended pivot)") {
    // Regression for the block-max skip on ties: with a tiny vocabulary
    // nearly every document carries every query term (cursors tie on the
    // pivot constantly) and blockSize=4 forces many blocks per (shard,term)
    // with curBlockUb < globalUb — the exact regime where summing only the
    // prefix cursors' block bounds (instead of ALL cursors at the pivot)
    // lets a true top-k doc be skipped.
    (1 to 10).foreach { seed =>
      val t = TranscriptGen.turns(seed = seed * 77L, nConvs = 30, vocabSize = 12)
      val ds = spark.createDataset(t)
      val c = IndexBuilder.Config(docIdPartitions = 2, numShards = 2, blockSize = 4)
      val o = OracleBM25.corpus(t, c.analyzer)
      val dir = Files.createTempDirectory(s"graft-tie-$seed").toString
      IndexStore.build(spark, ds, dir, snapshotId = s"tie$seed", c)
      val idx = IndexStore.load(spark, dir)
      Seq("term0000 term0001 term0002 term0003", "term0001 term0002").foreach { q =>
        Seq(1, 2, 5).foreach { k =>
          val want = OracleBM25.topK(o, q, k, c.analyzer)
          val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
            idx.corpus, q, k, c).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(got == want, s"seed=$seed q=[$q] k=$k")
        }
      }
    }
  }

  test("batch WAND: one job, per-query results identical to single-query WAND") {
    val batchQs = Seq(
      "b1" -> "term0000 term0001",
      "b2" -> "term0250 term0299",
      "b3" -> "notinvocab", // drops out entirely
      "b4" -> "term0002 term0002 term0002")
    val got = QueryEngine.wandTopKBatch(spark, index.blocks, index.termStats,
      index.corpus, batchQs, 10, cfg)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSeq.sortBy { case (d, s) => (-s, d) })
      .toMap
    batchQs.foreach { case (id, q) =>
      val single = QueryEngine.wandTopK(spark, index.blocks, index.termStats,
        index.corpus, q, 10, cfg).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.getOrElse(id, Nil) == single, s"batch mismatch for $id")
    }
  }

  test("WAND on randomized small corpora matches oracle (property)") {
    (1 to 8).foreach { seed =>
      val t = TranscriptGen.turns(seed = seed * 1000L, nConvs = 12, vocabSize = 40)
      val ds = spark.createDataset(t)
      val c = IndexBuilder.Config(docIdPartitions = 4, numShards = 4)
      val o = OracleBM25.corpus(t, c.analyzer)
      val dir = Files.createTempDirectory(s"graft-prop-$seed").toString
      IndexStore.build(spark, ds, dir, snapshotId = s"prop$seed", c)
      val idx = IndexStore.load(spark, dir)
      Seq("term0000 term0001 term0002", "term0010 term0030", "term0000").foreach { q =>
        val want = OracleBM25.topK(o, q, 5, c.analyzer)
        val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
          idx.corpus, q, 5, c).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == want, s"seed=$seed query=[$q]")
      }
    }
  }
}
