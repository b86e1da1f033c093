package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexStore}
import graft.model.Turn
import graft.query.QueryEngine
import TestKit.{spark, OracleBM25, TranscriptGen}

/** Incremental snapshot append (SURVEY §7.6): base build + delta append
  * must answer queries rank-identically to a scalar oracle over the full
  * corpus, with existing docIds unmoved and stats merged exactly.
  */
class IncrementalSpec extends AnyFunSuite {

  private val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8)

  // delta conversations sort after the base ones so the oracle's global
  // (conv_id, turn_idx) order equals base-ids ++ offset-delta-ids
  private def shiftConvs(ts: Seq[Turn], prefix: String): Seq[Turn] =
    ts.map(t => t.copy(conv_id = prefix + t.conv_id))

  test("append: rank-identical to oracle over base ++ delta; base ids stable") {
    val baseTurns = shiftConvs(TranscriptGen.turns(seed = 21, nConvs = 40), "a-")
    val deltaTurns = shiftConvs(TranscriptGen.turns(seed = 22, nConvs = 25), "b-")
    val dir = Files.createTempDirectory("graft-incr").toString

    val baseDs = spark.createDataset(baseTurns)(org.apache.spark.sql.Encoders.product[Turn])
    val deltaDs = spark.createDataset(deltaTurns)(org.apache.spark.sql.Encoders.product[Turn])

    IndexStore.build(spark, baseDs, dir, snapshotId = "snap-base", cfg)
    val baseIdx = IndexStore.load(spark, dir)
    val baseIds = baseIdx.docs.collect().map(d => (d.conv_id, d.turn_idx) -> d.docId).toMap

    val appended = IndexStore.appendSnapshot(spark, deltaDs, dir, "snap-delta", cfg)
    assert(appended.manifest.complete)
    val idx = IndexStore.load(spark, dir)

    // base ids unmoved; delta ids continue after them
    val docRows = idx.docs.collect()
    val allIds = docRows.map(d => (d.conv_id, d.turn_idx) -> d.docId).toMap
    assert(docRows.length == allIds.size, "duplicate doc rows after append")
    baseIds.foreach { case (k, id) => assert(allIds(k) == id, s"base id moved for $k") }
    assert(allIds.size > baseIds.size)
    assert(allIds.values.max == allIds.size - 1) // dense

    // oracle over the combined corpus (global sort == base ++ delta by
    // construction of the conv prefixes)
    val oracle = OracleBM25.corpus(baseTurns ++ deltaTurns, cfg.analyzer)
    assert(idx.manifest.docCount == oracle.n)
    assert(idx.manifest.avgdl == oracle.avgdl)

    Seq("term0000 term0001", "term0000", "term0250 term0299", "世界 café",
      "term0002 term0002 term0002").foreach { q =>
      val want = OracleBM25.topK(oracle, q, 15, cfg.analyzer)
      val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
        idx.corpus, q, 15, cfg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"append WAND mismatch for [$q]")
    }
  }

  test("append crash-safety: base stays servable through a mid-append crash; retry commits") {
    val baseTurns = shiftConvs(TranscriptGen.turns(seed = 31, nConvs = 25), "a-")
    val deltaTurns = shiftConvs(TranscriptGen.turns(seed = 32, nConvs = 15), "b-")
    val dir = Files.createTempDirectory("graft-incr-crash").toString
    val baseDs = spark.createDataset(baseTurns)(org.apache.spark.sql.Encoders.product[Turn])
    val deltaDs = spark.createDataset(deltaTurns)(org.apache.spark.sql.Encoders.product[Turn])

    IndexStore.build(spark, baseDs, dir, snapshotId = "snap-base", cfg)
    val baseOracle = OracleBM25.corpus(baseTurns, cfg.analyzer)
    def topFor(q: String, idx: IndexStore.Index) =
      QueryEngine.wandTopK(spark, idx.blocks, idx.termStats, idx.corpus, q, 10, cfg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // crash INSIDE the append, after all staging writes but before the
    // manifest commit — the worst legal moment
    intercept[RuntimeException] {
      IndexStore.appendSnapshot(spark, deltaDs, dir, "snap-delta", cfg,
        failBeforeCommit = true)
    }
    // the live manifest still serves the BASE index, answers unchanged
    val afterCrash = IndexStore.load(spark, dir)
    assert(afterCrash.manifest.snapshotId == "snap-base")
    assert(afterCrash.manifest.docCount == baseOracle.n)
    assert(topFor("term0000 term0001", afterCrash) ==
      OracleBM25.topK(baseOracle, "term0000 term0001", 10, cfg.analyzer))

    // retry: staging dirs overwritten, single-manifest commit lands
    val retried = IndexStore.appendSnapshot(spark, deltaDs, dir, "snap-delta", cfg)
    assert(retried.manifest.complete && retried.manifest.snapshotId == "snap-delta")
    val merged = IndexStore.load(spark, dir)
    val fullOracle = OracleBM25.corpus(baseTurns ++ deltaTurns, cfg.analyzer)
    assert(merged.manifest.docCount == fullOracle.n)
    Seq("term0000 term0001", "term0003 term0007").foreach { q =>
      assert(topFor(q, merged) == OracleBM25.topK(fullOracle, q, 10, cfg.analyzer),
        s"post-retry mismatch for [$q]")
    }
  }

  test("compact: collapses base+delta dirs to one, answers unchanged, crash-safe") {
    val baseTurns = shiftConvs(TranscriptGen.turns(seed = 33, nConvs = 25), "a-")
    val deltaTurns = shiftConvs(TranscriptGen.turns(seed = 34, nConvs = 15), "b-")
    val dir = Files.createTempDirectory("graft-compact").toString
    val baseDs = spark.createDataset(baseTurns)(org.apache.spark.sql.Encoders.product[Turn])
    val deltaDs = spark.createDataset(deltaTurns)(org.apache.spark.sql.Encoders.product[Turn])
    IndexStore.build(spark, baseDs, dir, snapshotId = "snap-base", cfg)
    IndexStore.appendSnapshot(spark, deltaDs, dir, "snap-delta", cfg)
    val before = IndexStore.load(spark, dir)
    assert(before.manifest.blockDirs.size == 2)
    val postingsBefore = before.blocks.collect()
      .flatMap(b => graft.index.Codec.decode(b.payload, b.n)
        .map(p => (b.term, p.docId, p.tf))).sorted.toSeq

    // crash just before the manifest rewrite: merged index keeps serving
    intercept[RuntimeException] {
      IndexStore.compact(spark, dir, cfg, failBeforeCommit = true)
    }
    assert(IndexStore.load(spark, dir).manifest.blockDirs.size == 2)

    val compacted = IndexStore.compact(spark, dir, cfg)
    assert(compacted.manifest.blockDirs.size == 1 && compacted.manifest.docDirs.size == 1)
    assert(compacted.manifest.docCount == before.manifest.docCount)
    assert(compacted.manifest.avgdl == before.manifest.avgdl)
    val idx = IndexStore.load(spark, dir)
    // identical posting content, now in contiguous (shard, term) runs
    val postingsAfter = idx.blocks.collect()
      .flatMap(b => graft.index.Codec.decode(b.payload, b.n)
        .map(p => (b.term, p.docId, p.tf))).sorted.toSeq
    assert(postingsAfter == postingsBefore)
    // and rank-identical answers over the merged corpus
    val oracle = OracleBM25.corpus(baseTurns ++ deltaTurns, cfg.analyzer)
    Seq("term0000 term0001", "term0003 term0007").foreach { q =>
      val want = OracleBM25.topK(oracle, q, 10, cfg.analyzer)
      val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
        idx.corpus, q, 10, cfg).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"post-compact mismatch for [$q]")
    }
    // compacting a single-dir index is a no-op
    assert(IndexStore.compact(spark, dir, cfg).manifest.blockDirs ==
      compacted.manifest.blockDirs)

    // regression: an append AFTER a compact must not reuse a staging name
    // that collides with (and deletes) the live termstats dir
    val delta2 = shiftConvs(TranscriptGen.turns(seed = 35, nConvs = 10), "c-")
    val delta2Ds = spark.createDataset(delta2)(org.apache.spark.sql.Encoders.product[Turn])
    IndexStore.appendSnapshot(spark, delta2Ds, dir, "snap-delta2", cfg)
    val idx3 = IndexStore.load(spark, dir)
    val oracle3 = OracleBM25.corpus(baseTurns ++ deltaTurns ++ delta2, cfg.analyzer)
    assert(idx3.manifest.docCount == oracle3.n)
    val got3 = QueryEngine.wandTopK(spark, idx3.blocks, idx3.termStats,
      idx3.corpus, "term0000 term0001", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got3 == OracleBM25.topK(oracle3, "term0000 term0001", 10, cfg.analyzer))
  }

  test("replayed OLD snapshot ids are no-ops (history guard, not latest-only)") {
    // a checkpoint-less stream restart replays batchIds from 0 after later
    // snapshots have committed — only a full-history guard catches those
    val baseTurns = shiftConvs(TranscriptGen.turns(seed = 51, nConvs = 12), "a-")
    val d1 = shiftConvs(TranscriptGen.turns(seed = 52, nConvs = 8), "b-")
    val d2 = shiftConvs(TranscriptGen.turns(seed = 53, nConvs = 6), "c-")
    val dir = Files.createTempDirectory("graft-incr-hist").toString
    val enc = org.apache.spark.sql.Encoders.product[Turn]
    IndexStore.build(spark, spark.createDataset(baseTurns)(enc), dir, "stream-batch-0", cfg)
    IndexStore.appendSnapshot(spark, spark.createDataset(d1)(enc), dir, "stream-batch-1", cfg)
    val m2 = IndexStore.appendSnapshot(spark, spark.createDataset(d2)(enc), dir, "stream-batch-2", cfg).manifest
    assert(m2.history == Seq("stream-batch-0", "stream-batch-1", "stream-batch-2"))
    // replay batch 1 (no longer the latest) — must not re-append
    val replay = IndexStore.appendSnapshot(spark, spark.createDataset(d1)(enc), dir, "stream-batch-1", cfg)
    assert(replay.manifest == m2, "replayed old snapshot must be a no-op")
    // replay batch 0 through the BUILD path — must not trigger a rebuild
    val replay0 = IndexStore.build(spark, spark.createDataset(baseTurns)(enc), dir, "stream-batch-0", cfg)
    assert(replay0.manifest == m2, "replayed first snapshot must not rebuild")
    val oracle = OracleBM25.corpus(baseTurns ++ d1 ++ d2, cfg.analyzer)
    assert(IndexStore.load(spark, dir).manifest.docCount == oracle.n)
  }

  test("orphaned staging dirs from a crashed append are swept by the next commit") {
    val baseTurns = shiftConvs(TranscriptGen.turns(seed = 54, nConvs = 12), "a-")
    val d1 = shiftConvs(TranscriptGen.turns(seed = 55, nConvs = 8), "b-")
    val d2 = shiftConvs(TranscriptGen.turns(seed = 56, nConvs = 6), "c-")
    val dir = Files.createTempDirectory("graft-incr-orphan").toString
    val enc = org.apache.spark.sql.Encoders.product[Turn]
    IndexStore.build(spark, spark.createDataset(baseTurns)(enc), dir, "s0", cfg)
    IndexStore.appendSnapshot(spark, spark.createDataset(d1)(enc), dir, "s1", cfg)
    // crash an append after staging (gen 2 dirs exist, manifest untouched)
    intercept[RuntimeException] {
      IndexStore.appendSnapshot(spark, spark.createDataset(d2)(enc), dir, "s2-crashed", cfg,
        failBeforeCommit = true)
    }
    assert(new java.io.File(s"$dir/delta-g2").exists(), "staging should survive the crash")
    // a compact (not a retry of the same append) advances dirGen past the
    // crashed generation — the commit must sweep the now-unreachable orphans
    IndexStore.compact(spark, dir, cfg)
    assert(!new java.io.File(s"$dir/delta-g2").exists(), "orphan delta-g2 not swept")
    assert(!new java.io.File(s"$dir/termstats-g2").exists(), "orphan termstats-g2 not swept")
    // index unharmed and still exact
    val idx = IndexStore.load(spark, dir)
    val oracle = OracleBM25.corpus(baseTurns ++ d1, cfg.analyzer)
    assert(idx.manifest.docCount == oracle.n)
    val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "term0000 term0001", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == OracleBM25.topK(oracle, "term0000 term0001", 10, cfg.analyzer))
    // and the index stays appendable afterwards
    IndexStore.appendSnapshot(spark, spark.createDataset(d2)(enc), dir, "s2", cfg)
    val oracle2 = OracleBM25.corpus(baseTurns ++ d1 ++ d2, cfg.analyzer)
    assert(IndexStore.load(spark, dir).manifest.docCount == oracle2.n)
  }

  test("append is idempotent under at-least-once retry (same snapshotId = no-op)") {
    val baseTurns = shiftConvs(TranscriptGen.turns(seed = 36, nConvs = 15), "a-")
    val deltaTurns = shiftConvs(TranscriptGen.turns(seed = 37, nConvs = 10), "b-")
    val dir = Files.createTempDirectory("graft-incr-idem").toString
    val baseDs = spark.createDataset(baseTurns)(org.apache.spark.sql.Encoders.product[Turn])
    val deltaDs = spark.createDataset(deltaTurns)(org.apache.spark.sql.Encoders.product[Turn])
    IndexStore.build(spark, baseDs, dir, snapshotId = "snap-base", cfg)
    val first = IndexStore.appendSnapshot(spark, deltaDs, dir, "snap-delta", cfg)
    // a foreachBatch retry re-delivers the committed batch: must not
    // double-append (docCount inflation, duplicated docs, doubled df)
    val retry = IndexStore.appendSnapshot(spark, deltaDs, dir, "snap-delta", cfg)
    assert(retry.manifest.docCount == first.manifest.docCount)
    assert(retry.manifest.blockDirs == first.manifest.blockDirs)
    // and the POSTING CONTENT is untouched — manifest equality alone would
    // miss a retry that re-appended rows into the existing delta dirs
    val idx = IndexStore.load(spark, dir)
    val oracle = OracleBM25.corpus(baseTurns ++ deltaTurns, cfg.analyzer)
    val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "term0000 term0001", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == OracleBM25.topK(oracle, "term0000 term0001", 10, cfg.analyzer))
  }

  test("degenerate corpora: empty build, empty delta no-op, all-stopword delta") {
    import java.sql.Timestamp
    val enc = org.apache.spark.sql.Encoders.product[Turn]
    val dir = Files.createTempDirectory("graft-degenerate").toString
    val blank = Seq(Turn("c0", 0, "user", "   ", "", new Timestamp(0L)),
      Turn("c0", 1, "user", "", "", new Timestamp(1L)))
    // build over a corpus with ZERO indexable turns: loadable, empty answers
    val r0 = IndexStore.build(spark, spark.createDataset(blank)(enc), dir, "snap-empty", cfg)
    assert(r0.manifest.complete && r0.manifest.docCount == 0)
    val idx0 = IndexStore.load(spark, dir)
    assert(idx0.blocks.isEmpty && idx0.docs.isEmpty)
    assert(QueryEngine.wandTopK(spark, idx0.blocks, idx0.termStats,
      idx0.corpus, "term0000", 5, cfg).collect().isEmpty)

    // appending onto the empty base behaves like a fresh build
    val real = TranscriptGen.turns(seed = 44, nConvs = 10)
    IndexStore.appendSnapshot(spark, spark.createDataset(real)(enc), dir, "snap-real", cfg)
    val o1 = OracleBM25.corpus(real, cfg.analyzer)
    assert(IndexStore.load(spark, dir).manifest.docCount == o1.n)

    // an all-stopword delta adds a token-less doc (counted in N/avgdl)
    // without producing any posting blocks — index must stay loadable
    val stop = Seq(Turn("zz-c", 0, "user", "the and of is a", "", new Timestamp(2L)))
    IndexStore.appendSnapshot(spark, spark.createDataset(stop)(enc), dir, "snap-stop", cfg)
    val idx2 = IndexStore.load(spark, dir)
    val o2 = OracleBM25.corpus(real ++ stop, cfg.analyzer)
    assert(idx2.manifest.docCount == o2.n)
    assert(idx2.manifest.avgdl == o2.avgdl)
    val got = QueryEngine.wandTopK(spark, idx2.blocks, idx2.termStats,
      idx2.corpus, "term0000 term0001", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == OracleBM25.topK(o2, "term0000 term0001", 10, cfg.analyzer))

    // a delta with zero indexable turns is a committed no-op
    val r3 = IndexStore.appendSnapshot(spark,
      spark.createDataset(blank.map(t => t.copy(conv_id = "zzz-" + t.conv_id)))(enc),
      dir, "snap-blank", cfg)
    assert(r3.manifest.docCount == idx2.manifest.docCount)
    assert(r3.manifest.snapshotId == "snap-stop")
  }

  test("config-change rebuild survives a crash: no stale lineage resurrects missing shards") {
    val turns = TranscriptGen.turns(seed = 38, nConvs = 20)
    val ds = spark.createDataset(turns)(org.apache.spark.sql.Encoders.product[Turn])
    val dir = Files.createTempDirectory("graft-cfg-crash").toString
    IndexStore.build(spark, ds, dir, snapshotId = "same-id", cfg)
    // rebuild under the SAME snapshotId with different params, crashing
    // after 2 shard commits — the stale complete manifest must not seed
    // the new lineage or the resume would skip never-written shards
    val cfg2 = cfg.copy(params = graft.model.Bm25Params(k1 = 1.5))
    intercept[RuntimeException] {
      IndexStore.build(spark, ds, dir, snapshotId = "same-id", cfg2,
        commitBatchShards = 1, failAfterShards = Some(2))
    }
    val resumed = IndexStore.build(spark, ds, dir, snapshotId = "same-id", cfg2)
    assert(resumed.manifest.complete && resumed.manifest.k1 == 1.5)
    val ids = resumed.manifest.shards.map(_.shardId)
    assert(ids.distinct.size == ids.size, "duplicate shard lineage entries")
    // every document is queryable => no shard silently missing
    val idx = IndexStore.load(spark, dir)
    val oracle = OracleBM25.corpus(turns, cfg2.analyzer)
    val p2 = graft.model.Bm25Params(k1 = 1.5)
    val want = OracleBM25.topK(oracle, "term0000", 10, cfg2.analyzer, p2)
    val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "term0000", 10, cfg2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "resumed config-change rebuild lost documents")
  }

  test("lifecycle fuzz: random append/delete/compact/crash-retry sequences stay oracle-exact") {
    val enc = org.apache.spark.sql.Encoders.product[Turn]
    def ds(ts: Seq[Turn]) = spark.createDataset(ts)(enc)
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed * 991L)
      // alternate positional-ness so append/compact exercise the position
      // re-block paths under random crash/retry sequences too
      val cfg = IncrementalSpec.this.cfg.copy(storePositions = seed % 2 == 0)
      val dir = Files.createTempDirectory(s"graft-fuzz-$seed").toString
      var corpus = shiftConvs(TranscriptGen.turns(seed * 7L, nConvs = 12), f"a$seed%02d-")
      var dropped = Set.empty[Long]
      // the lineage the manifest records must be what its live blocks hash to
      def checkLineage(step: String): Unit =
        assert(IndexStore.readManifest(dir).get.shards ==
          IndexStore.shardLineage(IndexStore.load(spark, dir).blocks)._1,
          s"seed=$seed $step: recorded shard lineage differs from the blocks'")
      IndexStore.build(spark, ds(corpus), dir, s"fuzz-$seed-base", cfg)
      checkLineage("build")
      (1 to 6).foreach { i =>
        rnd.nextInt(4) match {
          case 0 => // append, sometimes crashing just before the commit first
            val delta = shiftConvs(
              TranscriptGen.turns(seed * 100L + i, nConvs = 4 + rnd.nextInt(6)),
              f"b$seed%02d$i%02d-")
            if (rnd.nextBoolean()) intercept[RuntimeException] {
              IndexStore.appendSnapshot(spark, ds(delta), dir, s"fuzz-$seed-$i", cfg,
                failBeforeCommit = true)
            }
            IndexStore.appendSnapshot(spark, ds(delta), dir, s"fuzz-$seed-$i", cfg)
            corpus ++= delta
          case 1 => // compact, sometimes crashing just before the commit first
            val m = IndexStore.readManifest(dir).get
            val wouldRun = m.blockDirs.size > 1 || m.docDirs.size > 1 ||
              m.tombstoneDirs.nonEmpty
            if (wouldRun && rnd.nextBoolean()) intercept[RuntimeException] {
              IndexStore.compact(spark, dir, cfg, failBeforeCommit = true)
            }
            IndexStore.compact(spark, dir, cfg)
          case 2 => // zero-indexable delta: must be a committed no-op
            val before = IndexStore.readManifest(dir).get
            val r = IndexStore.appendSnapshot(spark, ds(Seq.empty[Turn]), dir,
              s"fuzz-$seed-noop$i", cfg)
            assert(r.manifest.docCount == before.docCount)
          case 3 => // delete a random slice of the LIVE ids (conv prefixes
            // keep global sort == arrival order, so oracle ids are dense
            // over `corpus`), sometimes crashing before the commit first
            val liveIds = OracleBM25.corpus(corpus, cfg.analyzer)
              .docs.map(_._1).filterNot(dropped.contains)
            val slice = liveIds.filter(_ => rnd.nextDouble() < 0.25).toSet
            if (slice.nonEmpty) {
              val dropDf = slice.toSeq.toDF("docId")
              if (rnd.nextBoolean()) intercept[RuntimeException] {
                IndexStore.deleteDocs(spark, dropDf, dir, s"fuzz-$seed-del$i", cfg,
                  failBeforeCommit = true)
              }
              IndexStore.deleteDocs(spark, dropDf, dir, s"fuzz-$seed-del$i", cfg)
              dropped ++= slice
            }
        }
        checkLineage(s"step $i")
      }
      val idx = IndexStore.load(spark, dir)
      val full = OracleBM25.corpus(corpus, cfg.analyzer)
      val oracle =
        if (dropped.isEmpty) full
        else {
          val docs = full.docs.filterNot { case (id, _) => dropped.contains(id) }
          val postings = full.postings
            .map { case (t, m) => t -> m.filterNot { case (id, _) => dropped.contains(id) } }
            .filter(_._2.nonEmpty)
          val n = docs.size.toLong
          val avgdl = if (n == 0) 0.0 else docs.map(d => full.dl(d._1)).sum.toDouble / n
          OracleBM25.Corpus(docs, full.dl, postings, n, avgdl)
        }
      assert(idx.manifest.docCount == oracle.n, s"seed=$seed docCount")
      assert(idx.manifest.avgdl == oracle.avgdl, s"seed=$seed avgdl")
      Seq("term0000 term0001", "term0002", "term0010 term0030").foreach { q =>
        val want = OracleBM25.topK(oracle, q, 10, cfg.analyzer)
        val got = QueryEngine.wandTopK(spark, idx.blocks, idx.termStats,
          idx.corpus, q, 10, cfg, idx.tombstoneSet)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == want, s"seed=$seed q=[$q]")
      }
    }
  }

  test("build refuses a stale index when analyzer/params changed under the same snapshotId") {
    val turns = TranscriptGen.turns(seed = 41, nConvs = 10)
    val ds = spark.createDataset(turns)(org.apache.spark.sql.Encoders.product[Turn])
    val dir = Files.createTempDirectory("graft-cfg-mismatch").toString
    IndexStore.build(spark, ds, dir, snapshotId = "same-id", cfg)
    val before = IndexStore.readManifest(dir).get
    assert(before.k1 == cfg.params.k1)
    // same snapshotId, different BM25 params: must REBUILD, not early-return
    val cfg2 = cfg.copy(params = graft.model.Bm25Params(k1 = 1.5))
    val rebuilt = IndexStore.build(spark, ds, dir, snapshotId = "same-id", cfg2)
    assert(rebuilt.manifest.k1 == 1.5, "stale index returned despite param change")
  }
}
