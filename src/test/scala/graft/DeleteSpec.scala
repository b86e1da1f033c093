package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Codec, IndexBuilder, IndexStore}
import graft.model.Turn
import graft.query.QueryEngine
import TestKit.{spark, OracleBM25, TranscriptGen}

/** Delete/tombstone lifecycle: deletes applied to a LIVE index must answer
  * every query class (WAND, conjunctive, phrase) rank- and score-identical
  * to a from-scratch build over the surviving corpus, compose with appends
  * (id-space watermark), purge physically at compact, and keep readers
  * safe across compaction (grace window).
  */
class DeleteSpec extends AnyFunSuite {

  private val cfg = IndexBuilder.Config(docIdPartitions = 4, numShards = 8,
    storePositions = true)
  private val enc = org.apache.spark.sql.Encoders.product[Turn]
  private def ds(ts: Seq[Turn]) = spark.createDataset(ts)(enc)
  private def dropDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("docId")
  }
  private def shiftConvs(ts: Seq[Turn], prefix: String): Seq[Turn] =
    ts.map(t => t.copy(conv_id = prefix + t.conv_id))

  /** Survivor-stats oracle: the full corpus's dense ids KEPT (deletes never
    * move ids), stats recomputed over the survivors only — exactly what a
    * from-scratch build over the surviving docs would score, modulo ids.
    */
  private def dropFromCorpus(c: OracleBM25.Corpus, drop: Set[Long]): OracleBM25.Corpus = {
    val docs = c.docs.filterNot { case (id, _) => drop.contains(id) }
    val postings = c.postings
      .map { case (t, m) => t -> m.filterNot { case (id, _) => drop.contains(id) } }
      .filter(_._2.nonEmpty)
    val n = docs.size.toLong
    val avgdl = if (n == 0) 0.0 else docs.map(d => c.dl(d._1)).sum.toDouble / n
    OracleBM25.Corpus(docs, c.dl, postings, n, avgdl)
  }

  private def wandTop(idx: IndexStore.Index, q: String, k: Int): Seq[(Long, Double)] =
    QueryEngine.wandTopK(spark, idx.blocks, idx.termStats, idx.corpus, q, k, cfg,
      idx.tombstoneSet).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("delete: WAND/conjunctive/phrase all score like a survivor-only rebuild") {
    val turns = TranscriptGen.turns(seed = 61, nConvs = 40)
    val dir = Files.createTempDirectory("graft-del").toString
    IndexStore.build(spark, ds(turns), dir, "d-base", cfg)
    val full = OracleBM25.corpus(turns, cfg.analyzer)
    val drop = full.docs.map(_._1).filter(_ % 7 == 0).toSet
    assert(drop.nonEmpty)

    val r = IndexStore.deleteDocs(spark, dropDf(drop.toSeq), dir, "d-del", cfg)
    val survivors = dropFromCorpus(full, drop)
    assert(r.manifest.docCount == survivors.n, "live docCount drifted")
    assert(r.manifest.avgdl == survivors.avgdl, "live avgdl drifted")
    assert(r.manifest.nextDocId == full.n, "delete must not lower the id watermark")

    val idx = IndexStore.load(spark, dir)
    // the docs view hides dropped docs
    assert(idx.docs.collect().map(_.docId).toSet == survivors.docs.map(_._1).toSet)
    // term stats are exactly the survivors'
    val ts = idx.termStats.collect().map(t => t.term -> (t.df, t.idf)).toMap
    survivors.postings.foreach { case (t, m) =>
      assert(ts(t)._1 == m.size, s"df drift for $t")
      assert(ts(t)._2 == graft.query.Bm25.idf(survivors.n, m.size), s"idf drift for $t")
    }
    assert(ts.size == survivors.postings.size, "vanished terms must leave the stats")

    Seq("term0000 term0001", "term0000", "term0003 term0007 term0010",
      "世界 café").foreach { q =>
      val want = OracleBM25.topK(survivors, q, 10, cfg.analyzer)
      assert(wandTop(idx, q, 10) == want, s"post-delete WAND mismatch for [$q]")
      assert(want.forall { case (d, _) => !drop.contains(d) })
    }
    // conjunctive respects tombstones (heap slots + intersect)
    val andGot = QueryEngine.conjunctiveTopK(spark, idx.blocks, idx.termStats,
      idx.corpus, "term0000 term0001", 1000, cfg, idx.tombstoneSet)
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
    assert(andGot.nonEmpty && andGot.forall { case (d, _) => !drop.contains(d) })
    andGot.foreach { case (d, _) =>
      assert(survivors.postings("term0000").contains(d) &&
        survivors.postings("term0001").contains(d))
    }
    // phrase df/tf and ranks follow the survivor corpus
    val pGot = QueryEngine.phraseTopK(spark, idx.blocks, idx.corpus,
      "term0000 term0001", 10, cfg, 0, idx.tombstoneSet)
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
    val pWant = OracleBM25.phraseTopK(survivors, "term0000 term0001", 0, 10, cfg)
    assert(pWant.nonEmpty, "vacuous phrase fixture")
    assert(pGot == pWant, "post-delete phrase mismatch")
  }

  test("delete is idempotent; overlapping re-delete never double-subtracts") {
    val turns = TranscriptGen.turns(seed = 62, nConvs = 20)
    val dir = Files.createTempDirectory("graft-del-idem").toString
    IndexStore.build(spark, ds(turns), dir, "i-base", cfg)
    val full = OracleBM25.corpus(turns, cfg.analyzer)
    val dropA = full.docs.map(_._1).filter(_ % 5 == 0)
    val first = IndexStore.deleteDocs(spark, dropDf(dropA), dir, "i-del-a", cfg)
    // same snapshotId retried (at-least-once delivery): byte-level no-op
    val retry = IndexStore.deleteDocs(spark, dropDf(dropA), dir, "i-del-a", cfg)
    assert(retry.manifest == first.manifest)
    // overlapping NEW delete: already-tombstoned ids must not re-subtract
    val dropB = full.docs.map(_._1).filter(id => id % 5 == 0 || id % 11 == 0)
    val second = IndexStore.deleteDocs(spark, dropDf(dropB), dir, "i-del-b", cfg)
    val survivors = dropFromCorpus(full, dropB.toSet)
    assert(second.manifest.docCount == survivors.n)
    assert(second.manifest.avgdl == survivors.avgdl)
    val idx = IndexStore.load(spark, dir)
    assert(wandTop(idx, "term0000 term0001", 10) ==
      OracleBM25.topK(survivors, "term0000 term0001", 10, cfg.analyzer))
    // deleting only unknown/already-dead ids is a no-op (no empty staging)
    val noop = IndexStore.deleteDocs(spark, dropDf(Seq(999999L) ++ dropA.take(3)),
      dir, "i-del-noop", cfg)
    assert(noop.manifest == second.manifest)
  }

  test("append after delete: ids continue at the watermark, queries stay exact") {
    val base = shiftConvs(TranscriptGen.turns(seed = 63, nConvs = 20), "a-")
    val delta = shiftConvs(TranscriptGen.turns(seed = 64, nConvs = 12), "b-")
    val dir = Files.createTempDirectory("graft-del-app").toString
    IndexStore.build(spark, ds(base), dir, "x-base", cfg)
    val fullBase = OracleBM25.corpus(base, cfg.analyzer)
    val drop = fullBase.docs.map(_._1).filter(_ % 3 == 0).toSet
    IndexStore.deleteDocs(spark, dropDf(drop.toSeq), dir, "x-del", cfg)
    IndexStore.appendSnapshot(spark, ds(delta), dir, "x-delta", cfg)
    val idx = IndexStore.load(spark, dir)
    // appended ids start at the watermark — never reusing a LIVE id
    val ids = idx.docs.collect().map(_.docId).toSet
    assert(ids.size == fullBase.n.toInt - drop.size +
      OracleBM25.corpus(delta, cfg.analyzer).n.toInt)
    assert(idx.manifest.nextDocId > fullBase.n)
    // oracle: combined corpus (delta ids continue after base's) minus drops
    val combined = OracleBM25.corpus(base ++ delta, cfg.analyzer)
    val survivors = dropFromCorpus(combined, drop)
    assert(idx.manifest.docCount == survivors.n)
    assert(idx.manifest.avgdl == survivors.avgdl)
    Seq("term0000 term0001", "term0002 term0005").foreach { q =>
      assert(wandTop(idx, q, 10) == OracleBM25.topK(survivors, q, 10, cfg.analyzer),
        s"delete+append mismatch for [$q]")
    }
  }

  test("compact purges tombstones physically; answers unchanged; crash-safe") {
    val turns = TranscriptGen.turns(seed = 65, nConvs = 25)
    val dir = Files.createTempDirectory("graft-del-cmp").toString
    IndexStore.build(spark, ds(turns), dir, "c-base", cfg)
    val full = OracleBM25.corpus(turns, cfg.analyzer)
    val drop = full.docs.map(_._1).filter(_ % 4 == 1).toSet
    IndexStore.deleteDocs(spark, dropDf(drop.toSeq), dir, "c-del", cfg)
    val before = IndexStore.load(spark, dir)
    assert(before.manifest.tombstoneDirs.nonEmpty)
    val wantQ = wandTop(before, "term0000 term0001", 10)

    // crash just before the compact commit: tombstoned index keeps serving
    intercept[RuntimeException] {
      IndexStore.compact(spark, dir, cfg, failBeforeCommit = true)
    }
    assert(IndexStore.load(spark, dir).manifest.tombstoneDirs.nonEmpty)

    val compacted = IndexStore.compact(spark, dir, cfg)
    assert(compacted.manifest.tombstoneDirs.isEmpty, "compact must clear tombstones")
    val idx = IndexStore.load(spark, dir)
    assert(idx.tombstoneSet.isEmpty)
    // physically gone: no dropped docId survives in any decoded block or doc
    val docIds = idx.blocks.collect()
      .flatMap(b => Codec.decode(b.payload, b.n).map(_.docId)).toSet
    assert(docIds.intersect(drop).isEmpty, "tombstoned postings survived compact")
    assert(idx.docs.collect().map(_.docId).toSet.intersect(drop).isEmpty)
    // stats were already exact; answers identical (no tombstone array needed)
    assert(QueryEngine.wandTopK(spark, idx.blocks, idx.termStats, idx.corpus,
      "term0000 term0001", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == wantQ)
    // phrase positions survive the purge too
    val survivors = dropFromCorpus(full, drop)
    val pWant = OracleBM25.phraseTopK(survivors, "term0000 term0001", 0, 10, cfg)
    val pGot = QueryEngine.phraseTopK(spark, idx.blocks, idx.corpus,
      "term0000 term0001", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pGot == pWant)
  }

  test("delete crash-safety: a crash before the commit leaves the base untouched") {
    val turns = TranscriptGen.turns(seed = 66, nConvs = 15)
    val dir = Files.createTempDirectory("graft-del-crash").toString
    IndexStore.build(spark, ds(turns), dir, "k-base", cfg)
    val full = OracleBM25.corpus(turns, cfg.analyzer)
    val drop = full.docs.map(_._1).filter(_ % 2 == 0)
    intercept[RuntimeException] {
      IndexStore.deleteDocs(spark, dropDf(drop), dir, "k-del", cfg,
        failBeforeCommit = true)
    }
    val after = IndexStore.load(spark, dir)
    assert(after.manifest.snapshotId == "k-base" && after.manifest.docCount == full.n)
    assert(wandTop(after, "term0000", 10) ==
      OracleBM25.topK(full, "term0000", 10, cfg.analyzer))
    // retry commits cleanly
    val retried = IndexStore.deleteDocs(spark, dropDf(drop), dir, "k-del", cfg)
    assert(retried.manifest.docCount == full.n - drop.size)
  }

  test("reader survives a compaction (grace window); dirs reclaimed at the NEXT commit") {
    val base = shiftConvs(TranscriptGen.turns(seed = 67, nConvs = 15), "a-")
    val delta = shiftConvs(TranscriptGen.turns(seed = 68, nConvs = 8), "b-")
    val delta2 = shiftConvs(TranscriptGen.turns(seed = 69, nConvs = 5), "c-")
    val dir = Files.createTempDirectory("graft-grace").toString
    IndexStore.build(spark, ds(base), dir, "g-base", cfg)
    IndexStore.appendSnapshot(spark, ds(delta), dir, "g-delta", cfg)

    // a serving session holds a pre-compaction handle...
    val reader = IndexStore.load(spark, dir)
    val preDirs = (reader.manifest.blockDirs ++ reader.manifest.docDirs)
      .map(_.split('/').head).distinct
    val q = "term0000 term0001"
    val want = wandTop(reader, q, 10)

    // ...the writer compacts underneath it
    val compacted = IndexStore.compact(spark, dir, cfg)
    assert(compacted.manifest.graceDirs.nonEmpty)
    preDirs.foreach(d => assert(new java.io.File(s"$dir/$d").exists(),
      s"grace dir $d deleted at compact commit — readers would break"))
    // the OLD handle still answers, identically
    assert(wandTop(reader, q, 10) == want, "pre-compaction reader broke mid-scan")
    // a fresh load answers identically too
    assert(wandTop(IndexStore.load(spark, dir), q, 10) == want)

    // the NEXT commit ends the grace window and reclaims the dirs
    IndexStore.appendSnapshot(spark, ds(delta2), dir, "g-delta2", cfg)
    compacted.manifest.graceDirs.foreach(d =>
      assert(!new java.io.File(s"$dir/$d").exists(), s"grace dir $d leaked past the next commit"))
    val oracle = OracleBM25.corpus(base ++ delta ++ delta2, cfg.analyzer)
    assert(wandTop(IndexStore.load(spark, dir), q, 10) ==
      OracleBM25.topK(oracle, q, 10, cfg.analyzer))
  }

  /** Corpus from explicit (id, text) pairs (update oracles). */
  private def corpusFromIds(docs: Seq[(Long, String)]): OracleBM25.Corpus =
    OracleBM25.corpusFromDocs(docs.toVector, cfg.analyzer)

  test("update = delete + re-append: new text, new ids at the watermark, exact stats") {
    val turns = TranscriptGen.turns(seed = 72, nConvs = 15)
    val dir = Files.createTempDirectory("graft-upd").toString
    IndexStore.build(spark, ds(turns), dir, "u-base", cfg)
    val full = OracleBM25.corpus(turns, cfg.analyzer)

    // rewrite every turn of one conversation (deterministic redaction)
    val updConv = "conv-000003"
    val newVersions = turns.filter(t => t.conv_id == updConv &&
      t.text != null && t.text.trim.nonEmpty)
      .map(t => t.copy(text = "redacted " + t.text.toUpperCase(java.util.Locale.ROOT)))
    assert(newVersions.nonEmpty)
    val r = IndexStore.updateDocs(spark, ds(newVersions), dir, "u-upd", cfg)
    assert(r.manifest.docCount == full.n, "update must not change the live doc count")

    val idx = IndexStore.load(spark, dir)
    val byKey = idx.docs.collect().map(d => (d.conv_id, d.turn_idx) -> d).toMap
    // old ids of updated turns are gone; new ids start at the watermark
    val updatedKeys = newVersions.map(t => (t.conv_id, t.turn_idx)).toSet
    updatedKeys.foreach { k =>
      val d = byKey(k)
      assert(d.docId >= full.n, s"updated turn $k kept a recycled id ${d.docId}")
      assert(d.text.startsWith("redacted "), s"updated turn $k serves stale text")
    }
    // oracle: unchanged docs keep ids, updated docs get watermark ids in
    // (conv_id, turn_idx) order. full.docs ids ARE indices into the
    // indexable turns sorted by (conv_id, turn_idx) — same assignment.
    val sortedIndexable = turns.filter(x => x.text != null && x.text.trim.nonEmpty)
      .sortBy(x => (x.conv_id, x.turn_idx))
    val keep = full.docs.filterNot { case (id, _) =>
      val t = sortedIndexable(id.toInt)
      updatedKeys.contains((t.conv_id, t.turn_idx))
    }
    val added = newVersions.sortBy(t => (t.conv_id, t.turn_idx))
      .zipWithIndex.map { case (t, i) => (full.n + i, t.text) }
    val oracle = corpusFromIds(keep ++ added)
    assert(idx.manifest.avgdl == oracle.avgdl)
    Seq("term0000 term0001", "redacted", "term0002").foreach { q =>
      val want = OracleBM25.topK(oracle, q, 10, cfg.analyzer)
      assert(wandTop(idx, q, 10) == want, s"post-update mismatch for [$q]")
    }
    assert(wandTop(idx, "redacted", 10).nonEmpty)

    // crash BETWEEN the two steps: retry converges (delete no-ops via
    // history, append runs), full-update idempotence afterwards
    val upd2 = newVersions.map(t => t.copy(text = t.text + " twice"))
    intercept[RuntimeException] {
      IndexStore.updateDocs(spark, ds(upd2), dir, "u-upd2", cfg, failBetweenSteps = true)
    }
    val retried = IndexStore.updateDocs(spark, ds(upd2), dir, "u-upd2", cfg)
    assert(retried.manifest.docCount == full.n)
    val again = IndexStore.updateDocs(spark, ds(upd2), dir, "u-upd2", cfg)
    assert(again.manifest == retried.manifest, "committed update must be a no-op on retry")
    val idx2 = IndexStore.load(spark, dir)
    assert(wandTop(idx2, "twice", 5).nonEmpty)
  }

  test("update guards: config mismatch fails BEFORE the delete commits; duplicate keys rejected") {
    val turns = TranscriptGen.turns(seed = 75, nConvs = 8)
    val dir = Files.createTempDirectory("graft-upd-guard").toString
    IndexStore.build(spark, ds(turns), dir, "g-base", cfg)
    val before = IndexStore.readManifest(dir).get
    val newV = turns.filter(t => t.text != null && t.text.trim.nonEmpty).take(3)
      .map(t => t.copy(text = "changed " + t.text))
    // positional/param mismatch must fail the WHOLE update up front — if
    // the delete step committed first, the old versions would be
    // tombstoned forever with an append that can never succeed
    intercept[IllegalArgumentException] {
      IndexStore.updateDocs(spark, ds(newV), dir, "g-upd",
        cfg.copy(storePositions = !cfg.storePositions))
    }
    assert(IndexStore.readManifest(dir).get == before,
      "a refused update must not have committed its delete step")
    // duplicate positional identities in newVersions are rejected (both
    // would be appended -> duplicate live identity)
    intercept[IllegalArgumentException] {
      IndexStore.updateDocs(spark, ds(newV ++ newV.take(1)), dir, "g-upd2", cfg)
    }
    assert(IndexStore.readManifest(dir).get == before)
    // and the clean update still works afterwards
    val r = IndexStore.updateDocs(spark, ds(newV), dir, "g-upd3", cfg)
    assert(r.manifest.docCount == before.docCount)
  }

  test("deleting every document leaves a loadable, empty-answering index") {
    val turns = TranscriptGen.turns(seed = 70, nConvs = 8)
    val dir = Files.createTempDirectory("graft-del-all").toString
    IndexStore.build(spark, ds(turns), dir, "e-base", cfg)
    val full = OracleBM25.corpus(turns, cfg.analyzer)
    val r = IndexStore.deleteDocs(spark, dropDf(full.docs.map(_._1)), dir, "e-del", cfg)
    assert(r.manifest.docCount == 0 && r.manifest.nextDocId == full.n)
    val idx = IndexStore.load(spark, dir)
    assert(idx.docs.isEmpty)
    assert(wandTop(idx, "term0000", 5).isEmpty)
    // an append afterwards continues the id space (never reuses dead ids)
    val more = shiftConvs(TranscriptGen.turns(seed = 71, nConvs = 5), "zz-")
    IndexStore.appendSnapshot(spark, ds(more), dir, "e-more", cfg)
    val idx2 = IndexStore.load(spark, dir)
    val liveIds = idx2.docs.collect().map(_.docId)
    assert(liveIds.nonEmpty && liveIds.min >= full.n, "dead ids were reused")
    // compact purges everything dead; index still exact for the new corpus
    IndexStore.compact(spark, dir, cfg)
    val idx3 = IndexStore.load(spark, dir)
    assert(idx3.tombstoneSet.isEmpty)
    val oracleMoreIds = idx3.docs.collect().map(_.docId).toSet
    assert(oracleMoreIds == liveIds.toSet)
  }

  test("requireServable: fresh and one-commit-behind handles pass; two behind fails") {
    val turns = TranscriptGen.turns(seed = 66, nConvs = 20)
    val dir = Files.createTempDirectory("graft-stale").toString
    IndexStore.build(spark, ds(turns), dir, "s-base", cfg)
    val handle = IndexStore.load(spark, dir)
    handle.requireServable() // fresh

    // ONE commit lands (a delete rewrites termstats into a new dir): the
    // superseded dirs are grace-protected, the handle must stay servable
    IndexStore.deleteDocs(spark, dropDf(Seq(0L, 1L)), dir, "s-del", cfg)
    handle.requireServable()
    val afterOne = IndexStore.load(spark, dir)

    // a SECOND commit ends the first one's grace window: the original
    // handle's termstats dir is gone — fail fast with the clear diagnosis
    IndexStore.appendSnapshot(spark, ds(shiftConvs(turns.take(5), "zz-")), dir,
      "s-app", cfg)
    val ex = intercept[IllegalStateException](handle.requireServable())
    assert(ex.getMessage.contains("stale index handle"), ex.getMessage)
    // the one-commit-behind handle is exactly at the grace boundary: still ok
    afterOne.requireServable()
    IndexStore.load(spark, dir).requireServable()
  }
}
