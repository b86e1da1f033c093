package graft.index

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Extraction, Formats, JInt, JObject}
import org.json4s.jackson.JsonMethods

import graft.functions.Analyzer
import graft.model._
import graft.plans.DecodeBlock

/** On-disk index layout + snapshot/lineage manifest (SURVEY.md §7.2, §7.6).
  *
  * ```
  * <indexDir>/
  *   manifest.json          committed atomically (tmp + rename); the SINGLE
  *                          source of truth for which data dirs are live
  *   docs/                  (docId, conv_id, turn_idx, role, text, tool, ts)
  *   blocks/shardId=K/      encoded PostingBlock rows (dynamic partitions)
  *   termstats-v0/          (term, df, idf) of the build
  *   delta-gN/{blocks,docs} an appended snapshot
  *   termstats-gN/          (term, df, idf) rewritten by an append or delete
  *   tombstones-gN/         (docId) of every deleted doc since the last compact
  *   compact-gN/{blocks,docs} a compaction's output
  * ```
  *
  * N is the manifest's monotonic `dirGen`: every append, delete and compact
  * stages its output under a fresh generation, and the manifest points at
  * the live dirs of each kind.
  *
  * Resumability (north rule "resumable from snapshot checkpoints with
  * per-partition lineage"): shards are committed one batch at a time — write
  * the shard's block files, then rewrite the manifest listing it as
  * committed. A crashed build leaves a manifest whose `shards` list is a
  * prefix of the plan; `build` on the same (deterministic) snapshot skips
  * committed shards and encodes only the rest. Term stats are (re)written
  * unconditionally on every build pass, so a crash between the stats job
  * and the final manifest can never finalize an index with missing idf.
  * Blocks are deterministic functions of the sorted postings, so a resumed
  * index is logically byte-identical to an uninterrupted one (checksummed
  * over payload bytes).
  *
  * Appends are crash-safe by staging: delta blocks/docs and the merged
  * term stats land in FRESH dirs that the live manifest does not reference;
  * the commit is one atomic manifest rewrite. A crash mid-append leaves the
  * base index fully servable (orphan staging dirs are overwritten by the
  * retry), never a half-merged index.
  *
  * The reference's nearest analogue was `coalesce(1).write.text` of a JSON
  * stats blob (/root/reference/data_processing/Lexical_indexing/
  * bm25_precompute.py:68-75) with no commit protocol at all.
  */
object IndexStore {

  /** Bumped whenever the on-disk block/manifest schema changes; loaders
    * refuse (and callers rebuild) older layouts. v4: manifest carries the
    * live dir lists (blockDirs/docDirs/termstatsDir) for atomic appends.
    * v5: manifest records the committed snapshot-id history so appends are
    * idempotent against ANY replayed snapshot, not just the latest.
    * v6: blocks carry a `positions` column (varint position lists for
    * phrase queries; empty when built without storePositions) and the
    * manifest records positional-ness.
    * v7: deletes — the manifest carries `tombstoneDirs` (docIds dropped
    * from the live view, honored by every scan and purged at compact),
    * `nextDocId` (the id-space high-water mark, distinct from the live
    * docCount once deletes exist, so appended ids never collide with
    * survivors), and `graceDirs` (dirs superseded by the LAST commit, kept
    * on disk until the NEXT commit so concurrent readers holding the
    * previous manifest never hit missing files mid-scan). */
  val FormatVersion = 7

  /** Committed snapshot ids kept in the manifest for append idempotence.
    * A streaming source with a checkpoint replays at most the last
    * in-flight batch, so the cap only matters for checkpoint-less restarts
    * replaying from scratch — 10k covers any realistic replay window while
    * keeping the manifest small.
    */
  val SnapshotHistoryCap = 10000

  /** Bumped whenever the index CONTENT for identical input would change
    * (codec, tokenizer, docId assignment, block layout within a format) —
    * callers that cache built indexes keyed by snapshot fold this in so a
    * stale on-disk index from an older engine is rebuilt, not served.
    */
  val ContentVersion = 2

  /** Parquet codec pinned for every index write, independent of the
    * session default: block payloads are already delta+varint-compressed,
    * so heavier parquet-level codecs only add CPU — measured on this box
    * (alternating best-of-3, 2M turns): snappy 10.9 s, lz4 11.2 s, zstd
    * 12.5 s best build, identical output sizes.
    */
  val IndexCodec = "snappy"

  final case class ShardLineage(
      shardId: Int,
      postings: Long,
      blocks: Long,
      payloadBytes: Long,
      checksum: Long
  )

  final case class Manifest(
      snapshotId: String,
      analyzer: String,
      k1: Double,
      b: Double,
      numShards: Int,
      shardSize: Long,
      blockSize: Int,
      docCount: Long,
      avgdl: Double,
      shards: Seq[ShardLineage],
      metrics: Map[String, Double],
      blockDirs: Seq[String],
      docDirs: Seq[String],
      termstatsDir: String,
      complete: Boolean,
      // committed snapshot ids (oldest first, capped at SnapshotHistoryCap)
      history: Seq[String] = Nil,
      // blocks carry term positions (phrase-query support)
      positional: Boolean = false,
      // id-space high-water mark: the next docId an append will assign.
      // Equal to docCount until the first delete; never decreases.
      nextDocId: Long = 0L,
      // dirs of tombstoned (deleted) docIds; scans drop these docs, compact
      // purges them physically. At most one dir (deletes merge-rewrite it).
      tombstoneDirs: Seq[String] = Nil,
      // dirs superseded by THIS manifest's commit, deleted only after the
      // NEXT commit — the one-generation grace window for live readers
      graceDirs: Seq[String] = Nil
  ) {
    /** Top-level dirs this manifest keeps on disk, grace-window dirs included. */
    def referencedDirs: Set[String] =
      (blockDirs ++ docDirs ++ Seq(termstatsDir) ++ tombstoneDirs ++ graceDirs)
        .filter(_.nonEmpty).map(_.split('/').head).toSet
  }

  // ------------------------------------------------------------- manifest IO

  private implicit val manifestFormats: Formats = DefaultFormats

  /** Writes `m` as JSON next to a `formatVersion` key (the `history` field
    * is stored under `snapshotHistory`), then renames it over
    * `manifest.json` atomically: the rename is the commit point of every
    * lifecycle step.
    */
  def writeManifest(dir: String, m: Manifest): Unit = {
    val fields = Extraction.decompose(m).transformField {
      case ("history", v) => ("snapshotHistory", v)
    }
    val json = JsonMethods.compact(JObject("formatVersion" -> JInt(FormatVersion)).merge(fields))
    val tmp = Paths.get(dir, "manifest.json.tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(dir, "manifest.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The manifest at `dir`; None when there is none or its `formatVersion`
    * is not [[FormatVersion]] (callers rebuild). Strict otherwise: a
    * missing field without a default, or a value of the wrong type, throws
    * naming the field.
    */
  def readManifest(dir: String): Option[Manifest] = {
    val p = Paths.get(dir, "manifest.json")
    if (!Files.exists(p)) return None
    val json = JsonMethods.parse(Files.readString(p))
    if (json \ "formatVersion" != JInt(FormatVersion)) None
    else Some(json.transformField { case ("snapshotHistory", v) => ("history", v) }
      .extract[Manifest])
  }

  /** The manifest's build/analysis config must match the caller's — a
    * caller that changed analyzer or BM25 params but reuses a snapshot id
    * must NOT silently get the stale index.
    */
  private def configMatches(m: Manifest, cfg: IndexBuilder.Config): Boolean =
    m.analyzer == cfg.analyzer.fingerprint &&
      m.k1 == cfg.params.k1 && m.b == cfg.params.b &&
      m.numShards == cfg.numShards && m.blockSize == cfg.blockSize &&
      m.positional == cfg.storePositions

  /** Next monotonic staging generation for append/compact dir names
    * (tracked in metrics; strictly increasing, so a staging name can never
    * collide with any live dir).
    */
  private def nextGen(m: Manifest): Int =
    m.metrics.getOrElse("dirGen", 0.0).toInt + 1

  /** Post-commit sweep of orphaned staging dirs: delta-gN, compact-gN,
    * termstats-gN and tombstones-gN whose generation is <= the live dirGen
    * but which the committed manifest does not reference (as a live dir OR
    * a grace-window dir). These are leftovers of an append/compact/delete
    * that crashed before its commit and whose generation a LATER successful
    * commit then skipped past — the retry-cleanup only clears the gen it is
    * about to reuse, so without this sweep they leak forever over a long
    * append lifecycle. Never touches gen > dirGen (an in-flight writer's
    * staging under the single-writer contract).
    */
  private def sweepOrphans(dir: String, m: Manifest): Unit = {
    val gen = m.metrics.getOrElse("dirGen", 0.0).toInt
    val live = m.referencedDirs
    val staged = """(?:delta|compact|termstats|tombstones)-g(\d+)""".r
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case staged(g) if g.toInt <= gen && !live.contains(f.getName) =>
          org.apache.commons.io.FileUtils.deleteQuietly(f)
        case _ => ()
      }
    }
  }

  private def rmDirs(dir: String, names: Iterable[String]): Unit =
    names.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/$d")))

  /** The committed manifest every lifecycle step (append, delete, update,
    * compact, load) starts from: there must be one, and no build may have
    * crashed before completing it.
    */
  private def openCommitted(dir: String): Manifest = {
    val m = readManifest(dir)
      .getOrElse(throw new IllegalStateException(s"no manifest at $dir"))
    require(m.complete, s"index at $dir is incomplete (crashed build?) — resume it first")
    m
  }

  /** What appending under `cfg` requires of the base index: the same
    * analyzer, BM25 params, block size and positional-ness. The shard grid
    * is the base's own, so numShards is not compared.
    */
  private def requireAppendable(base: Manifest, cfg: IndexBuilder.Config): Unit = {
    require(base.analyzer == cfg.analyzer.fingerprint,
      s"analyzer mismatch: index=${base.analyzer} cfg=${cfg.analyzer.fingerprint}")
    require(base.k1 == cfg.params.k1 && base.b == cfg.params.b,
      s"BM25 param mismatch: index=(${base.k1},${base.b}) cfg=(${cfg.params.k1},${cfg.params.b})")
    require(base.blockSize == cfg.blockSize,
      s"blockSize mismatch: index=${base.blockSize} cfg=${cfg.blockSize}")
    require(base.positional == cfg.storePositions,
      s"positional mismatch: index=${base.positional} cfg=${cfg.storePositions} " +
        "(a mixed positional/non-positional index would silently break phrase queries)")
  }

  /** Writes (term, df) term stats to `path` with their idf over `n` live
    * docs.
    */
  private def writeTermStats(dfs: DataFrame, n: Long, path: String): Unit =
    dfs.withColumn("idf", graft.query.Bm25.idfCol(n, col("df")))
      .write.mode("overwrite").option("compression", IndexCodec).parquet(path)

  /** The one commit sequence of every lifecycle step: the crash-test hook,
    * the atomic manifest rewrite (THE commit point), then deleting the
    * `retired` dirs and sweeping orphaned staging dirs. A crash anywhere
    * before the rewrite leaves the previous manifest and every dir it
    * references intact.
    */
  private def commit(dir: String, step: String, m: Manifest, retired: Iterable[String],
      failBeforeCommit: Boolean = false): BuildResult = {
    if (failBeforeCommit)
      throw new RuntimeException(s"injected failure before $step commit")
    writeManifest(dir, m)
    rmDirs(dir, retired)
    sweepOrphans(dir, m)
    BuildResult(m, dir)
  }

  /** Dirs whose one-commit grace window ends when `m` supersedes `base`. */
  private def graceEnded(base: Manifest, m: Manifest): Seq[String] =
    base.graceDirs.filterNot(m.graceDirs.contains)

  /** Largest shard's postings over the mean shard's (1.0 when empty). */
  private def skewRatio(shards: Seq[ShardLineage]): Double = {
    val ps = shards.map(_.postings.toDouble)
    if (ps.isEmpty) 1.0 else ps.max / (ps.sum / ps.size)
  }

  /** Per-shard lineage of a blocks Dataset, plus its token total (Σ sumTf),
    * from ONE aggregate — and the one definition of the lineage checksum:
    * the sum over the shard's blocks of the 64-bit xxHash of (term,
    * payload), each hash masked to 32 bits so the sum cannot overflow a
    * long even at trillions of blocks (Spark 4 ANSI mode makes overflow
    * fatal). Every field is a sum over blocks, so over a loaded index's
    * blocks (all live dirs) it reproduces what the manifest recorded.
    * Sorted by shardId.
    */
  private[graft] def shardLineage(blocks: Dataset[PostingBlock]): (Seq[ShardLineage], Long) = {
    val rows = blocks
      .groupBy(col("shardId"))
      .agg(
        sum(col("n")).as("postings"),
        count(lit(1)).as("blocks"),
        sum(length(col("payload"))).as("payloadBytes"),
        sum(xxhash64(col("term"), col("payload")).bitwiseAND(lit(0xffffffffL))).as("checksum"),
        sum(col("sumTf")).as("sumTf"))
      .collect()
    (rows.map(r => ShardLineage(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_.shardId).toSeq,
      rows.map(_.getLong(5)).sum)
  }

  /** Writes the blocks of `shards` under `path`, one `shardId=K` dir each,
    * after clearing whatever an earlier crashed write of those shards left
    * there. Blocks are clustered by shardId first: without it every task
    * writes a file into every shard dir (tasks x shards tiny files —
    * measured as the dominant commit cost and a per-query scan tax
    * afterwards).
    */
  private def writeShards(blocks: Dataset[PostingBlock], path: String, shards: Seq[Int]): Unit = {
    rmDirs(path, shards.map(s => s"shardId=$s"))
    val parts = math.max(1,
      math.min(blocks.sparkSession.sparkContext.defaultParallelism, shards.size))
    blocks.filter(col("shardId").isin(shards: _*))
      .repartition(parts, col("shardId"))
      .sortWithinPartitions("shardId", "term", "minDocId")
      .write.mode("append").option("compression", IndexCodec)
      .partitionBy("shardId").parquet(path)
  }

  // ------------------------------------------------------------------ build

  final case class BuildResult(manifest: Manifest, dir: String)

  /** Full (or resumed) build of the on-disk index from a transcripts
    * snapshot.
    *
    * Shards are committed in batches of `commitBatchShards` (one dynamic-
    * partition write job per batch; the manifest is atomically rewritten
    * after each) — the knob trades checkpoint granularity against job
    * overhead. `failAfterShards` injects a crash after N shard commits —
    * used by the resume test only.
    */
  def build(
      spark: SparkSession,
      turns: Dataset[Turn],
      dir: String,
      snapshotId: String,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      commitBatchShards: Int = 256,
      failAfterShards: Option[Int] = None
  ): BuildResult = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val existing = readManifest(dir)
    existing.filter(m => m.complete && configMatches(m, cfg)).foreach { m =>
      // idempotent against any already-committed snapshot (latest OR in the
      // history), so a replayed first stream batch can't trigger a rebuild
      if (m.snapshotId == snapshotId || m.history.contains(snapshotId))
        return BuildResult(m, dir)
    }
    val committed: Set[Int] = existing match {
      case Some(m) if m.snapshotId == snapshotId && !m.complete && configMatches(m, cfg) =>
        m.shards.map(_.shardId).toSet
      case _ => Set.empty
    }
    // a REBUILD (different snapshot or changed config) is about to
    // overwrite docs/ and delete blocks/ that the existing manifest may
    // still reference as complete — invalidate it first, so a crash in
    // that window can never serve new docs against old blocks
    if (committed.isEmpty)
      existing.foreach(m => writeManifest(dir, m.copy(complete = false)))

    def now() = System.nanoTime()
    val tRel0 = now()
    // pass 1: docIds + docs checkpoint. The postings relation stays LAZY —
    // it streams through the encode shuffle exactly once, uncached: caching
    // the 25N-row postings saturates memory bandwidth long before the CPUs
    // (measured: the 32-thread build was capped at the 8-thread build's
    // bandwidth ceiling). Corpus/term stats are derived from the encoded
    // blocks, which are ~100x smaller.
    val p0 = IndexBuilder.prepare(spark, turns, s"$dir/docs", cfg)
    val n = p0.n
    val shardSize = p0.shardSize
    val relSec = (now() - tRel0) / 1e9

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // fresh build (no committed shards): clear any stale block layout from
    // an older format version or an abandoned different-snapshot build
    if (committed.isEmpty) rmDirs(dir, Seq("blocks"))

    val tEnc0 = now()
    val blocks = IndexBuilder.encodePostings(spark, p0.postings, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // per-shard lineage + corpus token total from ONE aggregate over the
    // encoded blocks (this job also materializes the blocks cache)
    val (shards, totalTokens) = shardLineage(blocks)
    val lineage: Map[Int, ShardLineage] = shards.map(s => s.shardId -> s).toMap
    val avgdl = if (n == 0) 0.0 else totalTokens.toDouble / n
    val corpus = CorpusStats(n, avgdl)
    val encodeSec = (now() - tEnc0) / 1e9

    // degenerate corpora: a parquet dir written from ZERO rows has no part
    // files and cannot be read back — the manifest must simply not
    // reference it (load() substitutes empty datasets)
    val blockDirs = if (lineage.isEmpty) Seq.empty[String] else Seq("blocks")
    val docDirs = if (n == 0) Seq.empty[String] else Seq("docs")
    val tsDir = if (lineage.isEmpty) "" else "termstats-v0"

    // term stats from the blocks cache (df = Σ block n per term), written
    // CONCURRENTLY with the shard commits below — independent jobs over the
    // same cache. Written UNCONDITIONALLY (also on resume): a real crash can
    // kill the stats job after the first shard commit, and a resumed run
    // must not finalize an index with missing/partial idf.
    val tAux0 = now()
    val auxF: Future[Unit] =
      if (lineage.isEmpty) Future.successful(())
      else Future {
        writeTermStats(blocks.groupBy($"term").agg(sum($"n").as("df")), n, s"$dir/$tsDir")
      }

    val tCommit0 = now()
    // seed the committed lineage ONLY on a true resume (same snapshot +
    // config, incomplete manifest) — seeding from a stale manifest during a
    // config-change rebuild would list shards as committed that the fresh
    // blocks/ dir does not contain, and a crash+resume would then finalize
    // an index missing them
    var done: Seq[ShardLineage] =
      if (committed.isEmpty) Nil
      else existing.map(_.shards.filter(s =>
        committed.contains(s.shardId) && lineage.contains(s.shardId))).getOrElse(Nil)
    var commitsThisRun = 0

    // generation counter survives rebuilds so later append/compact staging
    // names stay monotonic even over a dir with leftover older generations
    val baseGen = existing.flatMap(_.metrics.get("dirGen")).getOrElse(0.0)

    def partialManifest(complete: Boolean, metrics: Map[String, Double]) = Manifest(
      snapshotId, cfg.analyzer.fingerprint, cfg.params.k1, cfg.params.b,
      cfg.numShards, shardSize, cfg.blockSize, corpus.docCount,
      corpus.avgdl, done.sortBy(_.shardId), metrics + ("dirGen" -> baseGen),
      blockDirs = blockDirs, docDirs = docDirs, termstatsDir = tsDir,
      complete, history = Seq(snapshotId), positional = cfg.storePositions,
      nextDocId = n)

    val pending = shards.map(_.shardId).filterNot(committed.contains)
    pending.grouped(math.max(1, commitBatchShards)).foreach { batch =>
      failAfterShards.foreach { limit =>
        if (commitsThisRun >= limit)
          throw new RuntimeException(s"injected failure after $limit shard commits")
      }
      writeShards(blocks, s"$dir/blocks", batch)
      done ++= batch.map(lineage)
      commitsThisRun += batch.size
      writeManifest(dir, partialManifest(complete = false, Map.empty))
    }

    Await.result(auxF, Duration.Inf)
    val auxSec = (now() - tAux0) / 1e9
    val buildSec = (System.nanoTime() - t0) / 1e9
    val totalPostings = shards.map(_.postings).sum.toDouble
    val metrics = Map(
      "relSec" -> relSec,
      "auxWriteSec" -> auxSec,
      "encodeSec" -> encodeSec,
      "commitSec" -> (now() - tCommit0) / 1e9,
      "buildSec" -> buildSec,
      "turns" -> corpus.docCount.toDouble,
      "turnsPerSec" -> corpus.docCount / buildSec,
      "postings" -> totalPostings,
      "postingsPerSec" -> totalPostings / buildSec,
      "bytesRaw" -> totalPostings * 16, // uncompressed (docId 8B + tf 4B + dl 4B)
      "bytesCompressed" -> shards.map(_.payloadBytes).sum.toDouble,
      "skewRatio" -> skewRatio(shards)
    )
    val m = partialManifest(complete = true, metrics)
    // a rebuild retires, with no grace window, the top-level dirs the
    // SUPERSEDED manifest referenced that the fresh one does not (older
    // delta-g*/compact-g*/termstats-g* generations) — a rebuild over a long
    // append lifecycle must not leak them forever. None on resume (same dirs).
    val retired =
      if (committed.isEmpty) existing.toSeq.flatMap(_.referencedDirs -- m.referencedDirs)
      else Nil
    try commit(dir, "build", m, retired) finally blocks.unpersist()
  }

  // ---------------------------------------------------------------- append

  /** Incremental snapshot append (SURVEY.md §7.6): new turns become delta
    * postings whose docIds continue the base id space (ids of existing
    * docs never move), encoded into the base's shard grid. Corpus stats and
    * term df are additive; idf is recomputed for the merged N. Block
    * upper-bound metadata is (maxTf, minDl), valid under the shifted avgdl.
    *
    * Crash-safe by staging: delta blocks/docs and merged term stats are
    * written to fresh dirs the live manifest does not reference
    * (`delta-gN/{blocks,docs}`, `termstats-gN/`); the commit is one atomic
    * manifest rewrite pointing at them. A crash anywhere before the commit
    * leaves the base index untouched and fully servable; re-running the append
    * overwrites the staging dirs and commits. `failBeforeCommit` injects a
    * crash just before the manifest rewrite (crash-safety test hook).
    */
  def appendSnapshot(
      spark: SparkSession,
      newTurns: Dataset[Turn],
      dir: String,
      snapshotId: String,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      failBeforeCommit: Boolean = false
  ): BuildResult = {
    import spark.implicits._
    val base = openCommitted(dir)
    // idempotence under at-least-once retry (e.g. Structured Streaming's
    // foreachBatch): an append whose snapshotId already committed is a
    // no-op — re-running it would append the same turns a second time.
    // Checked against the FULL committed history, not just the latest id:
    // a checkpoint-less stream restart replays batchIds from 0, and those
    // must not re-append past snapshots just because later ones committed.
    if (base.snapshotId == snapshotId || base.history.contains(snapshotId))
      return BuildResult(base, dir)
    requireAppendable(base, cfg)
    // appending onto an EMPTY base (degenerate corpus) is just a build —
    // guarded on the id-space watermark, not docCount: a fully-deleted
    // index still owns its id space and must not reset it
    if (base.nextDocId == 0)
      return build(spark, newTurns, dir, snapshotId, cfg)

    // staging names use a MONOTONIC generation (shared with compact), never
    // a dir count: blockDirs.length resets after a compact, and a reused
    // name could collide with — and the retry-cleanup below delete — a
    // LIVE dir (e.g. the current termstats)
    val gen = nextGen(base)
    val deltaBlocksDir = s"delta-g$gen/blocks"
    val deltaDocsDir = s"delta-g$gen/docs"
    val tsDir = s"termstats-g$gen"
    // idempotent retry: clear any staging leftovers of a crashed append
    rmDirs(dir, Seq(s"delta-g$gen", tsDir))

    // prepare, not relations: the delta postings stream through the encode
    // shuffle ONCE, uncached, and all stats derive from the ~100x-smaller
    // encoded blocks — the same bandwidth-conscious shape as build()
    val p0 = IndexBuilder.prepare(spark, newTurns, s"$dir/$deltaDocsDir", cfg,
      idOffset = base.nextDocId, fixedShardSize = Some(base.shardSize))
    if (p0.n == 0) { // nothing indexable in this snapshot: no-op
      rmDirs(dir, Seq(s"delta-g$gen"))
      return BuildResult(base, dir)
    }

    val blocks = IndexBuilder.encodePostings(spark, p0.postings, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (deltaLineage, deltaTokens) = shardLineage(blocks)

    // a delta of only token-less docs (e.g. all-stopword text) produces
    // ZERO blocks: a parquet write of zero rows leaves an unreadable dir,
    // so reference the delta blocks dir only when it will hold data
    val hasBlocks = deltaLineage.nonEmpty
    if (hasBlocks)
      writeShards(blocks, s"$dir/$deltaBlocksDir", deltaLineage.map(_.shardId))

    // merged corpus stats: token totals are exact integers, so the combined
    // avgdl is exact too
    val nNew = base.docCount + p0.n
    val totTokens = math.round(base.avgdl * base.docCount) + deltaTokens
    val avgdlNew = if (nNew == 0) 0.0 else totTokens.toDouble / nNew

    // merged term stats: df is additive (delta df = Σ block n per term);
    // idf recomputed for the merged N. Written to the fresh versioned dir
    // (never overwrites the live one). Degenerate guard mirroring build():
    // a stats-less base (all-stopword corpus) merged with a block-less
    // delta would be a ZERO-row parquet write — an unreadable dir the
    // committed manifest must not reference, so keep termstatsDir empty.
    val tsDirFinal = if (base.termstatsDir.isEmpty && !hasBlocks) "" else tsDir
    if (tsDirFinal.nonEmpty) {
      val baseTs =
        if (base.termstatsDir.isEmpty)
          spark.emptyDataset[(String, Long)].toDF("term", "df")
        else spark.read.parquet(s"$dir/${base.termstatsDir}").select($"term", $"df")
      val deltaTs = blocks.groupBy($"term").agg(sum($"n").as("df"))
      writeTermStats(baseTs.unionByName(deltaTs).groupBy($"term").agg(sum($"df").as("df")),
        nNew, s"$dir/$tsDirFinal")
    }

    // every lineage field is a sum over blocks, so a shard's lineage over
    // base + delta dirs is the shard-wise sum
    val mergedLineage = (base.shards ++ deltaLineage).groupBy(_.shardId).values
      .map(_.reduce((a, d) => ShardLineage(a.shardId, a.postings + d.postings,
        a.blocks + d.blocks, a.payloadBytes + d.payloadBytes, a.checksum + d.checksum)))
      .toSeq.sortBy(_.shardId)
    val (newHistory, historyMetric) = advanceHistory(dir, base, snapshotId)
    val m = Manifest(snapshotId, cfg.analyzer.fingerprint, cfg.params.k1,
      cfg.params.b, base.numShards, base.shardSize, cfg.blockSize,
      nNew, avgdlNew, mergedLineage,
      base.metrics ++ historyMetric ++ Map(
        "appendedTurns" -> p0.n.toDouble,
        "dirGen" -> gen.toDouble,
        "skewRatio" -> skewRatio(mergedLineage)),
      blockDirs = if (hasBlocks) base.blockDirs :+ deltaBlocksDir else base.blockDirs,
      docDirs = base.docDirs :+ deltaDocsDir,
      termstatsDir = tsDirFinal,
      complete = true,
      history = newHistory,
      positional = base.positional,
      nextDocId = base.nextDocId + p0.n,
      tombstoneDirs = base.tombstoneDirs,
      // superseded term-stats enter the grace window (deleted after the
      // NEXT commit), so a reader on the previous manifest keeps working
      graceDirs = Seq(base.termstatsDir).filter(d =>
        d.nonEmpty && d != tsDirFinal))
    try commit(dir, "append", m, graceEnded(base, m), failBeforeCommit)
    finally blocks.unpersist()
  }

  /** Advance the committed-id idempotence history under the cap — ONE
    * definition for every committing path (append, delete, and anything
    * future), so the `historyDropped` metric and the loud truncation
    * warning can never drift between them (round 4 had them on the append
    * path only). The cap silently forgets old snapshot ids: a
    * checkpoint-less restart replaying one of them would duplicate (or
    * re-delete) data with no error — hence metric + warning, not silence.
    * Returns (new history, metrics delta).
    */
  private def advanceHistory(dir: String, base: Manifest,
      snapshotId: String): (Seq[String], Map[String, Double]) = {
    val dropped = (base.history.size + 1 - SnapshotHistoryCap).max(0)
    if (dropped > 0)
      System.err.println(s"[graft] WARNING: snapshot history at $dir truncated " +
        s"(cap $SnapshotHistoryCap); replays of dropped ids are no longer idempotent")
    ((base.history :+ snapshotId).takeRight(SnapshotHistoryCap),
      Map("historyDropped" ->
        (base.metrics.getOrElse("historyDropped", 0.0) + dropped)))
  }

  // ---------------------------------------------------------------- delete

  /** Max tombstoned docIds an index may carry between compactions,
    * enforced at delete time AND at load. The scan-side structure is the
    * paged bitmap/sorted-shorts [[DocIdSet]] (<= 2 B/id sparse, 8 KiB
    * per dense 64Ki-id page — round 4's flat sorted Array[Long] cost
    * 8 B/id, which is why its cap sat at 10M), built distributively and
    * broadcast once per loaded index, so the cap is bounded by executor
    * broadcast memory (~200 MB worst-case sparse at 100M), not by a
    * driver collect. Beyond it the index refuses with a compact-first
    * message rather than melting.
    */
  val TombstoneCap = 100000000L

  /** Above this many tombstones the live-docs anti join stops hinting a
    * broadcast of the RAW (docId) relation (8+ B/id hashed on the driver —
    * ~80 MB here) and lets AQE plan it; the compressed DocIdSet is
    * unaffected (it has its own one-per-index broadcast).
    */
  val DocsAntiJoinBroadcastCap = 10000000L

  /** Delete documents from a live index — the missing half of incremental:
    * a training-data pipeline dedups and redacts continuously (e.g. the
    * complement of a dedup keep-set), and must not rebuild to do it.
    *
    * Tombstone semantics (Lucene-style deletes, but with EXACT stats):
    * the posting blocks are untouched; the dropped docIds land in a
    * tombstone file every scan honors (WAND / conjunctive / phrase scorers
    * skip them before any heap or df accounting; the docs view filters
    * them), and `compact` purges them physically. Unlike Lucene, corpus
    * and term stats are recomputed EXACTLY at delete time — the dropped
    * set is small relative to the corpus, so re-analyzing just those docs
    * (one bounded job, never a corpus pass) buys scores identical to a
    * from-scratch build on the surviving corpus:
    *   N' = N - |dropped|;  avgdl' from the exact token totals;
    *   df'(t) = df(t) - |dropped docs containing t|, idf over N'.
    *
    * Repeated deletes merge-rewrite the (single) tombstone file; docIds
    * already tombstoned are ignored (never double-subtracted). The commit
    * is the usual staged-dirs + atomic manifest rewrite; superseded dirs
    * enter the one-commit grace window. Appends compose: the id space is
    * tracked by `nextDocId`, which deletes never lower.
    *
    * Reference analogue: the keep-one semantics of dropDuplicates
    * (/root/reference/data_processing/semantic_index/
    * create_lookup_table.py:34) applied to a LIVE index — the reference
    * itself could only rebuild from scratch (build_index.py:15 re-globs
    * everything).
    *
    * @param dropIds single-column (docId) DataFrame of documents to drop
    */
  def deleteDocs(
      spark: SparkSession,
      dropIds: DataFrame,
      dir: String,
      snapshotId: String,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      failBeforeCommit: Boolean = false,
      // an already-loaded handle of THIS index at its current manifest
      // (updateDocs passes its own, saving the second load + tombstone
      // collect); callers outside the single-writer path leave it None
      preloaded: Option[Index] = None
  ): BuildResult = {
    import spark.implicits._
    val base = openCommitted(dir)
    if (base.snapshotId == snapshotId || base.history.contains(snapshotId))
      return BuildResult(base, dir) // idempotent retry
    require(base.analyzer == cfg.analyzer.fingerprint,
      s"analyzer mismatch: index=${base.analyzer} cfg=${cfg.analyzer.fingerprint} " +
        "(stats maintenance re-analyzes the dropped docs and must tokenize " +
        "exactly like the index)")
    val idx = preloaded.filter(_.manifest == base).getOrElse(load(spark, dir))

    // effective drop set: requested ∩ live docs (already-tombstoned or
    // never-assigned ids must not perturb the stats), consumed by the
    // stats job AND the tombstone write
    val dropped = idx.docs.toDF()
      .join(dropIds.select($"docId".cast("long").as("docId")).distinct(),
        Seq("docId"), "left_semi")
      .persist()
    var removedTerms: DataFrame = null
    var survivingTs: DataFrame = null
    try {
      val nDrop = dropped.count()
      if (nDrop == 0) return BuildResult(base, dir)

      // cap check FIRST (the prior count rides the manifest metric — no
      // job), so a delete that will be refused never pays the re-analysis
      val nTombs = base.metrics.getOrElse("tombstones", 0.0).toLong + nDrop
      require(nTombs <= TombstoneCap,
        s"$nTombs tombstones exceed TombstoneCap=$TombstoneCap — compact the index first")

      // exact removed stats from ONE pass over the dropped docs only
      removedTerms = dropped
        .select($"docId", Analyzer.tokensCol($"text", cfg.analyzer).as("toks"))
        .select($"docId", size($"toks").as("dl"),
          explode_outer(array_distinct($"toks")).as("term"))
        .persist()
      val removedTokens = removedTerms
        .groupBy($"docId").agg(first($"dl").as("dl"))
        .agg(sum($"dl".cast("long"))).as[Option[Long]].first().getOrElse(0L)
      val removedDf = removedTerms.filter($"term".isNotNull)
        .groupBy($"term").agg(count(lit(1)).as("rdf"))

      val nNew = base.docCount - nDrop
      val liveTokens = math.round(base.avgdl * base.docCount) - removedTokens
      val avgdlNew = if (nNew == 0) 0.0 else liveTokens.toDouble / nNew

      val gen = nextGen(base)
      val tsDir = s"termstats-g$gen"
      val tombDir = s"tombstones-g$gen"
      rmDirs(dir, Seq(tsDir, tombDir))

      // merged tombstones: previous set ∪ new drops, ONE dir and one file
      // (the set is small between compactions; load() sorts on read, so
      // no write-side sort — it would just re-expand the coalesce)
      val prevTombs: DataFrame =
        if (base.tombstoneDirs.isEmpty) spark.emptyDataset[Long].toDF("docId")
        else base.tombstoneDirs.map(d => spark.read.parquet(s"$dir/$d"))
          .reduce(_.unionByName(_))
      prevTombs.unionByName(dropped.select($"docId"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", IndexCodec).parquet(s"$dir/$tombDir")

      // surviving term stats: df decremented, vanished terms dropped, idf
      // over the surviving N. Degenerate guard as everywhere: never write
      // or reference a zero-row parquet dir.
      survivingTs = idx.termStats.toDF()
        .join(removedDf, Seq("term"), "left")
        .select($"term", ($"df" - coalesce($"rdf", lit(0L))).as("df"))
        .filter($"df" > 0)
        .persist()
      val hasTs = survivingTs.limit(1).count() > 0
      val tsDirFinal = if (hasTs) tsDir else ""
      if (hasTs) writeTermStats(survivingTs, nNew, s"$dir/$tsDir")

      val (newHistory, historyMetric) = advanceHistory(dir, base, snapshotId)
      val m = base.copy(
        snapshotId = snapshotId,
        docCount = nNew,
        avgdl = avgdlNew,
        termstatsDir = tsDirFinal,
        tombstoneDirs = Seq(tombDir),
        metrics = base.metrics ++ historyMetric ++ Map(
          "dirGen" -> gen.toDouble,
          "tombstones" -> nTombs.toDouble,
          "deletedTurns" -> nDrop.toDouble),
        history = newHistory,
        graceDirs = (base.tombstoneDirs :+ base.termstatsDir)
          .filter(d => d.nonEmpty && d != tsDirFinal))
      commit(dir, "delete", m, graceEnded(base, m), failBeforeCommit)
    } finally {
      // every exit path — cap refusal, injected crash, success — frees the
      // cached intermediates; a long-lived ingest session retries deletes
      dropped.unpersist()
      if (removedTerms != null) removedTerms.unpersist()
      if (survivingTs != null) survivingTs.unpersist()
    }
  }

  // ---------------------------------------------------------------- update

  /** Update (re-index) turns in a live index — the Lucene updateDocument
    * shape: delete the existing versions (matched by their positional
    * identity (conv_id, turn_idx)) then append the new ones, as two
    * committed steps under derived snapshot ids (`<id>|del`, `<id>|add`).
    * Completes the CRUD lifecycle: build → append → delete → UPDATE →
    * compact.
    *
    * Each step is individually crash-safe and history-idempotent, so a
    * retry of a half-applied update CONVERGES: if the delete committed but
    * the append didn't, the retry's delete finds nothing live to drop (the
    * old versions are already tombstoned) and the append runs; if both
    * committed, both no-op. Between the two commits the affected turns are
    * briefly absent from the live view — the same visibility window
    * Lucene's delete+add has before its commit; callers needing atomic
    * visibility pause readers across the two commits (seconds).
    *
    * Updated turns receive NEW docIds at the watermark — docIds are never
    * reused, so caches/snapshots keyed by docId can never serve stale text
    * under a recycled id. Turns in `newVersions` with no live match are
    * plain appends (upsert semantics). Stats stay exact through both
    * steps.
    */
  def updateDocs(
      spark: SparkSession,
      newVersions: Dataset[Turn],
      dir: String,
      snapshotId: String,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      failBetweenSteps: Boolean = false
  ): BuildResult = {
    import spark.implicits._
    val base = openCommitted(dir)
    // the APPEND step's preconditions, checked BEFORE the delete commits:
    // deleteDocs alone only validates the analyzer, so a k1/b/blockSize/
    // positional mismatch surfacing first at the append would leave the
    // old versions permanently tombstoned with a retry that can never
    // converge — fail the whole update up front instead
    requireAppendable(base, cfg)
    // whole-update idempotence: the ADD step commits last, so its id in
    // the history means the update fully applied
    if (base.snapshotId == s"$snapshotId|add" || base.history.contains(s"$snapshotId|add"))
      return BuildResult(base, dir)

    // positional identity must be unique in the new versions — two rows
    // claiming the same (conv_id, turn_idx) would BOTH be appended and
    // the live view would carry duplicate identities forever
    val dups = newVersions.toDF().groupBy($"conv_id", $"turn_idx")
      .agg(count(lit(1)).as("n")).filter($"n" > 1).limit(1).collect()
    require(dups.isEmpty,
      s"duplicate (conv_id, turn_idx) in newVersions, e.g. " +
        s"(${dups.headOption.map(r => s"${r.get(0)}, ${r.get(1)}").getOrElse("")})")

    val idx = load(spark, dir)
    val keys = newVersions.toDF().select($"conv_id", $"turn_idx").distinct()
    val dropIds = idx.docs.toDF()
      .join(keys, Seq("conv_id", "turn_idx"), "left_semi")
      .select($"docId")
    deleteDocs(spark, dropIds, dir, s"$snapshotId|del", cfg, preloaded = Some(idx))
    if (failBetweenSteps)
      throw new RuntimeException("injected failure between update steps")
    appendSnapshot(spark, newVersions, dir, s"$snapshotId|add", cfg)
  }

  // --------------------------------------------------------------- compact

  /** Compact a multi-dir index (base + appended deltas) back into ONE
    * block dir + ONE docs dir — the Lucene-merge/Iceberg-compaction step
    * that completes the incremental lifecycle (build → append* → delete*
    * → compact).
    *
    * Postings are recovered by DECODING the existing blocks (never a
    * corpus re-tokenize), tombstoned docs dropped, re-exchanged on
    * (shardId, term) and re-encoded with the same deterministic encoder as
    * the build, so a (shard, term) list that was split across base + delta
    * block runs becomes one contiguous run again and deleted docs vanish
    * physically (tombstoneDirs empties — stats were already exact from
    * delete time). Staged dirs + one atomic manifest rewrite, crash-safe
    * exactly like appendSnapshot.
    *
    * Readers: superseded dirs are NOT removed at commit — they enter the
    * manifest's grace window and are deleted only after the NEXT commit,
    * so a serving session holding the pre-compaction manifest (e.g. a
    * cached `load` handle) keeps answering queries across the compaction;
    * it re-loads at its own pace. Single-writer contract as everywhere.
    */
  def compact(
      spark: SparkSession,
      dir: String,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      failBeforeCommit: Boolean = false
  ): BuildResult = {
    val m = openCommitted(dir)
    if (m.blockDirs.size <= 1 && m.docDirs.size <= 1 && m.tombstoneDirs.isEmpty)
      return BuildResult(m, dir)
    val idx = load(spark, dir)
    // monotonic generation (shared counter with appendSnapshot) => staging
    // names never collide with live dirs
    val gen = nextGen(m)
    val stageBlocks = s"compact-g$gen/blocks"
    val stageDocs = s"compact-g$gen/docs"
    rmDirs(dir, Seq(s"compact-g$gen"))

    // re-encode with the MANIFEST's block size — the manifest is the truth
    // about the on-disk layout, whatever cfg the caller passed
    val blocks = IndexBuilder.encodePostings(spark, livePostings(idx),
        cfg.copy(blockSize = m.blockSize))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (lineage, _) = shardLineage(blocks)
    // an index can legitimately hold docs but zero postings (token-less
    // corpus): never reference a zero-row parquet dir
    if (lineage.nonEmpty)
      writeShards(blocks, s"$dir/$stageBlocks", lineage.map(_.shardId))
    // idx.docs is the LIVE view, so compaction purges tombstoned docs
    // physically here too; a fully-deleted index would be a zero-row write
    // (unreadable parquet dir) — reference no docs dir at all instead
    if (m.docCount > 0)
      idx.docs.toDF().write.mode("overwrite").option("compression", IndexCodec).parquet(s"$dir/$stageDocs")

    val m2 = m.copy(
      shards = lineage,
      blockDirs = if (lineage.nonEmpty) Seq(stageBlocks) else Seq.empty,
      docDirs = if (m.docCount > 0) Seq(stageDocs) else Seq.empty,
      tombstoneDirs = Nil, // purged physically above
      metrics = (m.metrics - "tombstones") ++ Map(
        "dirGen" -> gen.toDouble,
        "compactedDirs" -> m.blockDirs.size.toDouble),
      // superseded dirs survive until the NEXT commit (reader grace window)
      graceDirs = (m.blockDirs ++ m.docDirs ++ m.tombstoneDirs)
        .map(_.split('/').head).distinct)
    try commit(dir, "compact", m2, graceEnded(m, m2), failBeforeCommit)
    finally blocks.unpersist()
  }

  /** An index's live postings (shardId, term, docId, tf, dl[, pos]),
    * decoded in-plan from its blocks: compaction's input. A positional
    * index carries each posting's position list (the re-block moves block
    * boundaries; the lists themselves are unchanged). Tombstoned docs leave
    * the stream here (the tiny tombstone relation broadcasts into an anti
    * join).
    */
  private[graft] def livePostings(idx: Index): DataFrame = {
    val b = idx.blocks.toDF()
    val decode =
      if (idx.manifest.positional) DecodeBlock(b("payload"), b("n"), b("positions"))
      else DecodeBlock(b("payload"), b("n"))
    val postings = b.select(b("shardId"), b("term"), explode(decode).as("p"))
      .select("shardId", "term", "p.*")
    if (idx.manifest.tombstoneDirs.isEmpty) postings
    else postings.join(broadcast(idx.tombstones), Seq("docId"), "left_anti")
  }

  // ------------------------------------------------------------------- load

  final case class Index(
      dir: String,
      manifest: Manifest,
      blocks: Dataset[PostingBlock],
      docs: Dataset[Doc], // the LIVE view: tombstoned docs filtered out
      termStats: Dataset[TermStat],
      tombstones: DataFrame, // (docId) — empty when the index has no deletes
      // the same ids as a paged bitmap/sorted-shorts set for the block
      // scorers, built DISTRIBUTIVELY at load (the driver never holds the
      // flat 8 B/id array) and broadcast once per index per session; size
      // bounded by TombstoneCap, enforced at delete time AND at load
      tombstoneSet: DocIdSet
  ) {
    def corpus: CorpusStats = CorpusStats(manifest.docCount, manifest.avgdl)

    /** Fail fast when this handle has outlived the one-commit grace
      * window. The contract: a commit keeps the dirs it supersedes on
      * disk until the NEXT commit, so a reader that re-loads at least
      * once per commit never hits missing files — but a slow reader that
      * misses one reload while TWO commits land would die mid-scan with a
      * bare FileNotFoundException. This turns that into a clear
      * diagnosis: the handle is servable iff every dir its plans
      * reference is still live in (or grace-protected by) the current
      * on-disk manifest — an exact check that works identically across
      * append, delete and compact commits. Serving loops call it before
      * a query burst; it is one small-file read, no Spark job.
      */
    def requireServable(): Unit = {
      val cur = readManifest(dir).getOrElse(throw new IllegalStateException(
        s"index at $dir has no manifest (deleted?) — reload"))
      val protectedDirs = (cur.blockDirs ++ cur.docDirs ++ cur.tombstoneDirs ++
        cur.graceDirs :+ cur.termstatsDir).toSet
      val mine = (manifest.blockDirs ++ manifest.docDirs ++
        manifest.tombstoneDirs :+ manifest.termstatsDir).filter(_.nonEmpty)
      val lost = mine.filterNot(protectedDirs.contains)
      if (lost.nonEmpty) throw new IllegalStateException(
        s"stale index handle: loaded at '${manifest.snapshotId}' but $dir is now " +
          s"at '${cur.snapshotId}' and no longer protects ${lost.mkString(", ")} " +
          "(the grace window is one commit deep) — reload the index")
    }
  }

  def load(spark: SparkSession, dir: String): Index = {
    import spark.implicits._
    val m = openCommitted(dir)
    // shardId=K dynamic-partition layout: discovery restores shardId as an
    // int column and prunes shard dirs on shardId predicates for free.
    // Each manifest-listed dir (base + committed deltas) is discovered
    // independently, then unioned.
    // degenerate corpora leave unreferenced dirs out of the manifest
    // entirely (zero-row parquet dirs are unreadable) — substitute empties
    val blocks =
      if (m.blockDirs.isEmpty) spark.emptyDataset[PostingBlock]
      else m.blockDirs.map { d =>
        spark.read.parquet(s"$dir/$d")
          .select($"shardId".cast("int").as("shardId"), $"term", $"blockIdx",
            $"minDocId", $"maxDocId", $"n", $"maxTf", $"minDl", $"sumTf",
            $"payload", $"positions")
      }.reduce(_.unionByName(_)).as[PostingBlock]
    val rawDocs =
      if (m.docDirs.isEmpty) spark.emptyDataset[Doc]
      else m.docDirs.map(d => spark.read.parquet(s"$dir/$d"))
        .reduce(_.unionByName(_)).as[Doc]
    val tombstones: DataFrame =
      if (m.tombstoneDirs.isEmpty) spark.emptyDataset[Long].toDF("docId")
      else m.tombstoneDirs.map(d => spark.read.parquet(s"$dir/$d"))
        .reduce(_.unionByName(_))
    val tombstoneSet: DocIdSet =
      if (m.tombstoneDirs.isEmpty) DocIdSet.empty
      else DocIdSet.fromDF(tombstones)
    // deleteDocs enforces the cap at write time, but a manifest written by
    // another writer (or a future engine version) could exceed it: refuse
    // here too rather than silently stressing every query's broadcast
    require(tombstoneSet.size <= TombstoneCap,
      s"index at $dir carries ${tombstoneSet.size} tombstones " +
        s"(> TombstoneCap=$TombstoneCap) — compact it before serving")
    // the live docs view: deletes are invisible to every consumer. The
    // broadcast hint into the anti join is SIZE-GATED: the raw (docId)
    // relation costs 8+ B/id hashed on the driver, so above the gate
    // (~80 MB) the join degrades to a plain (AQE-planned) anti join
    // instead of re-creating the driver-stress scenario the old 10M
    // TombstoneCap existed to refuse — the 100M cap is only safe for the
    // COMPRESSED DocIdSet, not for this relation
    val docs =
      if (tombstoneSet.isEmpty) rawDocs
      else if (tombstoneSet.size <= DocsAntiJoinBroadcastCap)
        rawDocs.toDF()
          .join(broadcast(tombstones), Seq("docId"), "left_anti").as[Doc]
      else rawDocs.toDF()
        .join(tombstones, Seq("docId"), "left_anti").as[Doc]
    val termStats =
      if (m.termstatsDir.isEmpty) spark.emptyDataset[TermStat]
      else spark.read.parquet(s"$dir/${m.termstatsDir}").as[TermStat]
    Index(dir, m, blocks, docs, termStats, tombstones, tombstoneSet)
  }
}
