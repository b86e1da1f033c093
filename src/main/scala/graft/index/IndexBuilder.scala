package graft.index

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Analyzer
import graft.model._

/** Distributed inverted-index build (SURVEY.md §7.3 steps 3-6, 8).
  *
  * One pass over the raw corpus and exactly two exchanges (the reference
  * made four full corpus scans: /root/reference/data_processing/
  * Lexical_indexing/bm25_precompute.py runs avg-length, CountVectorizer.fit,
  * IDF.fit and a UDF remap as separate scans — SURVEY.md §3.2):
  *
  *   shuffle 1 — range-sort turns by (conv_id, turn_idx) for deterministic
  *               docIDs (DocIds);
  *   narrow    — tokenize (codegen analyzer) → per-row term_freqs map →
  *               postings (shardId, term, docId, tf, dl): per-document
  *               counts never leave their row, so no TOKEN ever crosses
  *               the wire — only one already-counted posting row per
  *               (doc, term);
  *   shuffle 2 — the north rule's sort-merge shuffle: postings exchange on
  *               the (shardId, term) group key + in-partition sort +
  *               streaming 128-posting delta+varint block encode. The
  *               docId-range shard IS the salt: a Zipf head term appearing
  *               in a large fraction of 10^12 turns splits evenly across
  *               all shards instead of hotspotting one reducer (the
  *               reference "solved" skew by funneling everything to one
  *               GPU task via repartition(1), bm25_searcher.py:102-104);
  *               a term's global posting list is the concatenation of its
  *               shard sub-lists in shard order.
  */
object IndexBuilder {

  final case class Config(
      analyzer: Analyzer.Config = Analyzer.default,
      params: Bm25Params = Bm25Params(),
      /** lineage/pruning granularity; >= 4x the executor count keeps the
        * hash placement of shards onto partitions balanced */
      numShards: Int = 128,
      blockSize: Int = Codec.BlockSize,
      docIdPartitions: Int = 32,
      /** physical partitions for shard placement + encode; 0 = default
        * parallelism */
      encodePartitions: Int = 0,
      /** store term positions (phrase-query support). Positions ride a
        * SEPARATE parquet column that non-phrase queries never read, but
        * they do widen the build's posting shuffle by ~sum(tf) varints —
        * off by default so the headline build pays nothing. */
      storePositions: Boolean = false
  )

  /** In-memory handle on the relational form of the index (pass-1 output).
    * `docs` is persisted and shard-aligned (carries a shardId column in its
    * physical layout); `postings` is persisted, narrow over docs, and
    * carries (shardId, term, docId, tf, dl).
    */
  final case class Relations(
      docs: Dataset[Doc], // parquet-backed (checkpointed ids)
      postings: DataFrame, // (shardId, term, docId, tf, dl), persisted
      docStats: DataFrame, // (docId, dl)
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      shardSize: Long
  ) {
    def unpersistAll(): Unit = postings.unpersist()
  }

  /** P6 filter: the indexed document set = turns with non-null, non-blank
    * text (reference parity: /root/reference/data_processing/
    * Lexical_indexing/LexicalIndexer.scala:30).
    */
  def indexableTurns(turns: Dataset[Turn]): Dataset[Turn] =
    turns.filter(t => t.text != null && t.text.trim.nonEmpty)

  def shardOf(docId: Long, shardSize: Long): Int = (docId / shardSize).toInt

  /** Pass-1 output: the checkpointed docs and the LAZY, narrow postings. */
  final case class Prepared(
      docs: Dataset[Doc],
      postings: DataFrame, // (shardId, term, docId, tf, dl[, pos]) — LAZY, narrow
      n: Long,
      shardSize: Long
  )

  /** Pass-1 skeleton shared by relations() (test/verify scale, postings
    * cached) and IndexStore.build (production path, postings stream through
    * the encode shuffle ONCE, uncached — corpus/term stats are then derived
    * from the ~100x-smaller encoded blocks).
    *
    * `docsDir`: the docs-with-ids table is CHECKPOINTED to parquet there
    * and read back before anything derives from it. This is load-bearing
    * for correctness, not a convenience: docId assignment routes
    * per-partition offsets by runtime partition id, which is only valid
    * for the materialization the offsets were counted on — a cache
    * eviction (or an unpersist of a plan-identical Dataset elsewhere:
    * Spark's CacheManager matches by canonicalized plan!) would silently
    * recompute the range exchange with fresh sampling and mis-route every
    * offset. Parquet makes the ids durable; all downstream reads are
    * recompute-safe.
    *
    * `idOffset`/`fixedShardSize`: set by incremental snapshot appends so
    * delta docs continue the base id space and land in the base's shard
    * grid. The returned `n` (and relations()' `corpus`/`termStats`) then
    * describe the DELTA only (the append path merges them with the base's).
    */
  def prepare(spark: SparkSession, turns: Dataset[Turn], docsDir: String,
      cfg: Config = Config(),
      idOffset: Long = 0L, fixedShardSize: Option[Long] = None): Prepared = {
    import spark.implicits._
    val assigned = DocIds.assignWithCount(spark, indexableTurns(turns),
      cfg.docIdPartitions, idOffset)
    val n = assigned.count
    val shardSize = fixedShardSize.getOrElse(
      math.max(1L, (n + cfg.numShards - 1) / cfg.numShards))

    assigned.docs.write.mode("overwrite")
      .option("compression", IndexStore.IndexCodec).parquet(docsDir)
    assigned.cache.unpersist() // sort layout no longer needed once ids are durable
    val docs = spark.read.parquet(docsDir).as[Doc]

    // tf is per-document: count INSIDE the row (custom term_freqs /
    // term_positions expression) instead of explode + groupBy(term, docId),
    // which would shuffle every token in the corpus only to re-combine
    // values that were co-located all along. shardId = docId/shardSize is a
    // column, not a layout — the one posting-level exchange happens in
    // encodePostings. Positional builds derive tf from the in-row position
    // lists (tf = |positions|); non-positional builds carry NO pos column
    // at all — even an empty-array column costs ~16 B/posting through the
    // encode shuffle, measured as a 25% local[16] build-throughput hit on
    // this bandwidth-bound box (166k -> 123k turns/s).
    val tokenized = docs.toDF()
      .select((col("docId") / shardSize).cast("int").as("shardId"),
        $"docId", Analyzer.tokensCol($"text", cfg.analyzer).as("toks"))
    val postings =
      if (cfg.storePositions)
        tokenized
          .select($"shardId", $"docId", size($"toks").as("dl"),
            explode(graft.plans.TermPositions($"toks")).as(Seq("term", "pos")))
          .select($"shardId", $"term", $"docId", size($"pos").as("tf"), $"dl", $"pos")
      else
        tokenized
          .select($"shardId", $"docId", size($"toks").as("dl"),
            explode(graft.plans.TermFreqs($"toks")).as(Seq("term", "tf")))
          .select($"shardId", $"term", $"docId", $"tf", $"dl")
    Prepared(docs, postings, n, shardSize)
  }

  def relations(spark: SparkSession, turns: Dataset[Turn], docsDir: String,
      cfg: Config = Config(),
      idOffset: Long = 0L, fixedShardSize: Option[Long] = None): Relations = {
    import spark.implicits._
    val p0 = prepare(spark, turns, docsDir, cfg, idOffset, fixedShardSize)
    val n = p0.n
    val shardSize = p0.shardSize
    val docs = p0.docs
    val postings = p0.postings.persist(StorageLevel.MEMORY_AND_DISK)

    // dl for every doc, including token-less ones (dl = 0), derived from
    // the postings — NOT a second tokenize pass over the corpus.
    val docStats = docs.select($"docId")
      .join(postings.groupBy($"docId").agg(sum($"tf").cast("int").as("dl")),
        Seq("docId"), "left")
      .select($"docId", coalesce($"dl", lit(0)).as("dl"))

    // avgdl = total tokens / N; the sum is an exact integer so this equals
    // avg(dl) in every summation order
    val totalTokens = postings.agg(sum($"tf".cast("long"))).as[Option[Long]].first().getOrElse(0L)
    val avgdl = if (n == 0) 0.0 else totalTokens.toDouble / n
    val corpus = CorpusStats(n, avgdl)

    val termStats = postings
      .groupBy($"term")
      .agg(count(lit(1)).as("df"))
      .withColumn("idf", graft.query.Bm25.idfCol(n, $"df"))
      .as[TermStat]

    Relations(docs, postings, docStats, termStats, corpus, shardSize)
  }

  /** Pass 2: encoded posting blocks — THE sort-merge shuffle of the north
    * rule. Hash-exchange on the (shardId, term) GROUP key (never on docId:
    * a group must not straddle a partition boundary or block boundaries
    * become partition-layout-dependent and resume checksums drift), then
    * in-partition sort by (shardId, term, docId) + the streaming
    * [[BlockEncoder]] straight off the exchanged InternalRows.
    * numShards >= 4x partitions keeps the shard->partition placement
    * balanced.
    *
    * `postings` is (shardId, term, docId, tf, dl), plus `pos` only for
    * positional builds: non-positional postings carry no pos column through
    * the exchange, and their blocks get an empty positions stream.
    */
  def encodePostings(
      spark: SparkSession,
      postings: DataFrame,
      cfg: Config = Config()
  ): Dataset[PostingBlock] = {
    import spark.implicits._
    val blockSize = cfg.blockSize
    val parts = if (cfg.encodePartitions > 0) cfg.encodePartitions
      else spark.sparkContext.defaultParallelism
    val withPositions = postings.columns.contains("pos")
    val cols = Seq("shardId", "term", "docId", "tf", "dl") ++
      (if (withPositions) Seq("pos") else Nil)
    val rows = postings
      .repartition(parts, $"shardId", $"term")
      .sortWithinPartitions($"shardId", $"term", $"docId")
      .select(cols.map(col): _*)
      .queryExecution.toRdd
      .mapPartitions(it => new BlockEncoder(it.buffered, blockSize, withPositions))
    spark.createDataset(rows)
  }

  /** BM25 per-term partial (without idf) — delegates to the ONE formula
    * definition in [[graft.query.Bm25.partial]] so the block-bound math
    * can never drift from the scoring paths.
    */
  def partial(tf: Int, dl: Int, k1: Double, b: Double, avgdl: Double): Double =
    graft.query.Bm25.partial(tf, dl, k1, b, avgdl)

  /** Streaming block encoder over (shardId, term, docId)-sorted
    * InternalRows (shardId, term, docId, tf, dl[, pos]): groups each
    * (shard, term) sub-list into blocks of <= blockSize postings without
    * materializing a term's full posting list (a head term at 10^12 docs
    * does not fit in one task's heap; a 128-entry block always does).
    * Postings land in primitive column buffers ([[Codec.encodeRaw]]); with
    * `withPositions`, each posting's position list (column 5) is copied out
    * of the row and the block's lists become its positions stream
    * ([[Codec.encodePositions]]), otherwise that stream is empty. The
    * UTF8String term is compared against the row's buffer directly and
    * materializes as a String once per (shard, term) group. InternalRows
    * may be reused by the upstream iterator, so nothing row-backed is
    * retained across next().
    */
  private[graft] final class BlockEncoder(
      it: BufferedIterator[org.apache.spark.sql.catalyst.InternalRow],
      blockSize: Int,
      withPositions: Boolean
  ) extends Iterator[PostingBlock] {

    private var curShard = -1
    private var curTerm: org.apache.spark.unsafe.types.UTF8String = null
    private var curTermStr: String = null
    private var blockIdx = 0
    private val docIds = new Array[Long](blockSize)
    private val tfs = new Array[Int](blockSize)
    private val dls = new Array[Int](blockSize)
    private val posLists = if (withPositions) new Array[Array[Int]](blockSize) else null

    override def hasNext: Boolean = it.hasNext

    override def next(): PostingBlock = {
      val head = it.head
      val shard = head.getInt(0)
      val term = head.getUTF8String(1)
      if (shard != curShard || curTerm == null || !(term == curTerm)) {
        curShard = shard
        curTerm = term.clone() // row buffers are reused upstream
        curTermStr = curTerm.toString
        blockIdx = 0
      }
      var n = 0
      var maxTf = 0
      var minDl = Int.MaxValue
      var sumTf = 0L
      while (it.hasNext && n < blockSize && {
          val h = it.head; h.getInt(0) == shard && h.getUTF8String(1) == curTerm
        }) {
        val r = it.next()
        val tf = r.getInt(3)
        val dl = r.getInt(4)
        docIds(n) = r.getLong(2)
        tfs(n) = tf
        dls(n) = dl
        if (withPositions) posLists(n) = r.getArray(5).toIntArray()
        if (tf > maxTf) maxTf = tf
        if (dl < minDl) minDl = dl
        sumTf += tf
        n += 1
      }
      val block = PostingBlock(
        shardId = shard,
        term = curTermStr,
        blockIdx = blockIdx,
        minDocId = docIds(0),
        maxDocId = docIds(n - 1),
        n = n,
        maxTf = maxTf,
        minDl = minDl,
        sumTf = sumTf,
        payload = Codec.encodeRaw(docIds, tfs, dls, n),
        positions =
          if (withPositions) Codec.encodePositions(ArraySeq.unsafeWrapArray(posLists).take(n))
          else Array.emptyByteArray
      )
      blockIdx += 1
      block
    }
  }
}
