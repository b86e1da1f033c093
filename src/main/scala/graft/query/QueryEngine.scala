package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec,
  InputAdapter, ProjectExec, SparkPlan, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalRows
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Analyzer
import graft.index.{Codec, IndexBuilder, DocIdSet}
import graft.model._

/** Top-k BM25 query engine. Two exact, rank-identical paths:
  *
  *   - `exhaustiveTopK`: relational scoring over the postings Dataset —
  *     pure built-in operators (broadcast joins + deterministic per-doc
  *     fold), fully inside whole-stage codegen. This is the semantic
  *     baseline every optimized path must match (SURVEY.md §7.3 step 3).
  *
  *   - every ranked query (`wandTopK`, AND, m-of-n, exclusions,
  *     wildcards, phrases, `field:value` filters, batches): block-max WAND
  *     over the encoded posting blocks, one document-at-a-time scorer
  *     ([[QueryEngine.BoolScorer]]) per docId-range shard whose pivot doc
  *     passes per-document checks (tombstones, field allow-list,
  *     exclusions, then phrase positions — Lucene's two-phase iteration).
  *     A scan task keeps ONE top-k heap per query for all of its shard
  *     groups ([[TopKHeap]]), and its θ is the pair (score, docId) of the
  *     heap's worst entry, so a shard group read late prunes against the
  *     task's best so far in whatever order the groups arrive (REPOSE's
  *     partition-level threshold sharing). Each task returns its top k per
  *     query as primitive arrays; the driver k-way merges them under
  *     (score desc, docId asc) — the reference's final orderBy/limit
  *     (bm25_searcher.py:111) — and the result is a local relation of
  *     those rows. Block-max metadata is an upper bound used only to SKIP
  *     work, never to approximate — exactness is property-tested against
  *     the exhaustive path. A lone quoted phrase scores as one term
  *     (Lucene's PhraseQuery) whose idf needs its df, known only once
  *     every task has counted its matches: the same scan walks the
  *     phrase, each task returns its match count and the candidates that
  *     any idf can rank into the top k ([[PhraseMatches]]), and the driver
  *     sums the df and finishes ([[mergePhrase]]).
  *
  * Serving a ranked query, or a whole batch of them, on a loaded index is
  * ONE Spark job: the query terms' idfs and every wildcard expansion come
  * from a driver-side term dictionary ([[TermDictionary]], loaded once per
  * `termStats` relation), the scorer reads the term-pushed block scan as
  * the files lie — each shard's blocks of one generation are one file, so
  * a task that reads whole files holds every posting of its docs and needs
  * no shuffle ([[shardGrouped]]) — and the finish is the driver merge, not
  * a second job. The job runs inside the call. Blocks that do not meet the
  * whole-file gate (persisted, in-memory, split or multi-file shard dirs)
  * are exchanged on shardId as before.
  *
  * Contrast with the reference's scorer, which funneled every document to
  * a single GPU task via repartition(1) (bm25_searcher.py:102-107); here
  * every shard scores independently and in parallel.
  */
object QueryEngine {

  /** Exact BM25 contribution as a Column — the association mirrors
    * Bm25.contribution token for token so both produce bit-identical
    * doubles.
    */
  private def contributionCol(qtf: Column, idf: Column, tf: Column, dl: Column,
      avgdl: Double, p: Bm25Params): Column =
    qtf * idf * (tf * lit(p.k1 + 1.0) /
      (tf + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * dl / lit(avgdl))))

  /** Relational top-k: returns (docId, score), exact doubles, already
    * ordered (score desc, docId asc) and limited to k.
    *
    * Plan shape: postings filtered to the (tiny) query-term set → broadcast
    * joins against query weights and term stats → per-doc deterministic
    * fold in ascending term order (collect_list of <=|q| structs +
    * array_sort + aggregate — never more elements than query terms) →
    * TakeOrderedAndProject.
    */
  def exhaustiveTopK(
      spark: SparkSession,
      rel: IndexBuilder.Relations,
      query: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config()
  ): DataFrame = {
    import spark.implicits._
    val qterms = Analyzer.analyzeQuery(query, cfg.analyzer)
    if (qterms.isEmpty) return emptyScores(spark)
    val qdf = qterms.toDF("term", "qtf")
    val p = cfg.params
    val avgdl = rel.corpus.avgdl

    rel.postings
      .filter($"term".isin(qterms.map(_._1): _*))
      .join(broadcast(qdf), Seq("term"))
      .join(broadcast(rel.termStats.toDF()), Seq("term"))
      .withColumn("contrib",
        contributionCol($"qtf", $"idf", $"tf", $"dl", avgdl, p))
      .groupBy($"docId")
      .agg(collect_list(struct($"term", $"contrib")).as("cs"))
      .select($"docId",
        aggregate(array_sort($"cs"), lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("score"))
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }

  /** (docId, score): every ranked result's schema. */
  private val ScoreSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** (qid, docId, score): a batch's. */
  private val QidScoreSchema = StructType(StructField("qid", StringType) +: ScoreSchema.fields)

  /** The one finish of every ranked path: (docId, score) rows already on
    * the driver, in rank order, as a local relation.
    */
  private def scoreRows(spark: SparkSession, rows: Seq[InternalRow]): DataFrame =
    LocalRows.frame(spark, ScoreSchema, rows)

  private def emptyScores(spark: SparkSession): DataFrame = scoreRows(spark, Nil)

  /** Decorate top-k scores with the originating turn (reference join J3
    * shape, bm25_searcher.py:117-120): the k-row side is broadcast.
    */
  def decorate(topK: DataFrame, docs: Dataset[Doc]): DataFrame = {
    docs.toDF()
      .join(broadcast(topK), Seq("docId"))
      .select(col("docId"), col("score"), col("conv_id"), col("turn_idx"), col("text"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  // ---------------------------------------------------------- BM25 scoring

  /** Query-term state passed to executors: weight = qtf * idf. */
  private[query] final case class QTerm(term: String, weight: Double)

  /** A quoted phrase as the scorer checks it: analyzed tokens in order,
    * duplicates kept, and the slop.
    */
  private[query] type Phrase = (Seq[String], Int)

  /** One ranked query as the shard scorer sees it: `terms` sorted by term
    * (the pinned ascending summation order), `excluded` the exclusion
    * terms that have postings, `m` how many of `terms` a document must
    * contain, `phrases` the phrases it must hold (every phrase word is one
    * of `terms`), `allow` the docIds its `field:value` filters keep (None:
    * no filter). `phraseAsTerm`: a lone quoted phrase, scored as one term
    * (tf = its occurrences, idf over its df) — its `terms` are the
    * distinct phrase words, walked but never weighted.
    */
  private[query] final case class BoolQuery(qid: String, terms: Seq[QTerm],
      excluded: Seq[String], m: Int, phrases: Seq[Phrase] = Nil,
      allow: Option[DocIdSet] = None, phraseAsTerm: Boolean = false)

  /** A ranked query before the idf lookup: positive (term, qtf) pairs,
    * the rest as in [[BoolQuery]].
    */
  private final case class TermQuery(qid: String, terms: Seq[(String, Int)],
      excluded: Seq[String], m: Int, phrases: Seq[Phrase] = Nil,
      allow: Option[DocIdSet] = None, phraseAsTerm: Boolean = false)

  /** The PostingBlock and TermStat encoders, derived once
    * (`spark.implicits._` derives them by Scala reflection at every use).
    */
  private val PostingBlockEnc: Encoder[PostingBlock] = Encoders.product[PostingBlock]
  private val TermStatEnc: Encoder[TermStat] = Encoders.product[TermStat]

  /** Blocks with the positions column blanked on every row but
    * `phraseWords`': the typed Dataset[PostingBlock] deserializer would
    * otherwise force the parquet scan to read the phrase-only positions
    * bytes on every BM25 query of a positional index (asserted away in
    * PlanSpec), and a phrase query ships through the exchange only the
    * positions its positional check can read.
    */
  private def scoringBlocks(blocks: Dataset[PostingBlock],
      phraseWords: Seq[String] = Nil): Dataset[PostingBlock] = {
    val none = typedLit(Array.emptyByteArray)
    blocks.toDF()
      .withColumn("positions",
        if (phraseWords.isEmpty) none
        else when(col("term").isin(phraseWords: _*), col("positions")).otherwise(none))
      .as(PostingBlockEnc)
  }

  /** A batch of ranked queries as the scorer runs them: the query terms'
    * idfs from the term dictionary (one collect of just those terms when
    * the dictionary is over its cap), and ONE term-pushed block scan
    * grouped by shard ([[shardGrouped]]: no exchange on a loaded index)
    * that every query shares. None when no query can match.
    *
    * A term without postings matches nowhere: it drops out, and a query
    * left with fewer than m terms matches nothing (so one absent required
    * term empties an AND); an excluded term without postings excludes
    * nothing. A phrase word without postings, an all-stopword phrase or
    * an empty allow-list empties its query. A lone phrase reads no term
    * stats: its words are walked unweighted, and a word without postings
    * is in no shard, so nothing matches.
    */
  private def scorerPlan(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      queries: Seq[TermQuery],
      cfg: IndexBuilder.Config
  ): Option[(Seq[BoolQuery], Dataset[PostingBlock])] = {
    import spark.implicits._
    // fewer distinct terms than m can never match: no idf collect for them
    val satisfiable = queries.filter(q => q.terms.nonEmpty && q.terms.size >= q.m &&
      q.phrases.forall(_._1.nonEmpty) && q.allow.forall(_.nonEmpty))
    val names = satisfiable.filterNot(_.phraseAsTerm)
      .flatMap(q => q.terms.map(_._1) ++ q.excluded).distinct
    val idfs: Map[String, Double] =
      if (names.isEmpty) Map.empty
      else termDictionary(termStats) match {
        case Some(dict) => names.flatMap(t => dict.idf(t).map(t -> _)).toMap
        case None => termStats.filter($"term".isin(names: _*))
          .collect().map(t => t.term -> t.idf).toMap
      }
    val live = satisfiable.flatMap { q =>
      val qts = q.terms.collect {
        case (t, _) if q.phraseAsTerm => QTerm(t, 0.0)
        case (t, qtf) if idfs.contains(t) => QTerm(t, qtf * idfs(t))
      }.sortBy(_.term)
      // a phrase match holds every distinct phrase word, each a positive
      // term: the count condition rises to max(m, |words|) and stays exact
      val words = q.phrases.flatMap(_._1).distinct
      if (qts.size < q.m || !words.forall(w => qts.exists(_.term == w))) None
      else Some(BoolQuery(q.qid, qts, q.excluded.filter(idfs.contains),
        math.max(q.m, words.size), q.phrases, q.allow, q.phraseAsTerm))
    }
    if (live.isEmpty) return None
    val scanNames = live.flatMap(q => q.terms.map(_.term) ++ q.excluded).distinct
    val scan = scoringBlocks(blocks, live.flatMap(_.phrases.flatMap(_._1)).distinct)
      .filter(col("term").isin(scanNames: _*))
    Some((live, shardGrouped(scan, blocks, cfg)))
  }

  /** The exact top k of every query of a batch that has any match, by qid:
    * ONE Spark job over [[scorerPlan]]'s scan, in which each task scores
    * its shard groups into one heap per query and returns that query's top
    * k ([[BoolScorer.scoreTask]]), then a k-way merge of the tasks' lists
    * on the driver ([[mergeTopK]]; a lone phrase's through [[mergePhrase]]).
    * The job runs now, inside the call.
    */
  private def rankedTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      queries: Seq[TermQuery],
      k: Int,
      cfg: IndexBuilder.Config,
      tombstones: DocIdSet
  ): Seq[(String, Ranked)] = {
    if (k < 1) return Nil
    val (live, scan) = scorerPlan(spark, blocks, termStats, queries, cfg).getOrElse(return Nil)
    val p = cfg.params
    val avgdl = corpus.avgdl
    val kk = k
    val qB = spark.sparkContext.broadcast(live)
    val tsB = tombstones.broadcastVia(spark)
    val perTask = try {
      scan.rdd.mapPartitions { it =>
        BoolScorer.scoreTask(it.buffered, qB.value, kk, p.k1, p.b, avgdl, tsB.value)
      }.collect()
    } finally qB.destroy()
    perTask.groupBy(_._1).toSeq.sortBy(_._1).map { case (i, parts) =>
      val lists = parts.map(_._2).toSeq
      live(i).qid ->
        (if (live(i).phraseAsTerm) mergePhrase(lists, corpus.docCount, k) else mergeTopK(lists, k))
    }
  }

  /** The best `k` of several lists (one per scan task, each in any
    * order), in rank order (score desc, docId asc), under the heap's one
    * comparison. A docId is in at most one list: a doc's postings all sit
    * in one file, which one task reads whole (or in one exchanged shard).
    */
  private[query] def mergeTopK(lists: Seq[Ranked], k: Int): Ranked = {
    val heap = new TopKHeap(k)
    lists.foreach(r => r.docIds.indices.foreach(i => heap.offer(r.docIds(i), r.scores(i))))
    heap.drain()
  }

  /** A lone phrase's exact top k from its tasks' candidates
    * ([[PhraseMatches.candidates]]): idf over the live matches the tasks
    * counted, among `docCount` docs, and each candidate's score idf · f —
    * `Bm25.contribution(1, idf, tf, dl, …)` bit for bit.
    */
  private[query] def mergePhrase(lists: Seq[Ranked], docCount: Long, k: Int): Ranked = {
    val idf = Bm25.idf(docCount, lists.map(_.matches).sum)
    mergeTopK(lists.map(r => new Ranked(r.docIds, r.scores.map(idf * _))), k)
  }

  /** The scan [[searchBatch]] scores `queries`' ranked ones from — the
    * input of its one scoring job, exposed so plan-shape tests can assert
    * on it (the result is a local relation). None when no query can match.
    */
  private[graft] def scorerInput(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      queries: Seq[String],
      minShouldMatch: Int,
      cfg: IndexBuilder.Config,
      docs: Option[DataFrame] = None
  ): Option[Dataset[PostingBlock]] =
    scorerPlan(spark, blocks, termStats, termQueries(spark, termStats,
      queries.zipWithIndex.map { case (q, i) => s"q$i" -> resolveFields(q, docs) },
      minShouldMatch, cfg, docs), cfg).map(_._2)

  /** `scan` (a narrow, term-pushed view of `blocks`) arranged for the
    * shard scorers ([[Shard]]), which read contiguous same-shard rows as
    * one group. Every block write stores one file per shard dir per
    * generation, and a doc's postings all sit in its shard's file of the
    * generation that indexed it; a group of whole files therefore holds
    * every posting of its docs and is scored exactly on its own. So when
    * each file reaches one task whole ([[wholeFileScan]]) the scan is
    * used as it is: no exchange, no sort. Otherwise the blocks are
    * exchanged on shardId (one task per core, several shards per task;
    * hash partitioning keeps a shard's blocks together without a
    * RangePartitioner's sampling job) and sorted.
    */
  private def shardGrouped(scan: Dataset[PostingBlock], blocks: Dataset[PostingBlock],
      cfg: IndexBuilder.Config): Dataset[PostingBlock] =
    if (wholeFileScan(blocks)) scan
    else {
      val parts = math.max(1, math.min(cfg.numShards,
        scan.sparkSession.sparkContext.defaultParallelism))
      scan.repartition(parts, col("shardId"))
        .sortWithinPartitions(col("shardId"), col("term"), col("minDocId"))
    }

  /** Whether every file of `blocks` reaches one scan task whole, decided
    * on the driver from the physical plan and the scans' file listings (no
    * Spark job): the plan holds only file scans and narrow operators, each
    * scan is partitioned by shardId alone with exactly one file per
    * `shardId=K` dir, and no file exceeds the split size Spark computes
    * for that scan under the current conf (a larger file would be split
    * across tasks).
    *
    * Planning costs a few ms, so the verdict is memoized per relation
    * (weak identity keys, like [[dictionaries]]) and per what can change
    * it for that relation: whether the CacheManager holds any part of its
    * plan (a relation persisted since an earlier query scans from memory
    * and fails the gate) and the confs of Spark's split size.
    */
  private[query] def wholeFileScan(blocks: Dataset[PostingBlock]): Boolean = {
    val qe = blocks.queryExecution
    val spark = qe.sparkSession
    val cache = spark.sharedState.cacheManager
    val cached = !cache.isEmpty && qe.analyzed.exists(cache.lookupCachedData(spark, _).isDefined)
    val key = (cached, SplitConfs.map(spark.conf.getOption))
    wholeFileVerdicts.synchronized {
      wholeFileVerdicts.computeIfAbsent(blocks, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate(key, planWholeFileScan(blocks))
    }
  }

  /** The confs `FilePartition.maxSplitBytes` reads. */
  private val SplitConfs = Seq("spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum",
    "spark.sql.leafNodeDefaultParallelism")

  private val wholeFileVerdicts = new java.util.WeakHashMap[Dataset[PostingBlock],
    scala.collection.mutable.Map[(Boolean, Seq[Option[String]]), Boolean]]()

  private def planWholeFileScan(blocks: Dataset[PostingBlock]): Boolean = {
    val qe = blocks.queryExecution
    val spark = qe.sparkSession
    val plan = spark.sessionState.executePlan(qe.logical).executedPlan
    def narrow(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec | _: ProjectExec | _: FilterExec | _: UnionExec |
          _: ColumnarToRowExec | _: WholeStageCodegenExec | _: InputAdapter =>
        p.children.forall(narrow)
      case _ => false
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    narrow(plan) && scans.nonEmpty && scans.forall { s =>
      val listing = s.selectedPartitions
      val maxSplit = FilePartition.maxSplitBytes(spark, listing)
      s.relation.partitionSchema.fieldNames.sameElements(Seq("shardId")) &&
        listing.filePartitionIterator.forall(p =>
          p.numFiles == 1 && p.files.forall(_.getLen <= maxSplit))
    }
  }

  /** The docIds of every posting of `terms`, decoded in-plan from the
    * term-pushed block scan — the build side of the filter-only path's
    * exclusion anti-join.
    */
  private def docsWithTerms(blocks: Dataset[PostingBlock], terms: Seq[String]): DataFrame =
    scoringBlocks(blocks).toDF()
      .filter(col("term").isin(terms: _*))
      .select(explode(graft.plans.DecodeBlock(col("payload"), col("n"))).as("pp"))
      .select(col("pp.docId").as("docId"))

  /** One ranked query's exact top k ([[rankedTopK]]), in rank order. */
  private def termTopK(spark: SparkSession, blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat], corpus: CorpusStats, query: TermQuery, k: Int,
      cfg: IndexBuilder.Config, tombstones: DocIdSet): DataFrame =
    scoreRows(spark, rankedTopK(spark, blocks, termStats, corpus, Seq(query), k, cfg,
      tombstones).flatMap { case (_, r) =>
        r.docIds.indices.map(i => InternalRow(r.docIds(i), r.scores(i)))
      })

  /** A batch of ranked queries' exact top k ([[rankedTopK]]): (qid, docId,
    * score) rows, each qid's in rank order.
    */
  private def termTopKBatch(spark: SparkSession, blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat], corpus: CorpusStats,
      queries: Seq[TermQuery], k: Int, cfg: IndexBuilder.Config,
      tombstones: DocIdSet): DataFrame = {
    // a duplicated qid would leave two queries' rows indistinguishable in
    // the result — reject instead of silently mixing the top-ks
    require(queries.map(_.qid).distinct.size == queries.size,
      s"duplicate qids in batch: ${queries.map(_.qid)}")
    val rows = rankedTopK(spark, blocks, termStats, corpus, queries, k, cfg, tombstones)
      .flatMap { case (qid, r) =>
        val q = UTF8String.fromString(qid)
        r.docIds.indices.map(i => InternalRow(q, r.docIds(i), r.scores(i)))
      }
    LocalRows.frame(spark, QidScoreSchema, rows)
  }

  /** Exclusion tokens analyzed like the index (case, word-break). */
  private def exclusionTerms(raw: Seq[String], cfg: IndexBuilder.Config): Seq[String] =
    raw.flatMap(t => Analyzer.tokenize(t, cfg.analyzer)).distinct

  /** Block-max WAND (disjunctive) top-k over encoded blocks: documents
    * containing any query term, ranked by BM25; [[BoolScorer]] with m = 1.
    *
    * @param blocks     the PostingBlock dataset/table (parquet-backed when
    *                   reading a built index; term predicate is pushed to
    *                   the scan)
    * @param termStats  full term-stats relation; only the query's rows are
    *                   collected (<= |q| rows)
    */
  def wandTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: DocIdSet = DocIdSet.empty
  ): DataFrame =
    termTopK(spark, blocks, termStats, corpus,
      TermQuery("", Analyzer.analyzeQuery(query, cfg.analyzer), Nil, 1), k, cfg, tombstones)

  /** Multi-query WAND: scores a whole query batch in ONE Spark job,
    * amortizing the per-job scheduler floor (BASELINE.md measured p50
    * latency as floor-bound, not scan-bound) and sharing the block scan +
    * block decodes across queries — the serving shape the reference's API
    * implies (/root/reference/api/combined.py:159-224, one request per
    * query against a shared index).
    *
    * Returns (qid, docId, score): per-qid exact top-k, each qid's rows in
    * rank order, same per-query results as [[wandTopK]] (property-tested).
    * The per-task lists merge on the driver: no per-qid finish job.
    */
  def wandTopKBatch(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      queries: Seq[(String, String)],
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: DocIdSet = DocIdSet.empty
  ): DataFrame =
    termTopKBatch(spark, blocks, termStats, corpus, queries.map { case (qid, q) =>
      TermQuery(qid, Analyzer.analyzeQuery(q, cfg.analyzer), Nil, 1)
    }, k, cfg, tombstones)

  // --------------------------------------------------- shared scorer glue

  /** ONE shard group consumed from a block stream whose same-shard rows
    * are contiguous ([[shardGrouped]]): the head row's shard's blocks up to
    * the next shard change, keyed by term and docId-sorted, with per-group
    * decode memos — a block read by several queries, or by a query's terms
    * and its phrases, decodes once, and a block's positions decode only
    * when a positional check asks. Read only by the one block scorer
    * ([[BoolScorer]]).
    */
  private[query] final class Shard(it: BufferedIterator[PostingBlock]) {
    private val byTerm: Map[String, Array[PostingBlock]] = {
      val shard = it.head.shardId
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[PostingBlock]]
      while (it.hasNext && it.head.shardId == shard) {
        val blk = it.next()
        acc.getOrElseUpdate(blk.term, scala.collection.mutable.ArrayBuffer.empty) += blk
      }
      acc.iterator.map { case (t, bs) => t -> bs.sortBy(_.minDocId).toArray }.toMap
    }
    // keyed by (term, minDocId): blockIdx is NOT unique within a
    // (shard, term) after an incremental append (delta blocks restart at
    // 0); minDocId is, because block docId ranges are disjoint
    private val docs = scala.collection.mutable.HashMap.empty[(String, Long), Array[Codec.P]]
    private val poss = scala.collection.mutable.HashMap.empty[(String, Long), Array[Array[Int]]]

    def has(term: String): Boolean = byTerm.contains(term)

    def cursor(term: String, weight: Double, k1: Double, b: Double, avgdl: Double): Cursor =
      new Cursor(weight, byTerm(term), k1, b, avgdl, this)

    def decode(blk: PostingBlock): Array[Codec.P] =
      docs.getOrElseUpdate((blk.term, blk.minDocId), Codec.decode(blk.payload, blk.n))

    def positions(blk: PostingBlock): Array[Array[Int]] =
      poss.getOrElseUpdate((blk.term, blk.minDocId), {
        if (blk.positions.isEmpty && blk.sumTf > 0)
          throw new IllegalStateException(
            "phrase query requires a positional index (build with storePositions = true)")
        Codec.decodePositions(blk.positions, decode(blk).map(_.tf))
      })
  }

  /** A cursor over one term's docId-sorted, non-overlapping blocks in one
    * shard — the one posting-list cursor of every scorer.
    */
  private[query] final class Cursor(weight: Double, blocks: Array[PostingBlock],
      k1: Double, b: Double, avgdl: Double, shard: Shard) {
    // Upper bounds derive from (maxTf, minDl) with the CURRENT corpus
    // avgdl: partial() is monotone up in tf, down in dl, so this bounds
    // every posting even after incremental appends moved avgdl.
    private def blockUb(i: Int): Double =
      weight * graft.index.IndexBuilder.partial(
        blocks(i).maxTf, blocks(i).minDl, k1, b, avgdl)
    val globalUb: Double = {
      var m = 0.0
      var i = 0
      while (i < blocks.length) { val u = blockUb(i); if (u > m) m = u; i += 1 }
      m
    }
    private var bi = 0
    private var decoded: Array[Codec.P] = shard.decode(blocks(0))
    private var poss: Array[Array[Int]] = _ // the current block's, once asked
    private var pi = 0
    var exhausted: Boolean = false

    def curDoc: Long = decoded(pi).docId
    def curDl: Int = decoded(pi).dl
    def curBlockUb: Double = blockUb(bi)

    /** The current posting's positions (a positional index's only). */
    def curPositions: Array[Int] = {
      if (poss == null) poss = shard.positions(blocks(bi))
      poss(pi)
    }

    def currentContribution(): Double =
      weight * Bm25.partial(decoded(pi).tf, decoded(pi).dl, k1, b, avgdl)

    def advance(): Unit = {
      pi += 1
      if (pi >= decoded.length) load(bi + 1)
    }

    /** Skip forward to the first posting with docId >= target. Whole
      * blocks are skipped on maxDocId metadata alone — only the landing
      * block is decoded.
      */
    def advanceTo(target: Long): Unit = {
      if (exhausted) return
      if (blocks(bi).maxDocId < target) {
        var nb = bi + 1
        while (nb < blocks.length && blocks(nb).maxDocId < target) nb += 1
        load(nb)
        if (exhausted) return
      }
      while (decoded(pi).docId < target) pi += 1 // maxDocId bound => terminates
    }

    private def load(nb: Int): Unit = {
      bi = nb
      pi = 0
      poss = null
      if (bi >= blocks.length) { exhausted = true; decoded = null }
      else decoded = shard.decode(blocks(bi))
    }
  }

  /** One query's top k in rank order (score desc, docId asc), as
    * primitive arrays — what a scan task returns per query and what the
    * driver merge ([[mergeTopK]]) reads and writes. A task's list for a
    * lone phrase is its candidates instead, in no order, `scores` holding
    * their idf-free parts f and `matches` the task's live match count
    * ([[PhraseMatches]]).
    */
  private[query] final class Ranked(val docIds: Array[Long], val scores: Array[Double],
      val matches: Long = 0L) extends Serializable

  /** A lone phrase's live matches in one scan task, each keyed on the
    * idf-free part of its score, f = `Bm25.partial(tf, dl, …)`: the phrase
    * scores as one term, and its idf waits on the df the driver sums.
    */
  private[query] final class PhraseMatches {
    private val docIds = new scala.collection.mutable.ArrayBuilder.ofLong
    private val fs = new scala.collection.mutable.ArrayBuilder.ofDouble

    def isEmpty: Boolean = docIds.length == 0

    def add(docId: Long, f: Double): Unit = { docIds += docId; fs += f }

    /** Every match that an idf ≥ 0 can rank into the phrase's top k, and
      * the match count. Multiplying by idf > 0 keeps the order of the f's
      * but can round two of them into one score, and the docId tie-break
      * then decides; idf = 0 (the phrase is in every live doc) scores every
      * match 0. So the candidates are the top k by (f desc, docId asc),
      * every match with f ≥ f_k·(1 − 4ε), f_k the k-th f (a doc whose
      * score ties the k-th's has an f ≥ f_k·(1 − ε)), and the k smallest
      * docIds.
      */
    def candidates(k: Int): Ranked = {
      val ids = docIds.result()
      val f = fs.result()
      val n = ids.length
      val keep: Int => Boolean =
        if (n <= k) _ => true
        else {
          val byF = f.clone()
          java.util.Arrays.sort(byF)
          val byId = ids.clone()
          java.util.Arrays.sort(byId)
          val minF = byF(n - k) * (1.0 - 4 * Eps)
          val maxId = byId(k - 1)
          i => f(i) >= minF || ids(i) <= maxId
        }
      val kept = (0 until n).filter(keep)
      new Ranked(kept.map(ids).toArray, kept.map(f).toArray, n)
    }
  }

  /** ε = 2^-52, the gap between 1.0 and the next double. */
  private val Eps = java.lang.Math.ulp(1.0)

  /** Bounded top-k accumulator under the global tie-break (score desc,
    * docId asc), one per (scan task, query), shared by every shard group
    * the task scores. Its worst entry — smallest score, ties broken toward
    * the larger docId — is WAND's θ, and θ is that entry's (score, docId)
    * PAIR: a task reads its shard groups in whatever order its files come
    * (docIds do not ascend across groups), so a later candidate may hold a
    * smaller docId than θ's and win an exact score tie. [[admits]] is the
    * one comparison behind both pruning and insertion, so the ranking
    * contract has exactly one definition. A binary heap over primitive
    * arrays, worst entry at the root, grown on demand up to k.
    */
  private[query] final class TopKHeap(k: Int) {
    private var docIds = new Array[Long](math.min(k, 16))
    private var scores = new Array[Double](docIds.length)
    private var size = 0

    def isEmpty: Boolean = size == 0

    /** Whether a doc `docId` scoring `bound` — or at most `bound`, an
      * upper bound — can enter: always while the heap is unfilled, else
      * iff it beats θ under (score desc, docId asc).
      */
    def admits(bound: Double, docId: Long): Boolean =
      size < k || bound > scores(0) || (bound == scores(0) && docId < docIds(0))

    def offer(docId: Long, score: Double): Unit =
      if (size < k) {
        if (size == docIds.length) {
          val cap = math.min(k.toLong, 2L * size).toInt
          docIds = java.util.Arrays.copyOf(docIds, cap)
          scores = java.util.Arrays.copyOf(scores, cap)
        }
        set(size, docId, score)
        size += 1
        siftUp(size - 1)
      } else if (admits(score, docId)) {
        set(0, docId, score)
        siftDown(0)
      }

    /** The entries in rank order; empties the heap. */
    def drain(): Ranked = {
      val out = new Ranked(new Array[Long](size), new Array[Double](size))
      while (size > 0) {
        size -= 1
        out.docIds(size) = docIds(0)
        out.scores(size) = scores(0)
        set(0, docIds(size), scores(size))
        siftDown(0)
      }
      out
    }

    private def set(i: Int, docId: Long, score: Double): Unit = {
      docIds(i) = docId
      scores(i) = score
    }

    /** Whether entry i ranks below entry j. */
    private def worse(i: Int, j: Int): Boolean =
      scores(i) < scores(j) || (scores(i) == scores(j) && docIds(i) > docIds(j))

    private def swap(i: Int, j: Int): Unit = {
      val d = docIds(i); val s = scores(i)
      set(i, docIds(j), scores(j))
      set(j, d, s)
    }

    private def siftUp(from: Int): Unit = {
      var i = from
      while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }

    private def siftDown(from: Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1
        var w = i
        if (l < size && worse(l, w)) w = l
        if (l + 1 < size && worse(l + 1, w)) w = l + 1
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }
  }

  // --------------------------------------------- conjunctive (boolean AND)

  /** Split a search-box query into (positive text, excluded terms): a
    * whitespace token starting with '-' is an exclusion ("spark join
    * -stream"), everything else is a required term. Both sides go through
    * the ordinary analyzer, so exclusions follow the same case/word-break
    * rules as the index.
    */
  private[graft] def parseBoolean(query: String): (String, Seq[String]) = {
    val (neg, pos) = query.split("\\s+").toSeq.filter(_.nonEmpty)
      .partition(t => t.length > 1 && t.startsWith("-"))
    (pos.mkString(" "), neg.map(_.drop(1)))
  }

  /** Conjunctive (boolean AND) top-k: only documents containing EVERY
    * analyzed query term qualify, ranked by full BM25 over those terms;
    * `-term` tokens exclude documents containing the term. This is the
    * semantics most search boxes apply to plain multi-word queries (the
    * reference UI's free-text search implies it, App.js) — WAND's
    * disjunctive top-k is the recall-oriented complement.
    *
    * [[BoolScorer]] with m = n: its pivot is the cursor furthest ahead, so
    * the scorer runs a leapfrog intersection whose lagging cursors skip
    * whole blocks on maxDocId metadata without decoding, pruned further by
    * the block-max bounds once the heap holds k docs. Work is bounded by
    * the RAREST required term's postings — never a corpus scan; a required
    * term absent from the corpus empties the result on the driver.
    */
  def conjunctiveTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: DocIdSet = DocIdSet.empty
  ): DataFrame = {
    val (posText, negRaw) = parseBoolean(query)
    val analyzed = Analyzer.analyzeQuery(posText, cfg.analyzer)
    termTopK(spark, blocks, termStats, corpus,
      TermQuery("", analyzed, exclusionTerms(negRaw, cfg), analyzed.size), k, cfg, tombstones)
  }

  /** Shared by [[prefixTopK]] and its oracle builder: wildcard tokens
    * (trailing `*`) are split from literal ones BEFORE analysis ('*' is
    * not a word character — the analyzer would silently strip it), and
    * each prefix is analyzed under the same case/word-break rules as a
    * term. Returns (analyzed literal (term, qtf), (prefix, qtf)).
    */
  private[graft] def parsePrefixQuery(query: String,
      cfg: IndexBuilder.Config): (Seq[(String, Int)], Seq[(String, Int)]) = {
    val rawTokens = query.split("\\s+").toSeq.filter(_.nonEmpty)
    val (wild, plain) = rawTokens.partition(t => t.length > 1 && t.endsWith("*"))
    val literal = Analyzer.analyzeQuery(plain.mkString(" "), cfg.analyzer)
    (literal, analyzePrefixStems(wild.map(_.dropRight(1))))
  }

  /** Wildcard stems analyze WITHOUT the stopword filter: Lucene expands a
    * prefix regardless of what it spells, so `the*` must scan the
    * dictionary (which never contains stopwords — the expansion is still
    * exact) instead of silently matching nothing because the stem itself
    * is a stopword. A multi-word-run stem keeps its last run (`foo-bar*`
    * prefixes on `bar`).
    */
  private[graft] def analyzePrefixStems(stems: Seq[String]): Seq[(String, Int)] =
    stems
      .flatMap(t => Analyzer.tokenize(t, Analyzer.noStopwords).lastOption)
      .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)

  /** The one lookup behind every wildcard expansion: per-stem capped term
    * lists, the first [[PrefixExpansionCap]] dictionary terms with the
    * stem as prefix in Spark's string order. A binary-search range of the
    * term dictionary, no Spark job; above [[DictionaryCap]] terms, ONE
    * dictionary scan for all stems (a union of per-stem capped scans, each
    * with its StringStartsWith predicate pushed to the termstats parquet).
    * Shared by the single-query paths and [[searchBatch]], which expands
    * every query's stems together.
    */
  private def expandStems(
      spark: SparkSession,
      termStats: Dataset[TermStat],
      stems: Seq[String]): Map[String, Seq[String]] = {
    import spark.implicits._
    if (stems.isEmpty) return Map.empty
    termDictionary(termStats) match {
      case Some(dict) =>
        stems.distinct.map(p => p -> dict.withPrefix(p, PrefixExpansionCap).sorted).toMap
      case None =>
        val scans = stems.distinct.map { p =>
          termStats.filter($"term".startsWith(p)).select($"term")
            .orderBy($"term").limit(PrefixExpansionCap)
            .withColumn("pfx", lit(p))
        }
        scans.reduce(_ unionByName _).collect()
          .groupBy(_.getString(1)).view
          .mapValues(_.map(_.getString(0)).toSeq.sorted).toMap
    }
  }

  /** Most terms a driver-side [[TermDictionary]] holds (~100 B a term on
    * the driver); a larger vocabulary keeps the per-query lookups.
    */
  private[query] val DictionaryCap = 1000000

  /** Spark's string order — UTF-8 bytes compared unsigned
    * (`UTF8String.compareTo`), the order `orderBy(term)` sorts in. It
    * differs from `String.compareTo` (UTF-16 code units) for terms
    * mixing supplementary characters with the BMP's top block.
    */
  private val SparkStringOrder: Ordering[UTF8String] = (a, b) => a.compareTo(b)

  /** Every term of an index with its idf, sorted in [[SparkStringOrder]]:
    * the idf lookup is a binary search and a prefix's terms are one
    * contiguous range (a UTF-8 prefix is a byte prefix).
    */
  private[query] final class TermDictionary(terms: Array[String], idfs: Array[Double]) {
    /** First index whose term is not below `key`. */
    private def lowerBound(key: UTF8String): Int = {
      var lo = 0
      var hi = terms.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (SparkStringOrder.lt(UTF8String.fromString(terms(mid)), key)) lo = mid + 1
        else hi = mid
      }
      lo
    }

    def idf(term: String): Option[Double] = {
      val i = lowerBound(UTF8String.fromString(term))
      if (i < terms.length && terms(i) == term) Some(idfs(i)) else None
    }

    /** The first `cap` terms starting with `stem`, in Spark's order: what
      * `filter(startsWith(stem)).orderBy(term).limit(cap)` returns.
      */
    def withPrefix(stem: String, cap: Int): Seq[String] = {
      val p = UTF8String.fromString(stem)
      Iterator.range(lowerBound(p), terms.length).map(terms(_))
        .takeWhile(t => UTF8String.fromString(t).startsWith(p)).take(cap).toSeq
    }
  }

  /** One dictionary (or None: more than `cap` terms) per `termStats`
    * relation, held as long as the relation is. Keys are weak and compare
    * by identity (a Dataset does not override equals): an Index handle
    * passes the same relation on every query, and a reloaded index brings
    * a new one, so an entry never goes stale.
    */
  private val dictionaries =
    new java.util.WeakHashMap[Dataset[TermStat], Option[TermDictionary]]()

  /** The dictionary of `termStats`, loaded on first use by one collect of
    * at most `cap` + 1 (term, idf) rows; the first call's `cap` decides
    * for the relation's lifetime (tests pass a small one to force the
    * fallback).
    */
  private[query] def termDictionary(termStats: Dataset[TermStat],
      cap: Int = DictionaryCap): Option[TermDictionary] =
    dictionaries.synchronized {
      dictionaries.computeIfAbsent(termStats, _ => {
        val rows = termStats.select(col("term"), col("idf")).limit(cap + 1).collect()
        if (rows.length > cap) None
        else {
          val sorted = rows.map(r => (UTF8String.fromString(r.getString(0)), r))
            .sortBy(_._1)(SparkStringOrder).map(_._2)
          Some(new TermDictionary(sorted.map(_.getString(0)), sorted.map(_.getDouble(1))))
        }
      })
    }

  /** Wildcard stems (with occurrence counts) replaced by their dictionary
    * expansions from [[expandStems]].
    */
  private def expand(stems: Seq[(String, Int)],
      byStem: Map[String, Seq[String]]): Seq[(String, Int)] =
    stems.flatMap { case (p, qtf) => byStem.getOrElse(p, Nil).map(_ -> qtf) }

  /** Max dictionary terms a single trailing-`*` token may expand to —
    * Lucene's MaxClauseCount shape. Deterministic: the FIRST cap terms in
    * ascending term order (mirrored in the oracle); beyond it a prefix is
    * too unselective to be a useful query anyway.
    */
  val PrefixExpansionCap = 1024

  /** Prefix/wildcard top-k: query tokens ending in `*` expand against the
    * term dictionary (Lucene MultiTermQuery, SCORING_BOOLEAN rewrite) and
    * the whole query then runs as ordinary disjunctive WAND over the
    * union — an expanded term scores exactly as if the user had typed it,
    * weighted by the wildcard token's occurrence count. The dictionary
    * scan pushes a StringStartsWith predicate to the termstats parquet
    * (never a corpus touch), and the expansion is capped at
    * [[PrefixExpansionCap]] in ascending term order.
    */
  def prefixTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: DocIdSet = DocIdSet.empty
  ): DataFrame = {
    val (literal, prefixes) = parsePrefixQuery(query, cfg)
    val byStem = expandStems(spark, termStats, prefixes.map(_._1))
    termTopK(spark, blocks, termStats, corpus,
      TermQuery("", mergeQtf(literal ++ expand(prefixes, byStem)), Nil, 1), k, cfg, tombstones)
  }

  /** One weight per distinct term, in ascending term order: a term typed
    * more than once, or typed AND matched by a wildcard, sums its
    * occurrences.
    */
  private def mergeQtf(terms: Seq[(String, Int)]): Seq[(String, Int)] =
    terms.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)

  /** Minimum-should-match top-k (Lucene BooleanQuery.minimumShouldMatch):
    * documents containing at least `m` of the query's distinct analyzed
    * terms qualify, ranked by BM25 over the terms they contain. m = 1 is
    * disjunctive top-k (rank-identical to [[wandTopK]], property-tested);
    * m = n is conjunctive AND ([[conjunctiveTopK]] without exclusions).
    *
    * A query term absent from the corpus can never match, so it lowers
    * the achievable count: if fewer than m terms have postings the result
    * is empty (Lucene's SHOULD-clause semantics). [[BoolScorer]] keeps
    * block-max WAND's pruning for every m: its pivot needs m cursors in
    * the prefix as well as an upper-bound sum above θ, so docs holding
    * fewer than m terms are skipped without being scored.
    */
  def minShouldMatchTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      m: Int,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: DocIdSet = DocIdSet.empty,
      excluded: Seq[String] = Nil
  ): DataFrame = {
    require(m >= 1, s"minimumShouldMatch must be >= 1, got $m")
    termTopK(spark, blocks, termStats, corpus, TermQuery("",
      Analyzer.analyzeQuery(query, cfg.analyzer), exclusionTerms(excluded, cfg), m), k, cfg,
      tombstones)
  }

  // ------------------------------------------------- unified search box

  /** A parsed search-box query: quoted phrases (optional `~slop` suffix),
    * `-`-prefixed exclusions, trailing-`*` prefix wildcards, plain free
    * terms — the one-text-field serving grammar the reference exposes
    * (/root/reference/api/combined.py:159; App.js search box), which
    * round 4 served through seven separate APIs.
    */
  final case class ParsedQuery(
      free: Seq[String],
      phrases: Seq[(String, Int)],
      excluded: Seq[String],
      prefixes: Seq[String],
      fields: Seq[(String, String)] = Nil)

  private val PhraseRe = """"([^"]*)"(?:~(\d+))?""".r
  private val FieldRe = """^([a-z_]+):(.+)$""".r

  /** The transcript schema's column names — what a `field:value` token may
    * name when no docs relation is available to enumerate columns (derived
    * from the Doc case class so it can never drift from the schema).
    * Docs-present calls still accept any column of the passed relation;
    * docs-less calls treat every other colon-bearing token (URLs,
    * 're:deploy') as stray free text, and a token naming a REAL column
    * throws the same pass-the-docs contract error as before — the same
    * query string never silently changes meaning between the two call
    * shapes.
    */
  val MetadataFields: Set[String] =
    org.apache.spark.sql.Encoders.product[graft.model.Doc].schema.fieldNames.toSet

  /** Largest accepted `~slop`: beyond it proximity is effectively "both
    * terms anywhere in the doc" and the per-start chain bound
    * `(n-1)+slop` must not overflow. Oversized (or unparseable) slops
    * clamp here instead of crashing the serving entry point.
    */
  val MaxSlop = 1 << 20

  /** Parse the search-box grammar. Quoted segments become phrases (an
    * empty or blank quote is dropped); of the remaining whitespace tokens,
    * `field:value` (Lucene fielded-term syntax — lowercase field name)
    * filters on a document metadata column, `-tok` excludes, `tok*` is a
    * prefix wildcard, anything else is a free term. A stray unmatched
    * quote is treated as whitespace.
    */
  def parseQuery(query: String): ParsedQuery = {
    val phrases = PhraseRe.findAllMatchIn(query).map { mm =>
      (mm.group(1), Option(mm.group(2))
        .map(s => s.toIntOption.getOrElse(MaxSlop).min(MaxSlop)).getOrElse(0))
    }.filter(_._1.trim.nonEmpty).toSeq
    val rest = PhraseRe.replaceAllIn(query, " ").replace("\"", " ")
    val toks = rest.split("\\s+").toSeq.filter(_.nonEmpty)
    val (fieldToks, rest2) = toks.partition {
      case FieldRe(_, _) => true
      case _ => false
    }
    val fields = fieldToks.collect { case FieldRe(f, v) => (f, v) }
    val (neg, pos) = rest2.partition(t => t.length > 1 && t.startsWith("-"))
    val (wild, plain) = pos.partition(t => t.length > 1 && t.endsWith("*"))
    ParsedQuery(plain, phrases, neg.map(_.drop(1)), wild, fields)
  }

  /** The unified serving entry point: one call accepting the full
    * search-box grammar — `spark join "data stream"~2 dat* -flink` — plus
    * an optional minimum-should-match.
    *
    * Semantics: a document matches iff it contains every quoted phrase
    * (within that phrase's slop), contains none of the excluded terms, and
    * contains at least `minShouldMatch` of the DISTINCT positive terms
    * (free terms + phrase words + wildcard expansions). Ranking is BM25
    * over the positive terms the document contains. One scoring exception,
    * Lucene-faithful: a LONE quoted phrase (nothing else in the box) keeps
    * PhraseQuery scoring — the phrase as a single term (tf = occurrence
    * count, idf over the phrase df) — exactly [[phraseTopK]].
    *
    * Routing (each single-feature query is property-tested identical to
    * its dedicated API in SearchSpec):
    *   - `field:value` + `-term`s    → match-all under the filter: constant
    *     only (no positive intent)     score 0, docId order, the excluded
    *                                   terms' docs anti-joined
    *   - everything else             → one [[BoolScorer]] job over the
    *                                   positive terms: m = 1 is [[wandTopK]],
    *                                   m = n [[conjunctiveTopK]], 1<m<n
    *                                   [[minShouldMatchTopK]]; `tok*`
    *                                   expands first (one capped,
    *                                   predicate-pushed dictionary scan);
    *                                   a quoted phrase (any slop) is a
    *                                   per-document positional check at the
    *                                   pivot ([[phraseFilterRank]] for one
    *                                   phrase + free terms), and a lone one
    *                                   is counted and scored as one term in
    *                                   the same job ([[phraseTopK]]);
    *                                   `field:value` filters the live docs
    *                                   view (`docs`, REQUIRED then;
    *                                   predicate pushed to its parquet) into
    *                                   a [[DocIdSet]] allow-list the pivot
    *                                   doc must be in. Stats stay
    *                                   corpus-wide (Lucene filter
    *                                   semantics, not a sub-corpus rebuild).
    * Every route is bounded by the query terms' postings — never a corpus
    * scan — and the same plan shapes the dedicated APIs are plan-asserted
    * to have.
    *
    * @param docs the live documents view ([[graft.index.IndexStore.Index.docs]]
    *             as a DataFrame) — only needed for `field:value` queries;
    *             being the LIVE view it also carries tombstone filtering
    *             for the fielded path.
    */
  def search(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      k: Int,
      minShouldMatch: Int = 1,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: DocIdSet = DocIdSet.empty,
      docs: Option[DataFrame] = None
  ): DataFrame = {
    require(minShouldMatch >= 1, s"minShouldMatch must be >= 1, got $minShouldMatch")
    if (k < 1) return emptyScores(spark)
    val pq = resolveFields(query, docs)
    if (filterOnly(pq, cfg)) {
      val excl = exclusionTerms(pq.excluded, cfg)
      import spark.implicits._
      val base = fieldFilter(pq.fields, docs.get)
      val filtered =
        if (excl.isEmpty) base
        else base.join(docsWithTerms(blocks, excl), Seq("docId"), "left_anti")
      return filtered.select($"docId", lit(0.0).as("score"))
        .orderBy($"docId".asc).limit(k)
    }
    val byStem = expandStems(spark, termStats, prefixStems(pq).map(_._1))
    termTopK(spark, blocks, termStats, corpus,
      termQuery("", pq, byStem, minShouldMatch, cfg, docs), k, cfg, tombstones)
  }

  /** Batched unified search — a whole request batch through the one
    * search-box grammar in as few jobs as possible: every query but a
    * filter-only one — any `minShouldMatch`, exclusions, wildcards (every
    * query's stems expand in ONE dictionary scan), phrases, lone phrases
    * and field filters included — scores in a single shared [[BoolScorer]]
    * job (shared block scan + per-shard decode memo, the measured ~3×
    * amortization of the per-job scheduler floor) finished by the driver
    * merge; a field query adds its allow-list job, and a filter-only query
    * runs its [[search]] plan and unions in. Returns (qid, docId, score),
    * per-qid top-k, each qid identical to a [[search]] call with the same
    * text (property-tested).
    *
    * `minShouldMatch` applies to every query in the batch (callers with
    * per-query msm issue those queries separately).
    */
  def searchBatch(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      queries: Seq[(String, String)],
      k: Int,
      minShouldMatch: Int = 1,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: DocIdSet = DocIdSet.empty,
      docs: Option[DataFrame] = None
  ): DataFrame = {
    import spark.implicits._
    require(minShouldMatch >= 1, s"minShouldMatch must be >= 1, got $minShouldMatch")
    // duplicate qids would leave two queries' rows indistinguishable in the
    // result, or under one qid literal of the union
    require(queries.map(_._1).distinct.size == queries.size,
      s"duplicate qids in batch: ${queries.map(_._1)}")
    if (k < 1) return LocalRows.frame(spark, QidScoreSchema, Nil)
    val parsed = queries.map { case (qid, q) => (qid, q, resolveFields(q, docs)) }
    val (other, ranked) = parsed.partition { case (_, _, pq) => filterOnly(pq, cfg) }
    val batched = termTopKBatch(spark, blocks, termStats, corpus,
      termQueries(spark, termStats, ranked.map { case (qid, _, pq) => qid -> pq },
        minShouldMatch, cfg, docs),
      k, cfg, tombstones)
    other.foldLeft(batched) { case (acc, (qid, q, _)) =>
      acc.unionByName(
        search(spark, blocks, termStats, corpus, q, k, minShouldMatch, cfg,
          tombstones, docs)
          .select(lit(qid).as("qid"), $"docId", $"score"))
    }
  }

  /** Parse a search-box query and keep as `field:value` filters only the
    * tokens naming a real column: of `docs` when given, else of the
    * transcript schema ([[MetadataFields]]). Every other colon token (URLs,
    * 're:deploy', field typos) falls back to free text, so search() and
    * searchBatch() classify it identically instead of crashing on an
    * unresolved column. A schema field without `docs` throws the
    * pass-the-docs contract error.
    */
  private def resolveFields(query: String, docs: Option[DataFrame]): ParsedQuery = {
    val pq = parseQuery(query)
    val (known, stray) = docs match {
      case Some(d) => pq.fields.partition { case (f, _) => d.columns.contains(f) }
      case None => pq.fields.partition { case (f, _) => MetadataFields.contains(f) }
    }
    if (known.nonEmpty && docs.isEmpty)
      throw new IllegalArgumentException(
        s"query [$query] has field predicates ${known.map(f => f._1 + ":" + f._2)} " +
          "— pass the docs relation")
    pq.copy(free = pq.free ++ stray.map { case (f, v) => s"$f $v" }, fields = known)
  }

  /** A filter-only query ('role:user', no scoring terms) is a match-all
    * under the filter: constant score 0, docId order — Lucene's
    * MatchAllDocsQuery + filter shape, not an empty result. '-term'
    * exclusions still apply ('role:user -spark' = the user turns that
    * don't contain spark). Match-all fires only when the user typed NO
    * positive intent at all: a wildcard that expands to zero dictionary
    * terms ('role:user zzz*') matches nothing, like Lucene — it must not
    * silently widen to every filtered doc (ADVICE r5).
    */
  private def filterOnly(pq: ParsedQuery, cfg: IndexBuilder.Config): Boolean =
    pq.fields.nonEmpty && pq.phrases.isEmpty && pq.prefixes.isEmpty &&
      Analyzer.analyzeQuery(pq.free.mkString(" "), cfg.analyzer).isEmpty

  /** A lone quoted phrase (nothing else in the box) keeps PhraseQuery
    * scoring ([[phraseTopK]]). A phrase match holds every phrase word, so
    * any satisfiable m is already met.
    */
  private def lonePhrase(pq: ParsedQuery, excl: Seq[String]): Boolean =
    pq.phrases.size == 1 && pq.free.isEmpty && pq.prefixes.isEmpty &&
      pq.fields.isEmpty && excl.isEmpty

  /** The docIds of the live docs view that pass every `field:value`
    * filter, the predicates pushed to the docs parquet — the match-all
    * path's rows and the ranked path's allow-list.
    */
  private[graft] def fieldFilter(fields: Seq[(String, String)], docs: DataFrame): DataFrame =
    fields.foldLeft(docs) { case (acc, (f, v)) => acc.filter(col(f) === v) }
      .select(col("docId"))

  /** A parsed query as the scorer takes it. The allow-list is collected
    * (one distributed [[DocIdSet.fromDF]] job) only for a query that can
    * match; an unsatisfiable one gets an empty list.
    */
  private def termQuery(qid: String, pq: ParsedQuery, byStem: Map[String, Seq[String]],
      m: Int, cfg: IndexBuilder.Config, docs: Option[DataFrame]): TermQuery = {
    val positive = positiveTerms(pq, byStem, cfg)
    val phrases = pq.phrases.map { case (ph, slop) =>
      (Analyzer.tokenize(ph, cfg.analyzer), slop) // order + duplicates matter
    }
    val allow =
      if (pq.fields.isEmpty) None
      else if (positive.isEmpty || positive.size < m || phrases.exists(_._1.isEmpty))
        Some(DocIdSet.empty)
      else Some(DocIdSet.fromDF(fieldFilter(pq.fields, docs.get)))
    val excl = exclusionTerms(pq.excluded, cfg)
    TermQuery(qid, positive, excl, m, phrases, allow, lonePhrase(pq, excl))
  }

  /** Parsed ranked queries as the scorer takes them, every query's
    * wildcard stems expanded together ([[expandStems]]).
    */
  private def termQueries(spark: SparkSession, termStats: Dataset[TermStat],
      parsed: Seq[(String, ParsedQuery)], m: Int, cfg: IndexBuilder.Config,
      docs: Option[DataFrame]): Seq[TermQuery] = {
    val byStem = expandStems(spark, termStats,
      parsed.flatMap { case (_, pq) => prefixStems(pq).map(_._1) })
    parsed.map { case (qid, pq) => termQuery(qid, pq, byStem, m, cfg, docs) }
  }

  /** A parsed query's analyzed wildcard stems with their occurrence counts. */
  private def prefixStems(pq: ParsedQuery): Seq[(String, Int)] =
    analyzePrefixStems(pq.prefixes.map(_.dropRight(1)))

  /** The distinct positive terms of a parsed query — free terms, phrase
    * words and wildcard expansions (`byStem`, from [[expandStems]]) — with
    * their summed occurrence counts, in ascending term order.
    */
  private def positiveTerms(pq: ParsedQuery, byStem: Map[String, Seq[String]],
      cfg: IndexBuilder.Config): Seq[(String, Int)] =
    mergeQtf(Analyzer.analyzeQuery((pq.free ++ pq.phrases.map(_._1)).mkString(" "),
      cfg.analyzer) ++ expand(prefixStems(pq), byStem))

  // --------------------------------------------------------------- phrase

  /** Exact phrase top-k over a POSITIONAL index (built with
    * `cfg.storePositions = true`): documents containing the analyzed
    * phrase's terms at consecutive positions in the filtered token stream,
    * scored as BM25 of the phrase-as-one-term — tf = phrase occurrence
    * count, df = matching-doc count, idf = ln((N+1)/(df+1)). Standard
    * Lucene PhraseQuery semantics under stopword removal ("state of the
    * art" matches where "state art" are adjacent in the filtered stream).
    *
    * `slop > 0` relaxes adjacency to ordered proximity ("a b"~slop): a
    * match is a strictly increasing position chain p_1 < ... < p_n with
    * p_n - p_1 <= (n-1) + slop, and tf = the number of distinct start
    * positions with at least one such chain (the minimal completion is
    * greedy, so existence is exact). slop = 0 degenerates to adjacency.
    *
    * Plan: ONE [[BoolScorer]] job over the term-pushed block scan
    * (positions read for the phrase words), shard-grouped without an
    * exchange on a loaded index. Each task walks the phrase's words with
    * the scorer's leapfrog, counts its live matches and returns the
    * candidates any idf can rank into the top k ([[PhraseMatches]]); the
    * driver sums the counts into the df and finishes ([[mergePhrase]]).
    * Reads no term stats; the job runs inside the call.
    */
  def phraseTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      corpus: CorpusStats,
      phrase: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      slop: Int = 0,
      tombstones: DocIdSet = DocIdSet.empty
  ): DataFrame = {
    val words = Analyzer.tokenize(phrase, cfg.analyzer) // order + duplicates matter
    termTopK(spark, blocks, spark.emptyDataset(TermStatEnc), corpus,
      TermQuery("", words.distinct.map(_ -> 1), Nil, 1, Seq((words, slop)),
        phraseAsTerm = true), k, cfg, tombstones)
  }

  /** Mixed quoted + free-term query — the search-box semantics for
    * `spark join "data stream"`: the quoted phrase is a FILTER (docs must
    * contain the exact adjacency), and ranking is full BM25 over ALL the
    * query's terms (phrase words included as regular terms). One
    * [[BoolScorer]] job: the phrase words' cursors are among the query's
    * own, and a candidate doc's positions are checked only after it
    * passed the block-max bound — no separate match job or semi-join.
    */
  def phraseFilterRank(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      freeTerms: String,
      phrase: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: DocIdSet = DocIdSet.empty
  ): DataFrame =
    termTopK(spark, blocks, termStats, corpus,
      TermQuery("", Analyzer.analyzeQuery(freeTerms + " " + phrase, cfg.analyzer), Nil, 1,
        Seq((Analyzer.tokenize(phrase, cfg.analyzer), 0))), k, cfg, tombstones)

  /** The one document-at-a-time scorer behind every ranked query:
    * block-max WAND (Ding & Suel, SIGIR 2011) with a minimum-should-match
    * constraint, the shape of Lucene's WANDScorer. m = 1 is disjunctive
    * WAND; m = n is a leapfrog intersection (AND); 1 < m < n is m-of-n
    * with the same block-max pruning. Phrases and field filters are
    * per-document checks on the pivot doc (Lucene's two-phase iteration:
    * the postings approximate, positions verify only candidates). One
    * shard at a time per partition, into one heap per query for the whole
    * partition.
    */
  private[query] object BoolScorer {

    /** One scan task's share of a query batch. Rows must arrive
      * shard-grouped ([[shardGrouped]]); every query is scored against
      * each shard group while its blocks are at hand, into ONE heap per
      * query shared by all of the task's groups, so a group prunes against
      * the best docs of the groups before it. Decoded blocks are memoized
      * per shard ([[Shard]]), so a block shared by several queries is
      * decoded once. Returns, for every query with a candidate, its index
      * in `queries` and the task's top k — for a lone phrase, its match
      * count and candidates ([[PhraseMatches]]).
      */
    def scoreTask(
        it: BufferedIterator[PostingBlock],
        queries: Seq[BoolQuery],
        k: Int,
        k1: Double, b: Double, avgdl: Double,
        tombstones: DocIdSet = DocIdSet.empty
    ): Iterator[(Int, Ranked)] = {
      val heaps = Array.fill(queries.size)(new TopKHeap(k))
      val found = queries.map(q => Option.when(q.phraseAsTerm)(new PhraseMatches)).toArray
      while (it.hasNext) {
        val shard = new Shard(it)
        queries.indices.foreach { i =>
          val q = queries(i)
          // docId-sharding co-locates a doc's postings: a match needs m of
          // the query's terms, and every phrase word, present in this
          // shard. q.terms is term-sorted, so the cursors are too (the
          // summation order)
          val present = q.terms.filter(t => shard.has(t.term))
          if (present.size >= q.m && q.phrases.forall(_._1.forall(shard.has))) {
            val cursors = present.map(t => shard.cursor(t.term, t.weight, k1, b, avgdl)).toArray
            val not = q.excluded.filter(shard.has).map(shard.cursor(_, 0.0, k1, b, avgdl)).toArray
            val byTerm = present.map(_.term).zip(cursors).toMap
            val chains = q.phrases.map { case (toks, slop) => (toks.map(byTerm).toArray, slop) }
            // the per-document checks, cheapest first: the exclusion
            // cursors skip forward lazily, positions decode only here
            def accept(doc: Long): Boolean =
              !tombstones.contains(doc) && q.allow.forall(_.contains(doc)) &&
                !excludedAt(not, doc) &&
                chains.forall { case (chain, slop) => phraseTf(chain, slop, doc) > 0 }
            // a lone phrase (m = every word) accepts no doc, so its heap
            // never fills and every doc holding all its words is checked:
            // each live match is counted and kept with its f
            def collect(doc: Long): Boolean = {
              val (chain, slop) = chains.head
              val tf = if (tombstones.contains(doc)) 0 else phraseTf(chain, slop, doc)
              if (tf > 0) found(i).get.add(doc, Bm25.partial(tf, chain(0).curDl, k1, b, avgdl))
              false
            }
            scoreShard(cursors, q.m, heaps(i), if (q.phraseAsTerm) collect else accept)
          }
        }
      }
      queries.indices.iterator.flatMap { i =>
        found(i) match {
          case Some(matches) => Option.when(!matches.isEmpty)(i -> matches.candidates(k))
          case None => Option.when(!heaps(i).isEmpty)(i -> heaps(i).drain())
        }
      }
    }

    /** WAND pivot selection on global term upper bounds with a match-count
      * condition: the pivot is the first cursor, in curDoc order, whose
      * prefix holds at least m cursors AND whose prefix upper-bound sum
      * could enter `heap` at that cursor's doc. No doc before the pivot can
      * hold m terms and enter, so a lagging cursor jumps to it. Once the
      * pivot is extended over docId ties, every prefix cursor sits on the
      * pivot doc (>= m of them), and the sum of their *current-block*
      * upper bounds must still enter or the doc is skipped without scoring
      * (Ding & Suel's BMW). A doc that `accept` rejects (tombstoned,
      * outside the allow-list, holding an excluded term, missing a phrase)
      * is skipped the same way.
      *
      * θ is the heap's (score, docId) pair ([[TopKHeap.admits]]): a bound
      * enters iff it is > θ.score, or = θ.score at a docId < θ.docId. The
      * heap may hold docs of other shard groups on either side of this
      * shard's docIds, so an exact tie at a smaller docId must be scored.
      * A bound sum is widened by its worst rounding ([[sumUpperBound]]) so
      * the summation order cannot hide such a tie. Pruning stays exact in
      * any group order: within a group a prefix's docs only grow, and θ
      * only rises. `cursors` must be term-sorted: scores sum in ascending
      * term order, the pinned order of every path.
      */
    private[query] def scoreShard(cursors: Array[Cursor], m: Int, heap: TopKHeap,
        accept: Long => Boolean): Unit = {
      // the live cursors in curDoc order: cursors only move forward, so an
      // insertion sort restores the order in about one pass per step
      val sorted = cursors.clone()
      var live = sorted.length
      while (live >= m) {
        var s = 1
        while (s < live) {
          val c = sorted(s)
          var j = s - 1
          while (j >= 0 && sorted(j).curDoc > c.curDoc) { sorted(j + 1) = sorted(j); j -= 1 }
          sorted(j + 1) = c
          s += 1
        }
        var acc = 0.0
        var pivotIdx = -1
        var i = 0
        while (i < live && pivotIdx < 0) {
          acc += sorted(i).globalUb
          if (i + 1 >= m && heap.admits(sumUpperBound(acc, i + 1), sorted(i).curDoc))
            pivotIdx = i
          i += 1
        }
        if (pivotIdx < 0) live = 0 // no remaining doc can hold m terms and enter
        else {
          val pivotDoc = sorted(pivotIdx).curDoc
          // extend the pivot across docId ties: cursors beyond the first
          // qualifying index can sit at pivotDoc too, and the block-max
          // bound below must cover EVERY cursor positioned at pivotDoc or
          // the skip branch silently drops a doc whose true score
          // (including the tied terms) enters the heap (Ding & Suel's BMW /
          // Lucene pivot semantics)
          while (pivotIdx + 1 < live && sorted(pivotIdx + 1).curDoc == pivotDoc)
            pivotIdx += 1
          if (sorted(0).curDoc == pivotDoc) {
            var blockAcc = 0.0
            var j = 0
            while (j <= pivotIdx) { blockAcc += sorted(j).curBlockUb; j += 1 }
            if (heap.admits(sumUpperBound(blockAcc, pivotIdx + 1), pivotDoc) &&
                accept(pivotDoc)) {
              var score = 0.0
              var t = 0
              while (t < cursors.length) {
                val c = cursors(t)
                if (!c.exhausted && c.curDoc == pivotDoc) score += c.currentContribution()
                t += 1
              }
              heap.offer(pivotDoc, score)
            }
            j = 0
            while (j <= pivotIdx) { sorted(j).advance(); j += 1 }
          } else {
            // advance a lagging cursor. It MUST be one with curDoc strictly
            // below the pivot (cursors at indices < pivotIdx can already sit
            // AT pivotDoc when docIds tie) — advancing a cursor already at
            // pivotDoc is a no-op and would loop forever. Among the strict
            // predecessors, pick the largest upper bound (advances fastest).
            var limit = 0
            while (limit < pivotIdx && sorted(limit).curDoc < pivotDoc) limit += 1
            var best = 0
            var j = 1
            while (j < limit) {
              if (sorted(j).globalUb > sorted(best).globalUb) best = j
              j += 1
            }
            sorted(best).advanceTo(pivotDoc)
          }
          // drop exhausted cursors, keeping the rest in order
          var w = 0
          var r = 0
          while (r < live) {
            if (!sorted(r).exhausted) { sorted(w) = sorted(r); w += 1 }
            r += 1
          }
          live = w
        }
      }
    }

    /** An upper bound of the sum of `n` nonnegative doubles in ANY order,
      * given `acc`, their sum in one order: floating-point addition is not
      * associative, so past two terms a score summed in term order can
      * exceed the same bounds summed in curDoc order by a few ulps —
      * enough to skip a doc that ties θ exactly. Each order is within
      * (n-1)·2^-52 of the exact sum (Lucene's MathUtil.sumUpperBound).
      */
    private def sumUpperBound(acc: Double, n: Int): Double =
      if (n <= 2) acc else acc * (1.0 + 2.0 * (n - 1) * Eps)

    /** Whether an exclusion cursor holds `doc`. The cursors skip forward
      * lazily: the docs checked here only grow within a shard (every live
      * cursor has moved past the previous one), so each advanceTo is
      * amortized over the shard.
      */
    private def excludedAt(not: Array[Cursor], doc: Long): Boolean = {
      var x = 0
      while (x < not.length) {
        not(x).advanceTo(doc)
        if (!not(x).exhausted && not(x).curDoc == doc) return true
        x += 1
      }
      false
    }

    /** The positional check: the phrase's tf in `doc`, whose words in
      * order (duplicates repeated) are `chain`'s cursors — 0 unless every
      * cursor sits on `doc`. tf is the # of start positions with a valid
      * occurrence: a strictly increasing chain whose total span is <=
      * (n-1)+slop, completed GREEDILY (smallest position of word j strictly
      * after the previous word's). Greedy minimizes the final position, so
      * a greedy miss proves no chain exists for that start — and at slop =
      * 0 the bound forces every step to exactly 1, i.e. exact adjacency, so
      * one loop serves both semantics with no per-level array allocation.
      */
    private[query] def phraseTf(chain: Array[Cursor], slop: Int, doc: Long): Int = {
      if (!chain.forall(c => !c.exhausted && c.curDoc == doc)) return 0
      val starts: Array[Int] = chain(0).curPositions
      if (chain.length == 1) return starts.length
      val bound = chain.length - 1 + slop
      var count = 0
      var s = 0
      while (s < starts.length) {
        val start = starts(s)
        var prev = start
        var ok = true
        var j = 1
        while (j < chain.length && ok) {
          val next = chain(j).curPositions
          // smallest position strictly greater than prev
          val ins = java.util.Arrays.binarySearch(next, prev + 1)
          val idx = if (ins >= 0) ins else -ins - 1
          if (idx >= next.length) ok = false
          else { prev = next(idx); if (prev - start > bound) ok = false }
          j += 1
        }
        if (ok) count += 1
        s += 1
      }
      count
    }
  }
}
