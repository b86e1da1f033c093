package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Analyzer
import graft.index.{IndexBuilder, IndexStore}
import graft.model.{Doc, Turn}
import graft.query.QueryEngine
import graft.sources.TranscriptSource

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with DuckDB-equivalent `oracleSql` where the
  * semantics are SQL-expressible.
  *
  * The canonical input is the transcripts table (north rule `input_hint`)
  * derived deterministically from `<sfDir>/documents.parquet` so that the
  * DuckDB oracle can re-derive the identical rows (TranscriptSource).
  * BM25 scores are rounded to 4 decimals *before* ranking on both sides —
  * cross-engine float sums agree far beyond 1e-4, and the (score desc,
  * docId asc) tie-break then makes ranks deterministic.
  */
object SparkEntry {

  /** Positional index at verify scale so the phrase entries run against
    * the same cached index as every WAND entry — positions live in a
    * separate parquet column the BM25 paths never project (asserted in
    * PlanSpec), so enabling them costs the non-phrase queries nothing.
    */
  private[graft] val cfg = IndexBuilder.Config(storePositions = true)

  // ---------------------------------------------------------------- caching
  private val relCache = TrieMap.empty[String, IndexBuilder.Relations]
  private val idxCache = TrieMap.empty[String, IndexStore.Index]
  private val lcIdxCache = TrieMap.empty[String, IndexStore.Index]

  private[graft] def transcripts(s: SparkSession, dir: String): DataFrame =
    TranscriptSource.fromDocuments(s, dir)

  private[graft] def turns(s: SparkSession, dir: String): Dataset[Turn] =
    new graft.sources.ParquetTranscriptCatalog(dir).read(s)

  /** Cache key tied to the live SparkContext (applicationId is unique per
    * context even across restarts in one JVM), so a restarted session can
    * never be served a stale Relations whose cached plans reference a
    * stopped context — hashCode could collide there.
    */
  private def cacheKey(s: SparkSession, dir: String): String =
    s.sparkContext.applicationId + "|" + dir

  private[graft] def rel(s: SparkSession, dir: String): IndexBuilder.Relations =
    relCache.getOrElseUpdate(cacheKey(s, dir), {
      val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val docsDir = s"${sys.props("java.io.tmpdir")}/graft-docs-$safe"
      // positions matter only to the encoded-block path (where columnar
      // pruning makes them free); the relational form would persist a pos
      // array per posting that nothing reads
      IndexBuilder.relations(s, turns(s, dir), docsDir,
        cfg.copy(storePositions = false))
    })

  /** Fixture fingerprint folded into every snapshot id: the id must change
    * whenever the index CONTENT would — source bytes (size+mtime) or the
    * engine's format/content versions — or a /tmp index built by an older
    * engine (or from regenerated fixtures) would be silently served.
    */
  private def fixtureFingerprint(dir: String): String =
    new graft.sources.ParquetTranscriptCatalog(dir).currentSnapshotId +
      s"|fv${IndexStore.FormatVersion}|cv${IndexStore.ContentVersion}"

  private[graft] def index(s: SparkSession, dir: String): IndexStore.Index =
    idxCache.getOrElseUpdate(cacheKey(s, dir), {
      val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val out = s"${sys.props("java.io.tmpdir")}/graft-index-$safe"
      IndexStore.build(s, turns(s, dir), out, snapshotId = fixtureFingerprint(dir), cfg)
      IndexStore.load(s, out)
    })

  /** Conversations below this bound form the lifecycle index's base build;
    * the rest arrive as an incremental append. Base conv ids sort before
    * delta conv ids, so the two-stage docId assignment coincides with the
    * global (conv_id, turn_idx) sort — which lets the DuckDB oracle keep
    * the one-CTE id derivation.
    */
  private val LcSplit = "conv-0080"

  /** The conversation whose surviving turns the lifecycle UPDATE step
    * re-indexes with a deterministic digit redaction — one definition for
    * the engine and the oracle.
    */
  private val LcUpdateConv = "conv-0042"

  /** The full CRUD index lifecycle as a driver-visible artifact:
    * build(conv < [[LcSplit]]) → appendSnapshot(rest) → deleteDocs(the
    * REAL near-dup keep-set complement from the MinHash-LSH dedup
    * pipeline, mapped into the index's id space, plus a deterministic
    * redaction set docId ≡ 0 mod 7) → updateDocs(re-index
    * [[LcUpdateConv]]'s surviving turns with digits redacted — the
    * PII-scrub shape; updated turns get NEW ids at the watermark). Every
    * step is the crash-safe committed path; the loaded result carries
    * live tombstones that the `delete_*` / `bm25_deleted_*` entries
    * exercise end-to-end against survivor-exact oracles. This IS "apply
    * the dedup keep-set / redaction to a live index" — the reference
    * could only rebuild from scratch (build_index.py:15 re-globs
    * everything).
    */
  private[graft] def lifecycleIndex(s: SparkSession, dir: String): IndexStore.Index =
    lcIdxCache.getOrElseUpdate(cacheKey(s, dir), {
      val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val out = s"${sys.props("java.io.tmpdir")}/graft-index-lc-$safe"
      // lcv3: the lifecycle's drop/update SEMANTICS are part of the content
      val fp = fixtureFingerprint(dir) + "|lcv3"
      // positions are phrase-only; this index serves WAND entries
      val lcCfg = cfg.copy(storePositions = false)
      val all = turns(s, dir)
      // every step is history-idempotent, so a warm /tmp dir from an
      // earlier run of the SAME engine+fixtures no-ops all four
      IndexStore.build(s, all.filter(col("conv_id") < LcSplit), out,
        snapshotId = s"$fp-base", lcCfg)
      IndexStore.appendSnapshot(s, all.filter(col("conv_id") >= LcSplit), out,
        snapshotId = s"$fp-delta", lcCfg)
      val live = IndexStore.load(s, out)
      // near-dup losers live in the documents id space; invert the
      // transcript derivation (src = turn_idx*Convs + conv number) to
      // land them on index docIds
      val withSrc = live.docs.toDF().select(col("docId"),
        TranscriptSource.srcDocIdCol.as("src_id"))
      val loserIds = withSrc.join(
        graft.operators.TrainingData.dedupLosers(s, dir)
          .withColumnRenamed("doc_id", "src_id"),
        Seq("src_id"), "left_semi").select(col("docId"))
      val drop = live.docs.toDF().select(col("docId"))
        .filter(col("docId") % 7 === 0)
        .unionByName(loserIds)
      IndexStore.deleteDocs(s, drop, out, snapshotId = s"$fp-del", lcCfg)
      // update: redact digits in the surviving turns of one conversation
      val afterDel = IndexStore.load(s, out)
      val newVersions = afterDel.docs.toDF()
        .filter(col("conv_id") === LcUpdateConv)
        .select(col("conv_id"), col("turn_idx"), col("role"),
          regexp_replace(col("text"), "[0-9]", "x").as("text"),
          col("tool"), col("ts"))
        .as[Turn](org.apache.spark.sql.Encoders.product[Turn])
      IndexStore.updateDocs(s, newVersions, out, snapshotId = s"$fp-upd", lcCfg)
      IndexStore.load(s, out)
    })

  // ---------------------------------------------------------- BM25 plumbing

  /** Reference query set mapped onto the corpus vocabulary (FIXTURES.md §3). */
  private[graft] val querySet: Seq[(String, String)] = Seq(
    "q1" -> "Spark query join data", // bm25_searcher.py:22 shape
    "q2" -> "the stream window group batch sort", // stopword in query
    "q3" -> "hash merge customer line",
    "q4" -> "vector column scan slow",
    "q5" -> "big small fast part",
    "q6" -> "join", // head term (WAND stress)
    "q7" -> "dup", // rare term
    "q8" -> "zzznotaterm", // absent term -> empty result
    "q9" -> "join zzznotaterm data", // absent terms contribute 0
    "q10" -> "data data data" // repeated query term: qtf = 3
  )
  private[graft] val queryText: Map[String, String] = querySet.toMap

  /** Phrase queries (quoted-search semantics — the one common lexical
    * feature the reference UI implies, App.js search box): adjacency in
    * the FILTERED token stream, Lucene-PhraseQuery-style.
    */
  private[graft] val phraseSet: Seq[(String, String)] = Seq(
    "p1" -> "fast table", // common bigram
    "p2" -> "the data stream", // stopword dropped -> "data stream" adjacency
    "p3" -> "data data", // duplicated term: overlapping-occurrence handling
    "p4" -> "zzznotaterm data" // absent term -> empty result
  )

  /** The mixed-query fixture: (free terms, quoted phrase) — ONE definition
    * shared by the engine entry and its oracle so they can never diverge.
    */
  private[graft] val mixedQuery: (String, String) = ("spark join", "fast table")

  /** Conjunctive (boolean AND) queries: every term required, `-term`
    * excludes — the all-terms search-box semantics WAND's disjunctive
    * top-k doesn't give.
    */
  private[graft] val andSet: Seq[(String, String)] = Seq(
    "q1" -> "spark join data", // all three required
    "q2" -> "data join -stream", // exclusion: drop docs containing "stream"
    "q3" -> "join zzznotaterm" // absent REQUIRED term -> empty (unlike WAND)
  )

  /** Proximity phrase fixture: ("a b"~slop) ordered chains within the
    * window, slop 0 = adjacency.
    */
  private[graft] val slopQuery: (String, Int) = ("data stream", 2)

  /** Minimum-should-match fixture: docs matching >= m of the n query
    * terms (Lucene BooleanQuery.minimumShouldMatch — between WAND's m=1
    * and conjunctive's m=n).
    */
  private[graft] val msmQuery: (String, Int) = ("spark join data stream", 2)

  /** Prefix/wildcard fixture: `dat*` expands against the term dictionary,
    * `join` stays literal.
    */
  private[graft] val prefixQuery: String = "dat* join"

  /** Unified search-box fixtures (query text, minShouldMatch) — each mixes
    * several features in one query that no dedicated API covers, scored by
    * [[QueryEngine.search]]'s one block-max scorer job: slop phrase +
    * exclusion + free terms; wildcard + phrase + free term; phrase +
    * minimum-should-match.
    */
  private[graft] val mixedSet: Seq[(String, (String, Int))] = Seq(
    "q1" -> (("query \"data stream\"~2 -batch join", 1)),
    "q2" -> (("dat* \"fast table\" join", 1)),
    "q3" -> (("spark join data \"fast table\"", 3)))

  /** Fielded-search fixtures (`role:`/`tool:` metadata predicates — the
    * transcript schema's natural filters, filter-then-rank over corpus-
    * wide stats): plain fielded WAND, and a field composed with a phrase.
    */
  private[graft] val fieldSet: Seq[(String, (String, Int))] = Seq(
    "q1" -> (("role:user spark join data", 1)),
    "q2" -> (("tool:search \"data stream\"", 1)))

  /** Round→rank→decorate: shared output shape for every BM25 path. The
    * <= k-row ranked side is explicitly broadcast into the docs join
    * (reference J3 shape, bm25_searcher.py:117-120).
    */
  private def finish(top: DataFrame, docs: Dataset[Doc], k: Int): DataFrame = {
    val rounded = top.withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col("docId").asc).limit(k)
    val w = Window.orderBy(col("score").desc, col("docId").asc)
    val ranked = rounded.withColumn("rank", row_number().over(w).cast("int"))
    docs.toDF()
      .join(broadcast(ranked), Seq("docId"))
      .select(col("rank"), col("docId").as("doc_id"), col("score"),
        col("conv_id"), col("turn_idx"), col("text"))
      .orderBy(col("rank"))
  }

  // NOTE: the exhaustive full-corpus scorer (QueryEngine.exhaustiveTopK) is
  // deliberately NOT behind any driver entry a user would call — it exists
  // as the oracle-matching baseline inside ScalaTest (EngineSpec/GoldenSpec)
  // only. Every driver-visible BM25 path goes through block-max WAND.

  /** WAND fetch size: the driver compares on scores ROUNDED to 4 decimals,
    * so docs whose exact scores straddle the k-th by < 1e-4 can reorder
    * after rounding — the over-fetch makes round-then-rank exact at any
    * verify scale. Cost is bounded: per-task heap inserts are O(log k')
    * and the driver's final merge only ever sees per-task winners.
    * A latency-sensitive caller would use k directly on the raw scores
    * (the engine's own tie-break needs no rounding).
    */
  private val WandFetchK = 10000

  private[graft] def bm25Wand(s: SparkSession, dir: String, q: String, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.wandTopK(s, idx.blocks, idx.termStats, idx.corpus,
      q, WandFetchK, cfg, idx.tombstoneSet)
    finish(top, idx.docs, k)
  }

  /** The production serving plan, driver-visible: WAND with heap size = k
    * and NO over-fetch, ranked on RAW scores (the engine's own tie-break —
    * score desc, docId asc — needs no rounding); scores are rounded to 4
    * decimals only for display/compare AFTER ranking. This is the exact
    * plan the bench times for query_p50/p95.
    */
  private[graft] def bm25Serving(s: SparkSession, dir: String, q: String, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.wandTopK(s, idx.blocks, idx.termStats, idx.corpus, q, k,
      cfg, idx.tombstoneSet)
    val w = Window.orderBy(col("score").desc, col("docId").asc)
    top.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("docId").as("doc_id"), round(col("score"), 4).as("score"))
  }

  /** Phrase top-k through the positional index (same over-fetch +
    * round-then-rank finish as the WAND entries).
    */
  private[graft] def bm25Phrase(s: SparkSession, dir: String, phrase: String, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.phraseTopK(s, idx.blocks, idx.corpus, phrase, WandFetchK,
      cfg, 0, idx.tombstoneSet)
    finish(top, idx.docs, k)
  }

  /** Mixed query: quoted phrase as filter, full-query BM25 as rank. */
  private[graft] def bm25PhraseFilter(s: SparkSession, dir: String,
      terms: String, phrase: String, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.phraseFilterRank(s, idx.blocks, idx.termStats,
      idx.corpus, terms, phrase, WandFetchK, cfg, idx.tombstoneSet)
    finish(top, idx.docs, k)
  }

  /** WAND against the post-delete lifecycle index: the tombstone set is
    * live here, so skipped docs free heap slots for survivors.
    */
  private[graft] def bm25Deleted(s: SparkSession, dir: String, q: String, k: Int = 10): DataFrame = {
    val idx = lifecycleIndex(s, dir)
    val top = QueryEngine.wandTopK(s, idx.blocks, idx.termStats, idx.corpus,
      q, WandFetchK, cfg, idx.tombstoneSet)
    finish(top, idx.docs, k)
  }

  /** Prefix/wildcard query (dictionary expansion -> WAND). */
  private[graft] def bm25Prefix(s: SparkSession, dir: String, q: String, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.prefixTopK(s, idx.blocks, idx.termStats,
      idx.corpus, q, WandFetchK, cfg, idx.tombstoneSet)
    finish(top, idx.docs, k)
  }

  /** Minimum-should-match (m-of-n) query. */
  private[graft] def bm25Msm(s: SparkSession, dir: String, q: String, m: Int, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.minShouldMatchTopK(s, idx.blocks, idx.termStats,
      idx.corpus, q, m, WandFetchK, cfg, idx.tombstoneSet)
    finish(top, idx.docs, k)
  }

  /** Conjunctive (AND / -term) query through the leapfrog intersect. */
  private[graft] def bm25And(s: SparkSession, dir: String, q: String, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.conjunctiveTopK(s, idx.blocks, idx.termStats,
      idx.corpus, q, WandFetchK, cfg, idx.tombstoneSet)
    finish(top, idx.docs, k)
  }

  /** The unified search box ([[QueryEngine.search]]): full grammar in one
    * string; a filter-only query is a match-all under its filter, every
    * other query one block-max scorer job.
    */
  private[graft] def bm25Search(s: SparkSession, dir: String, q: String,
      m: Int = 1, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.search(s, idx.blocks, idx.termStats, idx.corpus,
      q, WandFetchK, m, cfg, idx.tombstoneSet, Some(idx.docs.toDF()))
    finish(top, idx.docs, k)
  }

  /** Proximity phrase ("a b"~slop) through the positional index. */
  private[graft] def bm25PhraseSlop(s: SparkSession, dir: String,
      phrase: String, slop: Int, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.phraseTopK(s, idx.blocks, idx.corpus, phrase,
      WandFetchK, cfg, slop, idx.tombstoneSet)
    finish(top, idx.docs, k)
  }

  /** Batched unified-grammar fixture: every query that is not
    * filter-only — plain, wildcard, composed and fielded alike — shares one
    * block-max scorer job (a fielded one adds its allow-list's jobs), and a
    * filter-only one would union in — the serving shape for a request batch
    * over the single search box.
    */
  private[graft] val batchSearchSet: Seq[(String, String)] = Seq(
    "s1" -> "spark join data",
    "s2" -> "dat* join",
    "s3" -> "query \"data stream\"~2 -batch join",
    "s4" -> "role:user spark join data")

  /** A unified-grammar batch in as few jobs as possible, per-qid
    * round->rank like `bm25_batch`.
    */
  private[graft] def bm25SearchBatch(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.searchBatch(s, idx.blocks, idx.termStats, idx.corpus,
      batchSearchSet, WandFetchK, 1, cfg, idx.tombstoneSet, Some(idx.docs.toDF()))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("docId").asc)
    top.withColumn("score", round(col("score"), 4))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("docId").as("doc_id"), col("score"))
  }

  /** All reference queries scored in ONE job (shared scan + decode),
    * per-qid round→rank like `finish`.
    */
  private[graft] def bm25Batch(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val idx = index(s, dir)
    val top = QueryEngine.wandTopKBatch(s, idx.blocks, idx.termStats, idx.corpus,
      querySet, WandFetchK, cfg, idx.tombstoneSet)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("docId").asc)
    top.withColumn("score", round(col("score"), 4))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("docId").as("doc_id"), col("score"))
  }

  // ---------------------------------------------------------------- contract

  /** Flagship: decorated BM25 top-10 for q1 on sf0.001 through the
    * block-max WAND path over the encoded on-disk index (block scan with
    * term pushdown → per-shard WAND into per-task heaps → driver merge →
    * broadcast decoration).
    */
  def entry(spark: SparkSession): DataFrame =
    bm25Wand(spark, "/root/testdata/sf0.001", queryText("q1"))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    engineQueries ++ graft.operators.Relational.queries ++
      graft.operators.TrainingData.queries ++ graft.operators.Multimodal.queries

  def oracleSql: Map[String, String] =
    engineOracles ++ graft.operators.Relational.oracles ++
      graft.operators.TrainingData.oracles ++ graft.operators.Multimodal.oracles

  // ------------------------------------------------------- engine queries

  private def engineQueries: Map[String, (SparkSession, String) => DataFrame] = {
    val base: Map[String, (SparkSession, String) => DataFrame] = Map(
      "transcripts" -> ((s, dir) => transcripts(s, dir)),
      "docids" -> ((s, dir) =>
        rel(s, dir).docs.toDF()
          .select(col("docId").as("doc_id"), col("conv_id"), col("turn_idx"), col("text"))),
      "doc_stats" -> ((s, dir) =>
        rel(s, dir).docStats
          .select(col("docId").as("doc_id"), col("dl").cast("int").as("dl"))),
      "term_stats" -> ((s, dir) =>
        rel(s, dir).termStats.toDF()
          .select(col("term"), col("df"), round(col("idf"), 6).as("idf"))),
      "corpus_stats" -> ((s, dir) => {
        val c = rel(s, dir).corpus
        val one = s.range(1)
        one.select(lit(c.docCount).as("n"), round(lit(c.avgdl), 6).as("avgdl"))
      }),
      "postings" -> ((s, dir) =>
        rel(s, dir).postings
          .select(col("term"), col("docId").as("doc_id"), col("tf").cast("int").as("tf"))),
      // round-trip through the ENCODED index via the decode_block Catalyst
      // expression — must hash-match the `postings` oracle exactly
      "postings_from_blocks" -> ((s, dir) =>
        index(s, dir).blocks.toDF()
          .select(col("term"),
            explode(graft.plans.DecodeBlock(col("payload"), col("n"))).as("p"))
          .select(col("term"), col("p.docId").as("doc_id"), col("p.tf"))),
      // point doc fetch against the BUILT index (the reference's
      // /paper/{id} shape, fetch_paper_job.py:19 — theirs launched a whole
      // spark-submit per lookup; here it's a pushed-down parquet point read
      // on the long-lived session)
      "doc_lookup" -> ((s, dir) =>
        index(s, dir).docs.toDF()
          .filter(col("docId") === 123L)
          .select(col("docId").as("doc_id"), col("conv_id"), col("turn_idx"), col("text"))),
      // ---- delete lifecycle (build → append → delete → query) ----
      // the surviving doc set after applying the drop set to a LIVE index
      "delete_apply" -> ((s, dir) =>
        lifecycleIndex(s, dir).docs.toDF()
          .select(col("docId").as("doc_id"), col("conv_id"), col("turn_idx"), col("text"))),
      // stats maintained through the delete must equal the survivors'
      "delete_term_stats" -> ((s, dir) =>
        lifecycleIndex(s, dir).termStats.toDF()
          .select(col("term"), col("df"), round(col("idf"), 6).as("idf"))),
      // spark.sql(...) surface over a registered view — same engine, SQL
      // entry point
      "sql_q1" -> ((s, dir) => {
        s.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("lineitem_v")
        s.sql("""SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
                 FROM lineitem_v GROUP BY l_returnflag""")
      })
    )
    // the canonical bm25_q* entries ARE the WAND path (the former
    // bm25_wand_* aliases were byte-identical duplicates and were folded in)
    val bm25Qs = querySet.map { case (qid, text) =>
      s"bm25_$qid" -> ((s: SparkSession, dir: String) => bm25Wand(s, dir, text))
    }
    val servingQs = Seq("q1", "q6", "q10").map { qid =>
      s"bm25_serving_$qid" -> ((s: SparkSession, dir: String) => bm25Serving(s, dir, queryText(qid)))
    }
    val phraseQs = phraseSet.map { case (pid, text) =>
      s"phrase_$pid" -> ((s: SparkSession, dir: String) => bm25Phrase(s, dir, text))
    }
    val mixedQ = Map(
      "phrase_filter_rank" -> ((s: SparkSession, dir: String) =>
        bm25PhraseFilter(s, dir, mixedQuery._1, mixedQuery._2)))
    val andQs = andSet.map { case (qid, text) =>
      s"bm25_and_$qid" -> ((s: SparkSession, dir: String) => bm25And(s, dir, text))
    }
    // WAND over the post-delete lifecycle index: scores must equal a
    // from-scratch build on the survivors (q6 = head term — tombstone
    // skips interact with block-max skipping hardest there)
    val deletedQs = Seq("q1", "q6").map { qid =>
      s"bm25_deleted_$qid" -> ((s: SparkSession, dir: String) => bm25Deleted(s, dir, queryText(qid)))
    }
    val slopQ = Map(
      "phrase_slop" -> ((s: SparkSession, dir: String) =>
        bm25PhraseSlop(s, dir, slopQuery._1, slopQuery._2)))
    val msmQ = Map(
      "bm25_msm_q1" -> ((s: SparkSession, dir: String) =>
        bm25Msm(s, dir, msmQuery._1, msmQuery._2)),
      "bm25_prefix_q1" -> ((s: SparkSession, dir: String) =>
        bm25Prefix(s, dir, prefixQuery)))
    val searchQs = mixedSet.map { case (qid, (text, m)) =>
      s"bm25_mixed_$qid" -> ((s: SparkSession, dir: String) => bm25Search(s, dir, text, m))
    } ++ fieldSet.map { case (qid, (text, m)) =>
      s"bm25_field_$qid" -> ((s: SparkSession, dir: String) => bm25Search(s, dir, text, m))
    }
    val batchQ = Map(
      "bm25_batch" -> ((s: SparkSession, dir: String) => bm25Batch(s, dir)),
      "search_batch" -> ((s: SparkSession, dir: String) => bm25SearchBatch(s, dir)))
    base ++ bm25Qs ++ servingQs ++ phraseQs ++ mixedQ ++ andQs ++ deletedQs ++
      slopQ ++ msmQ ++ searchQs ++ batchQ
  }

  // -------------------------------------------------------- oracle SQL

  /** Stopwords that can actually occur as tokens (the analyzer never emits
    * apostrophes, so words like "don't" are unreachable on both sides).
    */
  private lazy val sqlStopList: String = Analyzer.englishStopwords.toSeq
    .filter(_.matches("[\\p{L}\\p{N}]+")).sorted
    .map(w => s"'$w'").mkString(", ")

  private def cteTranscripts: String =
    s"""transcripts AS (
       |  SELECT
       |    'conv-' || lpad(CAST(doc_id % ${TranscriptSource.Convs} AS VARCHAR), ${TranscriptSource.ConvDigits}, '0') AS conv_id,
       |    CAST(floor(doc_id / ${TranscriptSource.Convs}) AS INT) AS turn_idx,
       |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
       |         WHEN 2 THEN 'system' ELSE 'tool' END AS role,
       |    text,
       |    CASE CAST(doc_id % 4 AS INT) WHEN 3 THEN 'search' ELSE '' END AS tool,
       |    TIMESTAMP '2026-01-01 00:00:00' + to_seconds(doc_id) AS ts
       |  FROM documents)""".stripMargin

  // blank-test mirrors Java String.trim.nonEmpty EXACTLY ("has any char
  // above U+0020") — DuckDB's trim() strips spaces only, so a "\t"-only
  // text would get a doc_id in the oracle but not in the engine and shift
  // every subsequent id. ONE body, parameterized by the bound name, so the
  // lifecycle oracle can never drift from the plain one.
  private def cteDocsAs(name: String): String =
    s"""$name AS (
      |  SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS doc_id,
      |         conv_id, turn_idx, text
      |  FROM transcripts WHERE text IS NOT NULL AND regexp_matches(text, '[^\\x00-\\x20]'))""".stripMargin

  private def cteDocs: String = cteDocsAs("docs")

  private def cteTokens: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\\pL\\pN]+')) AS term
       |  FROM docs),
       |ftoks AS (SELECT doc_id, term FROM toks WHERE term NOT IN ($sqlStopList)),
       |dstat AS (
       |  SELECT d.doc_id, CAST(coalesce(t.c, 0) AS INT) AS dl
       |  FROM docs d LEFT JOIN (SELECT doc_id, count(*) AS c FROM ftoks GROUP BY 1) t
       |  USING (doc_id)),
       |corpus AS (SELECT (SELECT count(*) FROM docs) AS n,
       |                  (SELECT avg(dl) FROM dstat) AS avgdl),
       |post AS (SELECT term, doc_id, CAST(count(*) AS INT) AS tf FROM ftoks GROUP BY 1, 2),
       |tstat AS (SELECT term, count(*) AS df FROM post GROUP BY 1)""".stripMargin

  private def bm25OracleSql(queryText: String, docsCte: String = cteDocs): String = {
    val qterms = Analyzer.analyzeQuery(queryText, cfg.analyzer)
    val values = qterms.map { case (t, n) => s"('$t', $n)" }.mkString(", ")
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$docsCte,
       |$cteTokens,
       |q(term, qtf) AS (VALUES $values),
       |contrib AS (
       |  SELECT p.doc_id,
       |         q.qtf * ln((c.n + 1.0) / (t.df + 1.0)) *
       |         (p.tf * ($k1 + 1.0) / (p.tf + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))) AS x
       |  FROM post p
       |  JOIN q USING (term) JOIN tstat t USING (term) JOIN dstat d USING (doc_id)
       |  CROSS JOIN corpus c),
       |scores AS (SELECT doc_id, round(sum(x), 4) AS score FROM contrib GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS INT) AS rank,
       |       s.doc_id, s.score, d.conv_id, d.turn_idx, d.text
       |FROM scores s JOIN docs d USING (doc_id)
       |ORDER BY s.score DESC, s.doc_id LIMIT 10""".stripMargin
  }

  /** Lifecycle (post-delete, post-update) docs CTE: the same global id
    * assignment as [[cteDocs]] (the conv-prefix split keeps two-stage
    * append ids equal to the global sort), minus the deleted set — the
    * near-dup keep-set complement (MinHash-LSH cluster losers, mapped back
    * through the inverse transcript derivation) plus the docId ≡ 0 mod 7
    * redaction set — and with [[LcUpdateConv]]'s surviving turns UPDATED:
    * digits redacted, re-assigned NEW ids at the watermark (= count of all
    * indexable docs; deletes never lower `nextDocId`) in (conv_id,
    * turn_idx) order, exactly how appendSnapshot assigns the re-added
    * versions. Bound as `docs` so every downstream stats/scoring CTE
    * automatically computes post-lifecycle-exact df/avgdl/N — the oracle
    * for "identical to a from-scratch build on the final corpus".
    */
  private def cteLcDocs: String =
    // MATERIALIZED: DuckDB inlines plain CTEs per reference, so the
    // recursive losers subquery (and the whole lifecycle doc set) would
    // otherwise re-evaluate once per downstream stats CTE — a
    // multi-minute oracle instead of a sub-second one
    s"""losers AS MATERIALIZED (
       |${graft.operators.TrainingData.dedupLosersSubquery}
       |),
       |${cteDocsAs("docs0")},
       |live0 AS MATERIALIZED (SELECT * FROM docs0
       |  WHERE doc_id % 7 <> 0
       |    AND ${TranscriptSource.srcDocIdSql}
       |        NOT IN (SELECT doc_id FROM losers)),
       |w AS (SELECT count(*) AS wm FROM docs0),
       |upd AS (SELECT conv_id, turn_idx, regexp_replace(text, '[0-9]', 'x', 'g') AS text
       |        FROM live0 WHERE conv_id = '$LcUpdateConv'),
       |docs AS MATERIALIZED (
       |  SELECT doc_id, conv_id, turn_idx, text FROM live0 WHERE conv_id <> '$LcUpdateConv'
       |  UNION ALL
       |  SELECT wm + row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS doc_id,
       |         conv_id, turn_idx, text
       |  FROM upd CROSS JOIN w)""".stripMargin

  /** Conjunctive (AND / -term) oracle: candidate docs must contain ALL
    * required analyzed terms (GROUP BY doc HAVING count(distinct term) = n
    * — a required term absent from the corpus makes the result empty) and
    * none of the excluded terms; ranking is the same BM25 fold as
    * [[bm25OracleSql]] over the required terms.
    */
  private def bm25AndOracleSql(queryText: String): String = {
    val (posText, negRaw) = QueryEngine.parseBoolean(queryText)
    val qterms = Analyzer.analyzeQuery(posText, cfg.analyzer)
    val negTerms = negRaw.flatMap(t => Analyzer.tokenize(t, cfg.analyzer)).distinct
    val values = qterms.map { case (t, n) => s"('$t', $n)" }.mkString(", ")
    val nReq = qterms.map(_._1).distinct.size
    val exclPred =
      if (negTerms.isEmpty) ""
      else "\n    AND p.doc_id NOT IN (SELECT doc_id FROM post WHERE term IN (" +
        negTerms.map(t => s"'$t'").mkString(", ") + "))"
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$cteDocs,
       |$cteTokens,
       |q(term, qtf) AS (VALUES $values),
       |m AS (SELECT p.doc_id FROM post p JOIN q USING (term)
       |      GROUP BY 1 HAVING count(DISTINCT p.term) = $nReq),
       |contrib AS (
       |  SELECT p.doc_id,
       |         q.qtf * ln((c.n + 1.0) / (t.df + 1.0)) *
       |         (p.tf * ($k1 + 1.0) / (p.tf + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))) AS x
       |  FROM post p
       |  JOIN q USING (term) JOIN tstat t USING (term) JOIN dstat d USING (doc_id)
       |  CROSS JOIN corpus c
       |  WHERE p.doc_id IN (SELECT doc_id FROM m)$exclPred),
       |scores AS (SELECT doc_id, round(sum(x), 4) AS score FROM contrib GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS INT) AS rank,
       |       s.doc_id, s.score, d.conv_id, d.turn_idx, d.text
       |FROM scores s JOIN docs d USING (doc_id)
       |ORDER BY s.score DESC, s.doc_id LIMIT 10""".stripMargin
  }

  /** Minimum-should-match oracle: docs with at least m distinct matched
    * query terms, scored over the terms they contain (post JOIN q yields
    * only present terms, exactly the engine's matched-clause scoring).
    */
  private def bm25MsmOracleSql(queryText: String, m: Int): String = {
    val qterms = Analyzer.analyzeQuery(queryText, cfg.analyzer)
    val values = qterms.map { case (t, n) => s"('$t', $n)" }.mkString(", ")
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$cteDocs,
       |$cteTokens,
       |q(term, qtf) AS (VALUES $values),
       |mset AS (SELECT p.doc_id FROM post p JOIN q USING (term)
       |      GROUP BY 1 HAVING count(DISTINCT p.term) >= $m),
       |contrib AS (
       |  SELECT p.doc_id,
       |         q.qtf * ln((c.n + 1.0) / (t.df + 1.0)) *
       |         (p.tf * ($k1 + 1.0) / (p.tf + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))) AS x
       |  FROM post p
       |  JOIN q USING (term) JOIN tstat t USING (term) JOIN dstat d USING (doc_id)
       |  CROSS JOIN corpus c
       |  WHERE p.doc_id IN (SELECT doc_id FROM mset)),
       |scores AS (SELECT doc_id, round(sum(x), 4) AS score FROM contrib GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS INT) AS rank,
       |       s.doc_id, s.score, d.conv_id, d.turn_idx, d.text
       |FROM scores s JOIN docs d USING (doc_id)
       |ORDER BY s.score DESC, s.doc_id LIMIT 10""".stripMargin
  }

  /** Prefix/wildcard oracle: wildcard tokens expand against the term
    * dictionary (LIKE 'p%' ORDER BY term LIMIT cap — the engine's exact
    * expansion rule), weights merge per distinct term, then the standard
    * BM25 fold. Parsing is [[QueryEngine.parsePrefixQuery]] on BOTH sides.
    */
  private def bm25PrefixOracleSql(queryText: String): String = {
    val (literal, prefixes) = QueryEngine.parsePrefixQuery(queryText, cfg)
    val litSelect =
      if (literal.isEmpty) Nil
      else Seq("SELECT * FROM (VALUES " +
        literal.map { case (t, n) => s"('$t', $n)" }.mkString(", ") + ") v(term, qtf)")
    val expSelects = prefixes.map { case (p, n) =>
      s"""SELECT term, $n AS qtf FROM (
         |    SELECT term FROM tstat WHERE term LIKE '$p%'
         |    ORDER BY term LIMIT ${QueryEngine.PrefixExpansionCap})""".stripMargin
    }
    val qBody = (litSelect ++ expSelects).mkString("\n  UNION ALL ")
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$cteDocs,
       |$cteTokens,
       |q AS (SELECT term, CAST(SUM(qtf) AS INT) AS qtf FROM (
       |  $qBody
       |) GROUP BY 1),
       |contrib AS (
       |  SELECT p.doc_id,
       |         q.qtf * ln((c.n + 1.0) / (t.df + 1.0)) *
       |         (p.tf * ($k1 + 1.0) / (p.tf + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))) AS x
       |  FROM post p
       |  JOIN q USING (term) JOIN tstat t USING (term) JOIN dstat d USING (doc_id)
       |  CROSS JOIN corpus c),
       |scores AS (SELECT doc_id, round(sum(x), 4) AS score FROM contrib GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS INT) AS rank,
       |       s.doc_id, s.score, d.conv_id, d.turn_idx, d.text
       |FROM scores s JOIN docs d USING (doc_id)
       |ORDER BY s.score DESC, s.doc_id LIMIT 10""".stripMargin
  }

  /** Unified search-box oracle — the composition of the per-feature oracle
    * pieces, mirroring [[QueryEngine.search]]'s general path (its one
    * block-max scorer job): every quoted phrase filters (its
    * adjacency/slop CTEs under a per-phrase suffix), exclusions drop
    * candidate docs, minimum-should-match gates on the per-doc
    * distinct-matched-term count, and ranking is the standard BM25 fold
    * over the positive terms (free + phrase words + wildcard expansions).
    * Parsing is [[QueryEngine.parseQuery]] on BOTH sides.
    */
  private def composedOracleSql(query: String, m: Int): String = {
    val pq = QueryEngine.parseQuery(query)
    val phraseTerms = pq.phrases.map { case (ph, slop) =>
      (Analyzer.tokenize(ph, cfg.analyzer), slop)
    }
    // mirror the engine: an all-stopword phrase can never match
    if (phraseTerms.exists(_._1.isEmpty))
      return s"""WITH $cteTranscripts,
                |$cteDocs
                |SELECT CAST(0 AS INT) AS rank, doc_id, CAST(0.0 AS DOUBLE) AS score,
                |       conv_id, turn_idx, text
                |FROM docs WHERE false""".stripMargin
    val stems = QueryEngine.analyzePrefixStems(pq.prefixes.map(_.dropRight(1)))
    val literal = Analyzer.analyzeQuery(
      (pq.free ++ pq.phrases.map(_._1)).mkString(" "), cfg.analyzer)
    val excl = pq.excluded.flatMap(t => Analyzer.tokenize(t, cfg.analyzer)).distinct
    val litSelect =
      if (literal.isEmpty) Nil
      else Seq("SELECT * FROM (VALUES " +
        literal.map { case (t, n) => s"('$t', $n)" }.mkString(", ") + ") v(term, qtf)")
    val expSelects = stems.map { case (p, n) =>
      s"""SELECT term, $n AS qtf FROM (
         |    SELECT term FROM tstat WHERE term LIKE '$p%'
         |    ORDER BY term LIMIT ${QueryEngine.PrefixExpansionCap})""".stripMargin
    }
    val qBody = (litSelect ++ expSelects).mkString("\n  UNION ALL ")
    // no phrases -> no positional CTEs at all (an empty segment between
    // commas is a DuckDB syntax error)
    val phraseCtes = phraseTerms.zipWithIndex.map { case ((terms, slop), i) =>
      if (slop == 0) phraseMatchCtes(terms, s"_$i")
      else phraseSlopMatchCtes(terms, slop, s"_$i")
    }.mkString(",\n")
    val posSegment =
      if (phraseTerms.isEmpty) "" else s"$ctePosToks,\n$phraseCtes,\n"
    val phrasePreds = phraseTerms.indices
      .map(i => s"\n    AND p.doc_id IN (SELECT doc_id FROM mm_$i)").mkString
    val exclPred =
      if (excl.isEmpty) ""
      else "\n    AND p.doc_id NOT IN (SELECT doc_id FROM post WHERE term IN (" +
        excl.map(t => s"'$t'").mkString(", ") + "))"
    // field predicates live on the transcripts row (role/tool); docs keeps
    // (conv_id, turn_idx) which identify it uniquely
    val fieldPred =
      if (pq.fields.isEmpty) ""
      else "\n    AND p.doc_id IN (SELECT d.doc_id FROM docs d " +
        "JOIN transcripts tr ON d.conv_id = tr.conv_id AND d.turn_idx = tr.turn_idx " +
        "WHERE " + pq.fields.map { case (f, v) => s"tr.$f = '$v'" }.mkString(" AND ") + ")"
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$cteDocs,
       |$cteTokens,
       |${posSegment}q AS (SELECT term, CAST(SUM(qtf) AS INT) AS qtf FROM (
       |  $qBody
       |) GROUP BY 1),
       |mset AS (SELECT p.doc_id FROM post p JOIN q USING (term)
       |      GROUP BY 1 HAVING count(DISTINCT p.term) >= $m),
       |contrib AS (
       |  SELECT p.doc_id,
       |         q.qtf * ln((c.n + 1.0) / (t.df + 1.0)) *
       |         (p.tf * ($k1 + 1.0) / (p.tf + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))) AS x
       |  FROM post p
       |  JOIN q USING (term) JOIN tstat t USING (term) JOIN dstat d USING (doc_id)
       |  CROSS JOIN corpus c
       |  WHERE p.doc_id IN (SELECT doc_id FROM mset)$phrasePreds$exclPred$fieldPred),
       |scores AS (SELECT doc_id, round(sum(x), 4) AS score FROM contrib GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS INT) AS rank,
       |       s.doc_id, s.score, d.conv_id, d.turn_idx, d.text
       |FROM scores s JOIN docs d USING (doc_id)
       |ORDER BY s.score DESC, s.doc_id LIMIT 10""".stripMargin
  }

  /** Slop-phrase match CTEs: mm(doc_id, tfp) where tfp counts start
    * positions with a strictly increasing chain of the terms whose span is
    * <= (n-1)+slop. The per-step bound `p_j <= start + j + slop` is implied
    * by the final-span bound, so adding it changes nothing semantically —
    * it just keeps the join fan-out linear in slop.
    */
  private def phraseSlopMatchCtes(terms: Seq[String], slop: Int,
      sfx: String = ""): String = {
    val joins = terms.zipWithIndex.drop(1).map { case (t, j) =>
      val prev = if (j == 1) s"m0$sfx.fpos" else s"p${j - 1}.fpos"
      s"JOIN ptoks p$j ON p$j.doc_id = m0$sfx.doc_id AND p$j.term = '$t' " +
        s"AND p$j.fpos > $prev AND p$j.fpos <= m0$sfx.fpos + ${j + slop}"
    }.mkString("\n       ")
    s"""m0$sfx AS (SELECT doc_id, fpos FROM ptoks WHERE term = '${terms.head}'),
       |cand$sfx AS (SELECT DISTINCT m0$sfx.doc_id, m0$sfx.fpos
       |       FROM m0$sfx
       |       $joins),
       |mm$sfx AS (SELECT doc_id, count(*) AS tfp FROM cand$sfx GROUP BY 1)""".stripMargin
  }

  /** Proximity-phrase BM25 oracle — [[phraseOracleSql]] with the slop
    * chain CTEs in place of exact adjacency.
    */
  private def phraseSlopOracleSql(phrase: String, slop: Int): String = {
    val terms = Analyzer.tokenize(phrase, cfg.analyzer)
    require(terms.nonEmpty, s"empty analyzed slop phrase: $phrase")
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$cteDocs,
       |$cteTokens,
       |$ctePosToks,
       |${phraseSlopMatchCtes(terms, slop)},
       |dfp AS (SELECT count(*) AS c FROM mm),
       |scores AS (
       |  SELECT mm.doc_id,
       |    round(ln((c.n + 1.0) / (dfp.c + 1.0)) *
       |      (mm.tfp * ($k1 + 1.0) / (mm.tfp + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))), 4) AS score
       |  FROM mm JOIN dstat d ON mm.doc_id = d.doc_id CROSS JOIN corpus c CROSS JOIN dfp)
       |SELECT CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS INT) AS rank,
       |       s.doc_id, s.score, dd.conv_id, dd.turn_idx, dd.text
       |FROM scores s JOIN docs dd ON s.doc_id = dd.doc_id
       |ORDER BY s.score DESC, s.doc_id LIMIT 10""".stripMargin
  }

  /** Positions in the FILTERED token stream (1-based), the positional twin
    * of cteTokens: multiple unnests zip positionally in DuckDB, giving raw
    * positions; stopword filtering then re-ranks per doc — exactly the
    * index's storePositions semantics.
    */
  private def ctePosToks: String =
    s"""rawtoks AS (
       |  SELECT doc_id, unnest(r) AS term, unnest(range(1, len(r) + 1)) AS p
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[\\pL\\pN]+') AS r FROM docs)),
       |ptoks AS (
       |  SELECT doc_id, term,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY p) AS fpos
       |  FROM rawtoks WHERE term NOT IN ($sqlStopList))""".stripMargin

  /** Phrase adjacency-match CTEs: mm(doc_id, tfp) for the given token
    * sequence over the filtered positions (`ptoks` must be in scope).
    */
  private def phraseMatchCtes(terms: Seq[String], sfx: String = ""): String = {
    val joins = terms.zipWithIndex.drop(1).map { case (t, j) =>
      s"JOIN ptoks p$j ON p$j.doc_id = m0$sfx.doc_id AND p$j.term = '$t' AND p$j.fpos = m0$sfx.fpos + $j"
    }.mkString("\n       ")
    s"""m0$sfx AS (SELECT doc_id, fpos FROM ptoks WHERE term = '${terms.head}'),
       |mm$sfx AS (SELECT m0$sfx.doc_id, count(*) AS tfp
       |       FROM m0$sfx
       |       $joins
       |       GROUP BY 1)""".stripMargin
  }

  /** Phrase BM25 oracle: adjacency joins on filtered positions, phrase tf /
    * df / idf, the same contribution shape as [[bm25OracleSql]] with qtf=1.
    */
  private def phraseOracleSql(phrase: String): String = {
    val terms = Analyzer.tokenize(phrase, cfg.analyzer)
    // mirror the engine (phraseTopK returns no rows): an all-stopword
    // phrase is an empty result, not a crash while building the oracle map
    if (terms.isEmpty)
      return s"""WITH $cteTranscripts,
                |$cteDocs
                |SELECT CAST(0 AS INT) AS rank, doc_id, CAST(0.0 AS DOUBLE) AS score,
                |       conv_id, turn_idx, text
                |FROM docs WHERE false""".stripMargin
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$cteDocs,
       |$cteTokens,
       |$ctePosToks,
       |${phraseMatchCtes(terms)},
       |dfp AS (SELECT count(*) AS c FROM mm),
       |scores AS (
       |  SELECT mm.doc_id,
       |    round(ln((c.n + 1.0) / (dfp.c + 1.0)) *
       |      (mm.tfp * ($k1 + 1.0) / (mm.tfp + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))), 4) AS score
       |  FROM mm JOIN dstat d ON mm.doc_id = d.doc_id CROSS JOIN corpus c CROSS JOIN dfp)
       |SELECT CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS INT) AS rank,
       |       s.doc_id, s.score, dd.conv_id, dd.turn_idx, dd.text
       |FROM scores s JOIN docs dd ON s.doc_id = dd.doc_id
       |ORDER BY s.score DESC, s.doc_id LIMIT 10""".stripMargin
  }

  /** Mixed-query oracle: phrase adjacency as a filter, full-query BM25 as
    * rank — mirrors [[QueryEngine.phraseFilterRank]].
    */
  private def phraseFilterRankOracleSql(freeTerms: String, phrase: String): String = {
    val pTerms = Analyzer.tokenize(phrase, cfg.analyzer)
    // same guard as phraseOracleSql: an all-stopword phrase is an empty
    // result (engine: phraseFilterRank returns no rows), never a crash
    // while the whole oracle map is being built
    if (pTerms.isEmpty)
      return s"""WITH $cteTranscripts,
                |$cteDocs
                |SELECT CAST(0 AS INT) AS rank, doc_id, CAST(0.0 AS DOUBLE) AS score,
                |       conv_id, turn_idx, text
                |FROM docs WHERE false""".stripMargin
    val qterms = Analyzer.analyzeQuery(freeTerms + " " + phrase, cfg.analyzer)
    val values = qterms.map { case (t, n) => s"('$t', $n)" }.mkString(", ")
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$cteDocs,
       |$cteTokens,
       |$ctePosToks,
       |${phraseMatchCtes(pTerms)},
       |q(term, qtf) AS (VALUES $values),
       |contrib AS (
       |  SELECT p.doc_id,
       |         q.qtf * ln((c.n + 1.0) / (t.df + 1.0)) *
       |         (p.tf * ($k1 + 1.0) / (p.tf + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))) AS x
       |  FROM post p
       |  JOIN q USING (term) JOIN tstat t USING (term) JOIN dstat d USING (doc_id)
       |  CROSS JOIN corpus c
       |  WHERE p.doc_id IN (SELECT doc_id FROM mm)),
       |scores AS (SELECT doc_id, round(sum(x), 4) AS score FROM contrib GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY s.score DESC, s.doc_id) AS INT) AS rank,
       |       s.doc_id, s.score, d.conv_id, d.turn_idx, d.text
       |FROM scores s JOIN docs d USING (doc_id)
       |ORDER BY s.score DESC, s.doc_id LIMIT 10""".stripMargin
  }

  /** Raw-rank serving oracle: ranks on EXACT scores (no pre-round), rounds
    * only the displayed score — mirrors `bm25Serving`. Cross-engine double
    * sums agree to ~1e-12 relative, far below any score gap between
    * distinct documents in the fixtures, so raw ranking is stable.
    */
  private def bm25ServingOracleSql(queryText: String): String = {
    val qterms = Analyzer.analyzeQuery(queryText, cfg.analyzer)
    val values = qterms.map { case (t, n) => s"('$t', $n)" }.mkString(", ")
    val k1 = cfg.params.k1
    val b = cfg.params.b
    s"""WITH $cteTranscripts,
       |$cteDocs,
       |$cteTokens,
       |q(term, qtf) AS (VALUES $values),
       |contrib AS (
       |  SELECT p.doc_id,
       |         q.qtf * ln((c.n + 1.0) / (t.df + 1.0)) *
       |         (p.tf * ($k1 + 1.0) / (p.tf + $k1 * (1.0 - $b + $b * d.dl / c.avgdl))) AS x
       |  FROM post p
       |  JOIN q USING (term) JOIN tstat t USING (term) JOIN dstat d USING (doc_id)
       |  CROSS JOIN corpus c),
       |scores AS (SELECT doc_id, sum(x) AS score FROM contrib GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
       |       doc_id, round(score, 4) AS score
       |FROM scores ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  private def engineOracles: Map[String, String] = {
    val base = Map(
      "transcripts" ->
        s"WITH $cteTranscripts SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts",
      "docids" ->
        s"WITH $cteTranscripts,\n$cteDocs SELECT doc_id, conv_id, turn_idx, text FROM docs",
      "doc_stats" ->
        s"WITH $cteTranscripts,\n$cteDocs,\n$cteTokens SELECT doc_id, dl FROM dstat",
      "term_stats" ->
        (s"WITH $cteTranscripts,\n$cteDocs,\n$cteTokens " +
          "SELECT t.term, t.df, round(ln((c.n + 1.0) / (t.df + 1.0)), 6) AS idf " +
          "FROM tstat t CROSS JOIN corpus c"),
      "corpus_stats" ->
        s"WITH $cteTranscripts,\n$cteDocs,\n$cteTokens SELECT n, round(avgdl, 6) AS avgdl FROM corpus",
      "postings" ->
        s"WITH $cteTranscripts,\n$cteDocs,\n$cteTokens SELECT term, doc_id, tf FROM post",
      "postings_from_blocks" ->
        s"WITH $cteTranscripts,\n$cteDocs,\n$cteTokens SELECT term, doc_id, tf FROM post",
      "doc_lookup" ->
        s"WITH $cteTranscripts,\n$cteDocs SELECT doc_id, conv_id, turn_idx, text FROM docs WHERE doc_id = 123",
      "sql_q1" ->
        """SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
          |FROM lineitem GROUP BY 1""".stripMargin
    )
    val bm25Qs = querySet.map { case (qid, text) => s"bm25_$qid" -> bm25OracleSql(text) }
    val servingQs = Seq("q1", "q6", "q10").map { qid =>
      s"bm25_serving_$qid" -> bm25ServingOracleSql(queryText(qid))
    }
    val phraseQs = phraseSet.map { case (pid, text) =>
      s"phrase_$pid" -> phraseOracleSql(text)
    }
    val mixedQ = Map(
      "phrase_filter_rank" -> phraseFilterRankOracleSql(mixedQuery._1, mixedQuery._2))
    val andQs = andSet.map { case (qid, text) =>
      s"bm25_and_$qid" -> bm25AndOracleSql(text)
    }
    val deletedQs = Seq("q1", "q6").map { qid =>
      s"bm25_deleted_$qid" -> bm25OracleSql(queryText(qid), cteLcDocs)
    }
    val lifecycleOracles = Map(
      "delete_apply" ->
        s"WITH $cteTranscripts,\n$cteLcDocs SELECT doc_id, conv_id, turn_idx, text FROM docs",
      "delete_term_stats" ->
        (s"WITH $cteTranscripts,\n$cteLcDocs,\n$cteTokens " +
          "SELECT t.term, t.df, round(ln((c.n + 1.0) / (t.df + 1.0)), 6) AS idf " +
          "FROM tstat t CROSS JOIN corpus c"))
    val slopQ = Map(
      "phrase_slop" -> phraseSlopOracleSql(slopQuery._1, slopQuery._2))
    val msmQ = Map(
      "bm25_msm_q1" -> bm25MsmOracleSql(msmQuery._1, msmQuery._2),
      "bm25_prefix_q1" -> bm25PrefixOracleSql(prefixQuery))
    val searchQs = mixedSet.map { case (qid, (text, m)) =>
      s"bm25_mixed_$qid" -> composedOracleSql(text, m)
    } ++ fieldSet.map { case (qid, (text, m)) =>
      s"bm25_field_$qid" -> composedOracleSql(text, m)
    }
    val batchOracle = Map(
      "bm25_batch" -> querySet.map { case (qid, text) =>
        s"SELECT '$qid' AS qid, rank, doc_id, score FROM (\n${bm25OracleSql(text)}\n)"
      }.mkString("\nUNION ALL\n"),
      "search_batch" -> batchSearchSet.map { case (qid, text) =>
        s"SELECT '$qid' AS qid, rank, doc_id, score FROM (\n${composedOracleSql(text, 1)}\n)"
      }.mkString("\nUNION ALL\n"))
    base ++ bm25Qs ++ servingQs ++ phraseQs ++ mixedQ ++ andQs ++ deletedQs ++
      lifecycleOracles ++ slopQ ++ msmQ ++ searchQs ++ batchOracle
  }
}
