package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, log}

import graft.model.Bm25Params

/** The one BM25 formula, shared by every scoring path (scalar oracle,
  * Catalyst exhaustive scorer, block-max WAND) so rank-identity reduces to
  * identical operation order on IEEE doubles.
  *
  * score(d,q) = Σ_{t ∈ q ∩ d} qtf(t) · idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  * idf(t)    = ln((N+1)/(df+1))          (Spark ML IDF semantics,
  *              /root/reference/data_processing/Lexical_indexing/bm25_precompute.py:50-54)
  * formula    /root/reference/data_processing/Lexical_indexing/bm25_kernel.cu:62-64
  * k1=1.2, b=0.75 pinned by BASELINE.json north rule.
  *
  * Summation is in ascending term order; ties broken (score desc, docId asc).
  * Query terms absent from the corpus contribute 0 and are dropped up front
  * (bm25_searcher.py:52); repeated query terms each contribute a full term
  * score (the reference kernel loops over query positions, bm25_kernel.cu:44-66)
  * — hence the qtf factor.
  */
object Bm25 {

  /** StrictMath.log, not math.log: Catalyst's Log expression evaluates via
    * StrictMath, and the two can differ by 1 ulp — enough to break
    * bit-identical rank-identity between the scalar oracle and the
    * distributed paths.
    */
  def idf(n: Long, df: Long): Double = java.lang.StrictMath.log((n + 1.0) / (df + 1.0))

  /** [[idf]] as a Catalyst column over a `df` column — what every term
    * stats relation stores.
    */
  def idfCol(n: Long, df: Column): Column = log((lit(n) + 1.0) / (df + 1.0))

  /** tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) — THE single definition, with
    * the exact association mirrored by the Catalyst expression in
    * QueryEngine; IndexBuilder.partial and the WAND cursor delegate here
    * so no second copy can drift and break bit-identity.
    */
  def partial(tf: Int, dl: Int, k1: Double, b: Double, avgdl: Double): Double =
    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

  def partial(tf: Int, dl: Int, avgdl: Double, p: Bm25Params): Double =
    partial(tf, dl, p.k1, p.b, avgdl)

  def contribution(qtf: Int, idf: Double, tf: Int, dl: Int, avgdl: Double, p: Bm25Params): Double =
    qtf * idf * partial(tf, dl, avgdl, p)
}
