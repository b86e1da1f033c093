package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexBuilder
import graft.query.QueryEngine

/** Reference answers for the serve workloads, computed from
  * `IndexBuilder.relations` of the same turns (the relational postings,
  * never the encoded blocks the engine scores):
  *   - plain OR queries: `QueryEngine.exhaustiveTopK`;
  *   - AND, minimum-should-match, exclusion, prefix and field queries: a
  *     brute-force filter over the postings, ranked by the same BM25 sum;
  *   - lone phrases: every returned doc must contain the phrase, and the
  *     answer must hold min(k, docs containing it) docs.
  * Answers match when the docIds are rank-identical and the scores agree
  * at 4 decimals (the repository's Verify gate rounding).
  */
final class Check(spark: SparkSession, rel: IndexBuilder.Relations,
    cfg: IndexBuilder.Config) {
  import spark.implicits._

  /** The subset of the search-box grammar the generator emits. */
  private final case class Parsed(free: Seq[String], excluded: Seq[String],
      prefixes: Seq[String], phrase: Option[Seq[String]], fields: Seq[(String, String)])

  private def parse(q: String): Parsed = {
    val phrase = "\"([^\"]*)\"".r.findFirstMatchIn(q).map(_.group(1).split(" ").toSeq)
    val toks = q.replaceAll("\"[^\"]*\"", " ").split("\\s+").toSeq.filter(_.nonEmpty)
    val (fieldToks, rest) = toks.partition(_.contains(":"))
    Parsed(
      rest.filterNot(t => t.startsWith("-") || t.endsWith("*")),
      rest.filter(_.startsWith("-")).map(_.drop(1)),
      rest.filter(_.endsWith("*")).map(_.dropRight(1)),
      phrase,
      fieldToks.map { t => val i = t.indexOf(':'); (t.take(i), t.drop(i + 1)) })
  }

  /** Brute-force BM25 top-k: docs holding >= msm of the positive terms, none
    * of the excluded ones, passing the field filters; scores summed in
    * ascending term order. */
  private def bruteForce(positive: Seq[(String, Int)], excluded: Seq[String],
      fields: Seq[(String, String)], msm: Int, k: Int): Seq[(Long, Double)] = {
    if (positive.isEmpty) return Nil
    val p = cfg.params
    val avgdl = rel.corpus.avgdl
    val weights = positive.toDF("term", "qtf")
      .join(rel.termStats.toDF().select($"term", $"idf"), Seq("term"))
    val scored = rel.postings.filter($"term".isin(positive.map(_._1): _*))
      .join(broadcast(weights), Seq("term"))
      .withColumn("contrib", $"qtf" * $"idf" * ($"tf" * lit(p.k1 + 1.0) /
        ($"tf" + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * $"dl" / lit(avgdl)))))
      .groupBy($"docId")
      .agg(collect_list(struct($"term", $"contrib")).as("cs"))
      .filter(size($"cs") >= msm)
      .select($"docId", aggregate(array_sort($"cs"), lit(0.0),
        (acc, x) => acc + x.getField("contrib")).as("score"))
    val noExcl =
      if (excluded.isEmpty) scored
      else scored.join(rel.postings.filter($"term".isin(excluded: _*)).select($"docId"),
        Seq("docId"), "left_anti")
    val filtered =
      if (fields.isEmpty) noExcl
      else noExcl.join(fields.foldLeft(rel.docs.toDF()) { case (d, (f, v)) =>
        d.filter(col(f) === v) }.select($"docId"), Seq("docId"), "left_semi")
    filtered.orderBy($"score".desc, $"docId".asc).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  private def expand(stem: String): Seq[String] =
    rel.termStats.filter($"term".startsWith(stem)).select($"term")
      .orderBy($"term").limit(QueryEngine.PrefixExpansionCap).as[String].collect().toSeq

  /** The reference answer of a (non-phrase) query, or None for a lone
    * phrase (checked by containment instead). */
  def reference(query: String, msm: Int, k: Int): Option[Seq[(Long, Double)]] = {
    val pq = parse(query)
    if (pq.phrase.nonEmpty) return None
    val positive = (pq.free ++ pq.prefixes.flatMap(expand))
      .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
    if (msm == 1 && pq.excluded.isEmpty && pq.fields.isEmpty && pq.prefixes.isEmpty)
      Some(QueryEngine.exhaustiveTopK(spark, rel, query, k, cfg)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    else Some(bruteForce(positive, pq.excluded, pq.fields, msm, k))
  }

  /** None when the engine's answer is right, else what differed. */
  def verify(query: String, msm: Int, k: Int, got: Seq[(Long, Double)]): Option[String] =
    parse(query).phrase match {
      case Some(words) => verifyPhrase(words, k, got)
      case None =>
        val want = reference(query, msm, k).get
        if (Check.sameRanking(got, want)) None
        else Some(s"[$query] msm=$msm: engine ${got.take(5)}… (${got.size}) " +
          s"vs reference ${want.take(5)}… (${want.size})")
    }

  /** [[verify]] over many answers, a few at a time (they are independent
    * Spark jobs); returns every mismatch. */
  def verifyAll(answers: Seq[(String, Int, Int, Seq[(Long, Double)])]): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try answers.map { case (q, msm, k, got) =>
      pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] = verify(q, msm, k, got)
      })
    }.flatMap(_.get())
    finally pool.shutdown()
  }

  private def verifyPhrase(words: Seq[String], k: Int, got: Seq[(Long, Double)]): Option[String] = {
    val needle = " " + words.mkString(" ") + " "
    val holding = rel.docs.toDF()
      .filter(concat(lit(" "), lower($"text"), lit(" ")).contains(needle))
      .select($"docId").as[Long].collect().toSet
    val stray = got.map(_._1).filterNot(holding.contains)
    if (stray.nonEmpty) Some(s"phrase [$needle]: docs ${stray.take(5)} lack the phrase")
    else if (got.size != math.min(k, holding.size))
      Some(s"phrase [$needle]: ${got.size} docs, expected ${math.min(k, holding.size)}")
    else if (got.map(_._1).distinct.size != got.size) Some(s"phrase [$needle]: duplicate docs")
    else None
  }
}

object Check {
  /** Rank-identical docIds, scores equal at 4 decimals. */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 && math.round(s1 * 1e4) == math.round(s2 * 1e4)
    }

  def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().toSeq.map((r: Row) => (r.getLong(0), r.getDouble(1)))
}
