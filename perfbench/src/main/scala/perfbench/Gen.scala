package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Turn

/** Seeded synthetic inputs: transcripts (generated inside Spark, so the
  * engine only ever sees a `Dataset[Turn]`) and query streams (generated on
  * the JVM, outside Spark). Every draw is a pure function of the seed, so the same seed
  * gives byte-identical inputs.
  *
  * Vocabulary: `Vocab` terms `w00000 … w19999`, drawn with rank
  * `floor(V · u^ZipfExp)` — a power-law head where the top 10 terms carry
  * ~8% of all tokens and the top 1000 ~37%, like natural-language term
  * frequencies. Query terms use the same law; bulk queries use a steeper
  * exponent so they lean on head terms (long posting lists).
  */
object Gen {
  val Vocab = 20000
  val ZipfExp = 3.0
  val BulkZipfExp = 6.0
  val TurnsPerConv = 16
  val MinTokens = 8
  val MaxTokens = 40
  val Roles: Seq[String] = Seq("user", "assistant", "system", "tool")
  val Tools: Seq[String] = Seq("bash", "python", "search", "editor")

  private val Epoch2026 = 1767225600L // 2026-01-01T00:00:00Z

  def term(rank: Int): String = f"w$rank%05d"

  /** Zipf-like rank from a uniform draw, shared by the corpus (as a Spark
    * expression) and the query generator (in the JVM). */
  def zipfRank(u: Double, exp: Double = ZipfExp): Int =
    math.min(Vocab - 1, (Vocab * math.pow(u, exp)).toInt)

  /** `n` turns with global row ids `[first, first + n)`, grouped into
    * conversations of [[TurnsPerConv]] turns named `<prefix><conv no.>`.
    * `marker`, when set, is prepended to every turn's text (a token found
    * nowhere else, so a search for it returns exactly these turns). */
  def turns(spark: SparkSession, seed: Long, first: Long, n: Long,
      prefix: String = "c", marker: Option[String] = None): Dataset[Turn] = {
    import spark.implicits._
    def h(salt: Column): Column = xxhash64(col("id"), lit(seed), salt)
    def uniform(salt: Column): Column =
      pmod(h(salt), lit(1L << 24)).cast("double") / (1L << 24).toDouble
    val len = lit(MinTokens) + pmod(h(lit(-1)), lit(MaxTokens - MinTokens + 1)).cast("int")
    val rank = (c: Column) => least(lit(Vocab - 1),
      (lit(Vocab.toDouble) * pow(uniform(c), lit(ZipfExp))).cast("int"))
    val words = transform(sequence(lit(1), len),
      i => concat(lit("w"), lpad(rank(i).cast("string"), 5, "0")))
    val body = concat_ws(" ", words)
    val text = marker.fold(body)(m => concat(lit(m + " "), body))
    val role = element_at(typedLit(Roles), pmod(h(lit(-2)), lit(Roles.size)).cast("int") + 1)
    spark.range(first, first + n).select(
      format_string(prefix + "%08d", floor(col("id") / TurnsPerConv).cast("long")).as("conv_id"),
      (col("id") % TurnsPerConv).cast("int").as("turn_idx"),
      role.as("role"),
      text.as("text"),
      when(role === "tool",
        element_at(typedLit(Tools), pmod(h(lit(-3)), lit(Tools.size)).cast("int") + 1))
        .otherwise(lit("")).as("tool"),
      timestamp_seconds(lit(Epoch2026) + col("id")).as("ts")
    ).as[Turn]
  }

  // ------------------------------------------------------------- queries

  /** One search-box request: its kind (the per-layer split key), the text,
    * and the minimum-should-match the engine is called with. */
  final case class Query(kind: String, text: String, msm: Int)

  /** The fixed serve_short mix, in units of 20 queries: each block of 20
    * sends its kinds in this order, so any run of consecutive requests
    * holds nearly the same mix (8 wand : 3 and : 3 prefix : 3 phrase : 3
    * field). */
  val ShortOrder: Seq[String] = Seq("wand", "and", "prefix", "wand", "phrase", "field",
    "wand", "and", "prefix", "wand", "phrase", "field", "wand", "and", "prefix", "wand",
    "phrase", "field", "wand", "wand")

  val ShortMix: Map[String, Int] = ShortOrder.groupBy(identity).view.mapValues(_.size).toMap

  private def zipfTerm(r: Random, exp: Double = ZipfExp): String =
    term(zipfRank(r.nextDouble(), exp))

  /** One query of `kind`. `u0` is the uniform draw behind its first term
    * (serve_short stratifies it over a block, see [[shortStream]]). */
  def shortQuery(r: Random, kind: String, u0: Double): Query = {
    val first = zipfRank(u0, if (kind == "phrase") 8.0 else ZipfExp)
    def rest(n: Int, exp: Double): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet(term(first))
      while (out.size < n) out += zipfTerm(r, exp)
      out.toSeq
    }
    kind match {
      case "wand" => Query(kind, rest(1 + r.nextInt(3), ZipfExp).mkString(" "), 1)
      case "and" =>
        // two required terms plus one exclusion; msm = #positive routes the
        // query to the conjunctive scorer
        val ts = rest(3, ZipfExp)
        Query(kind, s"${ts(0)} ${ts(1)} -${ts(2)}", 2)
      case "prefix" =>
        // dropping the last digit of the drawn term expands to <= 10 terms
        val extra = if (r.nextBoolean()) " " + zipfTerm(r) else ""
        Query(kind, s"${term(first).dropRight(1)}*$extra", 1)
      case "phrase" =>
        // a quoted pair of head-leaning terms: common enough to match
        Query(kind, "\"" + rest(2, 8.0).mkString(" ") + "\"", 1)
      case "field" =>
        val f = if (r.nextInt(3) == 0) s"tool:${Tools(r.nextInt(Tools.size))}"
          else s"role:${Roles(r.nextInt(3))}"
        Query(kind, (f +: rest(1 + r.nextInt(2), ZipfExp)).mkString(" "), 1)
    }
  }

  /** The serve_short stream: blocks of 20 in [[ShortOrder]]. Within a
    * block the first terms' uniform draws are stratified (one per
    * twentieth of [0, 1), in seeded order), so every block carries the same
    * spread of head and tail terms and a run's cost depends little on the
    * seed. */
  def shortStream(seed: Long, n: Int): IndexedSeq[Query] = {
    val r = new Random(seed * 31 + 1)
    val b = ShortOrder.size
    Iterator.continually {
      val strata = r.shuffle((0 until b).toIndexedSeq)
      ShortOrder.zip(strata).map { case (k, st) => shortQuery(r, k, (st + r.nextDouble()) / b) }
    }.flatten.take(n).toIndexedSeq
  }

  /** `n` Poisson arrival times (s) at `ratePerS`, stratified: the gaps are
    * the exponential distribution's quantiles at (i + ½)/n, in seeded
    * order, so every seed has the same gaps and only their order (the
    * bursts) differs. */
  def arrivals(seed: Long, ratePerS: Double, n: Int): IndexedSeq[Double] = {
    val r = new Random(seed * 31 + 2)
    val gaps = (0 until n).map(i => -math.log(1.0 - (i + 0.5) / n) / ratePerS)
    r.shuffle(gaps).scanLeft(0.0)(_ + _).tail
  }

  /** One serve_bulk call: 8 long queries (8–16 terms leaning on head
    * terms). `msm` is 1 (the shared wandTopKBatch job) or 2 (per-query
    * minimum-should-match plans). */
  final case class Batch(kind: String, queries: Seq[(String, String)], msm: Int)

  val BulkPattern: Seq[(String, Int)] = Seq("batch1" -> 1, "batch1" -> 1, "batchmsm" -> 2)
  val BulkBatchSize = 8

  /** Term counts of a call's 8 queries (8–16), in seeded order per call. */
  val BulkTermCounts: Seq[Int] = Seq(8, 9, 10, 11, 13, 14, 15, 16)

  /** The serve_bulk calls. Stratified like serve_short: every call holds
    * the same term counts, and each query's n terms take one uniform draw
    * per n-th of the rank law (a redraw only where it repeats a term). */
  def bulkStream(seed: Long, calls: Int): IndexedSeq[Batch] = {
    val r = new Random(seed * 31 + 3)
    def query(n: Int): String = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      r.shuffle((0 until n).toList).foreach { st =>
        var t = term(zipfRank((st + r.nextDouble()) / n, BulkZipfExp))
        while (out.contains(t)) t = zipfTerm(r, BulkZipfExp)
        out += t
      }
      out.mkString(" ")
    }
    (0 until calls).map { c =>
      val (kind, msm) = BulkPattern(c % BulkPattern.size)
      Batch(kind, r.shuffle(BulkTermCounts).zipWithIndex.map { case (n, i) =>
        s"q$i" -> query(n)
      }, msm)
    }
  }

  /** Marker token of one ingest batch: never produced by the vocabulary. */
  def marker(seed: Long, batch: Int): String =
    f"mk${new Random(seed * 31 + 4 + batch).nextInt(1 << 30)}%x$batch"

  /** The fixed ingest probe set (one query per serving kind). */
  def probes(seed: Long): Seq[Query] = {
    val r = new Random(seed * 31 + 5)
    ShortOrder.distinct.map(k => shortQuery(r, k, r.nextDouble()))
  }
}
