package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the engine's custom Catalyst expressions, so
  * `spark.sql("SELECT term_freqs(...)")` works alongside the Column API.
  *
  * Two entry points, one function list:
  *   - [[GraftFunctions.registerAll]] — register on an existing session
  *     (temp functions; what the SQL-surface tests use);
  *   - [[GraftExtensions]] — a `spark.sql.extensions` class
  *     (`.config("spark.sql.extensions", "graft.plans.GraftExtensions")`)
  *     injecting the same functions at session build time, the deployment
  *     shape for a shared cluster where sessions are created by a platform
  *     launcher rather than engine code.
  */
object GraftFunctions {

  /** (name, usage, implClass, builder) — the single source for both entry
    * points. The per-function expression class feeds ExpressionInfo so
    * DESCRIBE FUNCTION reports the actual implementing class, not the
    * package.
    */
  private[plans] val all: Seq[(String, String, String, Seq[Expression] => Expression)] = Seq(
    ("term_freqs", "term_freqs(array<string>) - per-document token counts as map<string,int>",
      classOf[TermFreqs].getName, exprs => TermFreqs(exprs.head)),
    ("term_positions", "term_positions(array<string>) - 1-based token positions as map<string,array<int>>",
      classOf[TermPositions].getName, exprs => TermPositions(exprs.head)),
    ("decode_block", "decode_block(payload, n) - decode a varint posting block to array<struct<docId,tf,dl>>",
      classOf[DecodeBlock].getName, exprs => DecodeBlock(exprs)),
    ("lower_root", "lower_root(string) - Locale.ROOT lowercase (JVM-default-locale-proof)",
      classOf[LowerRoot].getName, exprs => LowerRoot(exprs.head)),
    ("filter_stopwords_en", "filter_stopwords_en(array<string>) - drop Spark ML English stopwords",
      classOf[FilterStopwords].getName, exprs => FilterStopwords(exprs.head,
        graft.functions.Analyzer.englishStopwords.toSeq.sorted)),
    ("analyze_text", "analyze_text(string) - the full analyzer (ROOT lowercase + unicode word-break + English stopword filter), fused single pass",
      classOf[AnalyzeText].getName, exprs => AnalyzeText(exprs.head,
        graft.functions.Analyzer.englishStopwords.toSeq.sorted))
  )

  // ExpressionInfo's 3-arg ctor is (className, db, name) — NOT name+usage;
  // the 5-arg form carries usage/extended in the right slots
  private def info(name: String, usage: String, className: String): ExpressionInfo =
    new ExpressionInfo(className, null, name, usage, "")

  /** Wrong-arity SQL calls must fail with a clear message, not a raw
    * IndexOutOfBounds from a blind exprs(i).
    */
  private def arity(n: Int, name: String,
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == n,
        s"$name expects $n argument(s), got ${exprs.length}")
      b(exprs)
    }

  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, _, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, arity(argCount(name), name, builder), "scala_udf")
    }

  private def argCount(name: String): Int = if (name == "decode_block") 2 else 1

  private[plans] def inject(ext: SparkSessionExtensions): Unit =
    all.foreach { case (name, usage, className, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage, className),
        arity(argCount(name), name, builder)))
    }
}

/** `spark.sql.extensions` entry point (see [[GraftFunctions]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
