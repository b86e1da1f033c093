package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1>`, run from the checkout root (see run.py). Prints, as the
  * last stdout line, one JSON object with `correct`, `attempted`, `failed`
  * and `metrics` (end-to-end metrics untraced, per-layer metrics traced).
  */
object Main {

  /** A metric value with its unit. */
  final case class M(value: Double, unit: String)

  /** What one workload run reports. */
  final case class Outcome(attempted: Long, failed: Long, endToEnd: Map[String, M],
      layers: Map[String, M], errors: Seq[String])

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      })
    require(Workloads.names.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workloads.names.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }

  /** A local Spark session sized for `cores`, with every file it writes
    * under `work`. FAIR scheduling so concurrent senders, each in its own
    * pool, share the executor instead of queueing FIFO. */
  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", Workloads.Cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def json(o: Outcome, trace: Boolean): String = {
    val ms = if (trace) o.layers else o.endToEnd
    val metrics = ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""${Json.esc(k)}": {"value": ${Json.num(m.value)}, "unit": "${Json.esc(m.unit)}"}"""
    }.mkString(", ")
    s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {$metrics}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val work = new File(".bench_build", s"perfbench-work/${opts.workload}-${opts.seed}-" +
      ProcessHandle.current().pid())
    org.apache.commons.io.FileUtils.deleteQuietly(work)
    work.mkdirs()
    val traceDir = new File(".bench_build", s"perfbench-trace/${opts.workload}-seed${opts.seed}")
    try {
      val o = Workloads.run(opts, work, traceDir)
      o.errors.take(20).foreach(e => System.err.println(s"perfbench: FAILED $e"))
      println(json(o, opts.trace))
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      org.apache.commons.io.FileUtils.deleteQuietly(work)
    }
  }
}
