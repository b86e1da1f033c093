package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `parent` is 0 for a root (request) span; spans of
  * one request share `request` (the Spark job group of that request). */
final case class Span(id: Long, parent: Long, request: String, name: String,
    startMs: Double, endMs: Double, detail: String = "") {
  def durMs: Double = endMs - startMs
}

/** Executor-side totals of the Spark stages of one request. */
final case class Work(jobs: Int, tasks: Long, cpuMs: Double, gcMs: Double,
    scanBytes: Long, shuffleBytes: Long, spillBytes: Long, outputBytes: Long) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuMs + o.cpuMs,
    gcMs + o.gcMs, scanBytes + o.scanBytes, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes)
}

object Work { val zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0) }

/** The traced run's recorder: a `SparkListener` that files every job and
  * stage under the job group the benchmark set before the engine call, plus
  * the spans the benchmark records around its calls into the engine. All
  * state stays in memory until [[write]] at the end of the run.
  *
  * Span tree, serve workloads: request → QueryEngine.plan (the
  * search/searchBatch call) and QueryEngine.action (the collect) → job
  * (parented by whichever of the two was running when the job started) →
  * stage. Ingest: request → IndexStore.<call> → job → stage.
  */
final class Tracer extends SparkListener {
  // endMs stays -1 until the job's end event arrives
  private final case class JobRec(id: Long, group: String, startMs: Long,
      @volatile var endMs: Long, stageIds: Seq[Long])
  private final case class StageRec(id: Long, name: String, startMs: Long, endMs: Long,
      work: Work, taskMs: Seq[Long])

  private val jobs = new ConcurrentHashMap[Long, JobRec]()
  private val stages = new ConcurrentHashMap[Long, StageRec]()
  private val taskMs = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[Long]]()
  private val drains = new ConcurrentHashMap[String, CountDownLatch]()
  // job and stage ids restart in every SparkContext; the ingest workload
  // switches contexts, so ids are qualified by the context they came from
  @volatile private var epoch = 0L
  private def key(id: Int): Long = (epoch << 32) | id

  /** Start recording the jobs of `sc` (call once per SparkContext). */
  def attach(sc: SparkContext): Unit = synchronized {
    epoch += 1
    sc.addSparkListener(this)
  }

  def detach(sc: SparkContext): Unit = sc.removeSparkListener(this)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val nanoAnchor = System.nanoTime()
  private val wallAnchorMs = System.currentTimeMillis().toDouble

  def wallMs(nanos: Long): Double = wallAnchorMs + (nanos - nanoAnchor) / 1e6

  /** A fresh span id, for a span whose children are recorded before it. */
  def newId(): Long = ids.incrementAndGet()

  /** Record a benchmark-side span; returns its id for children. */
  def span(parent: Long, request: String, name: String, startNs: Long, endNs: Long,
      id: Long = newId()): Long = {
    spans.add(Span(id, parent, request, name, wallMs(startNs), wallMs(endNs)))
    id
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(key(e.jobId), JobRec(key(e.jobId), group.getOrElse(""), e.time, -1L,
      e.stageIds.map(key)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(key(e.jobId))).foreach { j =>
      j.endMs = e.time
      Option(drains.get(j.group)).foreach(_.countDown())
    }

  /** Block until this listener holds every event Spark posted before the
    * call. Spark delivers listener events asynchronously, but to one
    * listener in the order they were posted: so a one-task marker job is
    * run under a group of its own, and once its end event has arrived, so
    * have the events of every job that ran before it (its stages are filed
    * before its end). Then also waits for the end of any job of this
    * context still running.
    * The marker job is forgotten. False on timeout. */
  def drain(sc: SparkContext, timeoutS: Long = 60): Boolean = {
    val g = s"perfbench-drain-${ids.incrementAndGet()}"
    val latch = new CountDownLatch(1)
    drains.put(g, latch)
    sc.setJobGroup(g, "tracer drain", interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    var ok = latch.await(timeoutS, TimeUnit.SECONDS)
    while (ok && jobs.values.asScala.exists(j => j.endMs < 0 && (j.id >>> 32) == epoch)) {
      if (System.nanoTime() > deadline) ok = false else Thread.sleep(5)
    }
    drains.remove(g)
    jobs.values.removeIf(_.group == g)
    ok
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(key(e.stageId), _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val work = if (m == null) Work.zero.copy(tasks = s.numTasks) else Work(0, s.numTasks,
      m.executorCpuTime / 1e6, m.jvmGCTime.toDouble, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    val start = s.submissionTime.getOrElse(0L)
    stages.put(key(s.stageId), StageRec(key(s.stageId), s.name, start,
      s.completionTime.getOrElse(start), work,
      Option(taskMs.get(key(s.stageId))).map(_.asScala.toSeq).getOrElse(Nil)))
  }

  private def jobsOf(group: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.id)

  private def stagesOf(j: JobRec): Seq[StageRec] = j.stageIds.flatMap(i => Option(stages.get(i)))

  /** Executor totals over every job of one request. Shuffle bytes count
    * both the write and the read side of each exchange. */
  def work(group: String): Work = jobsOf(group).foldLeft(Work.zero) { (acc, j) =>
    stagesOf(j).foldLeft(acc.copy(jobs = acc.jobs + 1))(_ + _.work)
  }

  /** Largest over median task duration in the longest stage of a request:
    * the straggler share that caps parallel speed-up. */
  def taskSkew(group: String): Double = {
    val st = jobsOf(group).flatMap(stagesOf).filter(_.taskMs.size > 1)
    if (st.isEmpty) 1.0 else {
      val longest = st.maxBy(s => s.endMs - s.startMs)
      val med = Stats.median(longest.taskMs.map(_.toDouble))
      if (med <= 0) 1.0 else longest.taskMs.max / med
    }
  }

  /** Every span, with job and stage spans derived from the listener and
    * parented under the benchmark span that was open when they started. */
  def allSpans(): Seq[Span] = {
    val mine = spans.asScala.toSeq
    val byRequest = mine.groupBy(_.request)
    val derived = jobs.values.asScala.toSeq.filter(_.group.nonEmpty).sortBy(_.id).flatMap { j =>
      val own = byRequest.getOrElse(j.group, Nil)
      // the innermost benchmark span open at the job's start
      val parent = own.filter(s => s.startMs <= j.startMs + 1 && j.startMs <= s.endMs + 1)
        .sortBy(s => s.durMs).headOption.orElse(own.sortBy(-_.durMs).headOption)
      val jid = ids.incrementAndGet()
      Span(jid, parent.map(_.id).getOrElse(0L), j.group, "job", j.startMs.toDouble,
        math.max(j.startMs, j.endMs).toDouble, s"job ${j.id & 0xffffffffL}") +:
        stagesOf(j).map(s => Span(ids.incrementAndGet(), jid, j.group, "stage",
          s.startMs.toDouble, s.endMs.toDouble, s.name))
    }
    mine ++ derived
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to it). */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      for ((a, b) <- iv) {
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> math.max(0.0, s.durMs - covered)
    }.toMap
  }

  /** Write `spans.jsonl` (one span a line) and `layers.tsv` (per layer:
    * spans, total and self ms) into `dir`; returns the table's text. */
  def write(dir: File): String = {
    dir.mkdirs()
    val all = allSpans()
    val self = selfTimes(all)
    val pw = new PrintWriter(new File(dir, "spans.jsonl"))
    try all.foreach { s =>
      pw.println(s"""{"id":${s.id},"parent":${s.parent},"request":"${Json.esc(s.request)}",""" +
        s""""name":"${Json.esc(s.name)}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":${self(s.id)},"detail":"${Json.esc(s.detail)}"}""")
    } finally pw.close()
    val rows = mutable.LinkedHashMap.empty[String, (Int, Double, Double)]
    all.sortBy(_.name).foreach { s =>
      val (n, tot, sf) = rows.getOrElse(s.name, (0, 0.0, 0.0))
      rows(s.name) = (n + 1, tot + s.durMs, sf + self(s.id))
    }
    val totalSelf = rows.values.map(_._3).sum
    val table = ("layer\tspans\ttotal_ms\tself_ms\tself_share" +: rows.toSeq.map {
      case (name, (n, tot, sf)) =>
        f"$name\t$n\t$tot%.1f\t$sf%.1f\t${if (totalSelf > 0) sf / totalSelf else 0.0}%.3f"
    }).mkString("\n")
    val tw = new PrintWriter(new File(dir, "layers.tsv"))
    try tw.println(table) finally tw.close()
    table
  }
}

/** Minimal JSON output helpers (the result line and span records). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
