package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexStore}
import graft.model.Turn
import graft.query.QueryEngine

import Main.{M, Opts, Outcome}

/** The workloads (serve_short, serve_bulk) and the ingest cycle of traced
  * runs. Sizes are fixed here and restated in BENCHMARK.json and
  * perfbench/README.md: all the runs a comparison of two commits needs must
  * fit the time a 4-CPU machine gives them, which is why the corpora are
  * thousands of turns, not millions.
  */
object Workloads {
  val names: Seq[String] = Seq("serve_short", "serve_bulk")

  /** Spark cores of the serving session (nproc of the reference machine). */
  val Cores = 4

  /** One index layout for every run and parallelism level: shard count,
    * docId range partitions and encode partitions are pinned, so local[1]
    * and local[4] builds of one corpus write identical shards. */
  val Cfg: IndexBuilder.Config = IndexBuilder.Config(numShards = 16, docIdPartitions = 4,
    encodePartitions = 4, storePositions = true)

  /** Warm rebuilds of the workload's corpus per run, whose median time
    * gives build_turns_per_s. */
  val Rebuilds = 3
  // serve_short
  val ShortTurns = 50000L
  val ShortRate = 1.2 // q/s offered, about a quarter of capacity
  val Senders = 4
  val ShortK = 10
  val ShortWarmQueries = 40
  // serve_bulk
  val BulkTurns = 50000L
  val BulkClients = 1
  val BulkK = 1000
  val BulkWarmCycles = 2
  // the ingest cycle of traced runs
  val AppendTurns = 400L // 25 conversations
  val UpdateConvs = 4
  val DeleteShare = 0.02
  // answer checks per run (outside the timed window)
  val ChecksPerShortKind = 1
  val ChecksPerBulkCall = 1
  val RequestTimeoutS = 60L

  /** Shared state of one run. `spark` changes when ingest switches
    * parallelism levels. */
  final class Ctx(val opts: Opts, val work: File, var spark: SparkSession,
      val tracer: Option[Tracer], t0: Long) {
    val attempted = new AtomicLong(0)
    val failed = new AtomicLong(0)
    val errors = new ConcurrentLinkedQueue[String]()
    val layers = mutable.LinkedHashMap.empty[String, M]
    private val groups = new AtomicLong(0)
    @volatile var tracing = false

    def fail(msg: String): Unit = { failed.incrementAndGet(); errors.add(msg) }

    private var phaseStart = t0
    /** Log the wall time since the previous phase ended (stderr). */
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"perfbench: phase $name%-8s ${(now - phaseStart) / 1e9}%.1f s")
      phaseStart = now
    }

    /** A fresh request id (the Spark job group of a traced request). */
    def group(kind: String): String = s"$kind-${groups.incrementAndGet()}"

    /** Run `f` as part of request `grp`: its jobs carry the group and the
      * call becomes a span named `name` under `parent`. Untraced passes
      * set nothing. Returns (result, span id, start ns, end ns). */
    def traced[A](grp: String, parent: Long, name: String)(f: => A): (A, Long, Long, Long) = {
      val sc = spark.sparkContext
      if (tracing) sc.setJobGroup(grp, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        val a = f
        val t1 = System.nanoTime()
        val id = if (tracing) tracer.get.span(parent, grp, name, t0, t1) else 0L
        (a, id, t0, t1)
      } finally if (tracing) sc.clearJobGroup()
    }

    /** Id of a request's root span, recorded by [[closeRoot]] once its
      * children are (0 when untraced). */
    def openRoot(): Long = if (tracing) tracer.get.newId() else 0L

    def closeRoot(id: Long, grp: String, name: String, t0: Long, t1: Long): Unit =
      if (tracing && id != 0L) tracer.get.span(0L, grp, name, t0, t1, id)

    /** Wait until the tracer holds every Spark event so far; call before
      * reading it. */
    def drain(): Unit = if (tracing && !tracer.get.drain(spark.sparkContext))
      System.err.println("perfbench: WARNING tracer drain timed out, per-layer counts may be short")

    def setTracing(on: Boolean): Unit = if (tracer.isDefined && on != tracing) {
      if (on) tracer.get.attach(spark.sparkContext)
      else { drain(); tracer.get.detach(spark.sparkContext) }
      tracing = on
    }

    /** Switch to a fresh session at `cores` (ingest's parallelism levels). */
    def restart(cores: Int): Unit = {
      val wasTracing = tracing
      setTracing(false)
      spark.stop()
      spark = Main.session(cores, work)
      setTracing(wasTracing)
    }
  }

  def run(opts: Opts, work: File, traceDir: File): Outcome = {
    val t0 = System.nanoTime()
    val spark = Main.session(Cores, work)
    val ctx = new Ctx(opts, work, spark, if (opts.trace) Some(new Tracer) else None, t0)
    ctx.phase("session")
    val e2e = opts.workload match {
      case "serve_short" => serveShort(ctx)
      case "serve_bulk" => serveBulk(ctx)
    }
    ctx.tracer.foreach { t =>
      val table = t.write(traceDir)
      System.err.println(s"perfbench: per-layer self time, ${opts.workload} seed ${opts.seed} " +
        s"(spans in $traceDir):\n$table")
    }
    ctx.spark.stop()
    Outcome(ctx.attempted.get, ctx.failed.get, e2e, ctx.layers.toMap, ctx.errors.asScala.toSeq)
  }

  private def secs(ns: Long): Double = ns / 1e9

  /** Seed of one of a run's query streams: pass 0 is the timed stream,
    * the others (warm-up, traced pass, closing untraced pass) draw fresh
    * queries so that no pass replays another's. */
  private def streamSeed(seed: Long, pass: Int): Long = seed + 1000003L * pass
  private def dirBytes(f: File): Long = if (f.exists) FileUtils.sizeOfDirectory(f) else 0L

  // ------------------------------------------------------------ serving

  /** The serve workloads' set-up, then the build measurement. Set-up is a
    * cold build of the workload's corpus, which pays the JIT compilation
    * and Spark code generation of the build, and its load, with the answer
    * checks' reference (IndexBuilder.relations of the same turns, postings
    * cached) built beside them in a pool of its own; setup_s runs from the
    * JVM's start (session start included) until both are done. Then
    * [[Rebuilds]] warm builds of the same corpus, each into a scratch dir
    * deleted after it, measure build throughput: a run reports their median
    * time (the first still runs slower as the JIT finishes compiling the
    * build). Then, untimed, the query path is warmed up. Returns the index,
    * the check, set-up seconds and the median rebuild's seconds. */
  private def serveSetup(ctx: Ctx, nTurns: Long, warm: IndexStore.Index => Unit)
      : (IndexStore.Index, Check, Double, Double) = {
    val seed = ctx.opts.seed
    val turns = Gen.turns(ctx.spark, seed, 0, nTurns)
    val reference = new java.util.concurrent.FutureTask[IndexBuilder.Relations](() => {
      ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reference")
      val rel = IndexBuilder.relations(ctx.spark, turns,
        new File(ctx.work, "reference-docs").getPath, Cfg)
      rel.postings.count()
      rel
    })
    new Thread(reference, "perfbench-reference").start()
    val dir = new File(ctx.work, "serve-index").getPath
    IndexStore.build(ctx.spark, turns, dir, s"serve-$seed", Cfg)
    val idx = IndexStore.load(ctx.spark, dir)
    val check = new Check(ctx.spark, reference.get(), Cfg)
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    ctx.phase("build")
    val rebuildS = (1 to Rebuilds).map { r =>
      // the last rebuild is traced, for the build's per-layer numbers
      val traced = ctx.opts.trace && r == Rebuilds
      val d = new File(ctx.work, "rebuild-index")
      if (r == 1) settle() else System.gc()
      ctx.setTracing(traced)
      val grp = ctx.group("build")
      val root = ctx.openRoot()
      val (m, _, b0, b1) = ctx.traced(grp, root, "IndexStore.build") {
        IndexStore.build(ctx.spark, turns, d.getPath, s"rebuild-$seed-$r", Cfg).manifest
      }
      ctx.closeRoot(root, grp, "request.build", b0, b1)
      if (traced) buildLayers(ctx, grp, m)
      ctx.setTracing(false)
      FileUtils.deleteQuietly(d)
      secs(b1 - b0)
    }
    System.err.println(s"perfbench: rebuilds ${rebuildS.map(t => f"$t%.2f").mkString(" ")} s")
    ctx.phase("rebuilds")
    warm(idx)
    settle()
    ctx.phase("warm-up")
    (idx, check, setupS, Stats.median(rebuildS))
  }

  /** Let the JVM settle before a measurement: collect garbage, then wait
    * (at most 5 s) until the JIT compiler has compiled nothing for 0.5 s,
    * so that the compilations the warm-up queued do not run beside it. */
  private def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var now = jit.getTotalCompilationTime
    while (now != last && System.nanoTime() < deadline) {
      last = now
      Thread.sleep(500)
      now = jit.getTotalCompilationTime
    }
  }

  /** Send `n` requests from `threads` senders, as fast as they return. */
  private def warmUp(ctx: Ctx, threads: Int, n: Int)(send: Int => Unit): Unit = {
    val next = new AtomicInteger(0)
    senders(ctx, threads, RequestTimeoutS) { _ =>
      var i = next.getAndIncrement()
      while (i < n) { send(i); i = next.getAndIncrement() }
    }
  }

  /** Per-layer numbers of the build the workload measured. */
  private def buildLayers(ctx: Ctx, grp: String, m: IndexStore.Manifest): Unit = {
    ctx.drain()
    val l = ctx.layers
    l("IndexBuilder.rel_s") = M(m.metrics.getOrElse("relSec", 0.0), "s")
    l("IndexBuilder.encode_s") = M(m.metrics.getOrElse("encodeSec", 0.0), "s")
    l("IndexStore.commit_s") = M(m.metrics.getOrElse("commitSec", 0.0) +
      m.metrics.getOrElse("auxWriteSec", 0.0), "s")
    val postings = m.shards.map(_.postings).sum
    l("Codec.bytes_per_posting") = M(m.shards.map(_.payloadBytes).sum.toDouble /
      math.max(1L, postings), "B")
    ctx.tracer.filter(_ => ctx.tracing).foreach { t =>
      val w = t.work(grp)
      l("IndexBuilder.cpu_ms") = M(w.cpuMs, "ms")
      l("IndexBuilder.skew_ratio") = M(t.taskSkew(grp), "ratio")
      l("IndexBuilder.shuffle_bytes") = M(w.shuffleBytes.toDouble, "B")
      l("IndexBuilder.spill_bytes") = M(w.spillBytes.toDouble, "B")
    }
  }

  /** Bytes of the manifest-live dirs (grace dirs excluded) per live doc. */
  private def bytesPerTurn(idx: IndexStore.Index): Double = {
    val m = idx.manifest
    val live = (m.blockDirs ++ m.docDirs ++ m.tombstoneDirs :+ m.termstatsDir)
      .filter(_.nonEmpty).map(d => dirBytes(new File(idx.dir, d))).sum
    live.toDouble / math.max(1L, m.docCount)
  }

  /** One search call, split into plan (the search() call) and action (the
    * collect). Returns (rows, plan ns, action ns). */
  private def search(ctx: Ctx, idx: IndexStore.Index, q: Gen.Query, k: Int, grp: String,
      parent: Long): (Seq[(Long, Double)], Long, Long) = {
    val (df, _, p0, p1) = ctx.traced(grp, parent, "QueryEngine.plan") {
      QueryEngine.search(ctx.spark, idx.blocks, idx.termStats, idx.corpus, q.text, k,
        q.msm, Cfg, idx.tombstoneSet, Some(idx.docs.toDF()))
    }
    val (rows, _, a0, a1) = ctx.traced(grp, parent, "QueryEngine.action")(Check.rows(df))
    (rows, p1 - p0, a1 - a0)
  }

  /** One searchBatch call; rows per qid in rank order. */
  private def searchBatch(ctx: Ctx, idx: IndexStore.Index, b: Gen.Batch, grp: String,
      parent: Long): (Map[String, Seq[(Long, Double)]], Long, Long) = {
    val (df, _, p0, p1) = ctx.traced(grp, parent, "QueryEngine.plan") {
      QueryEngine.searchBatch(ctx.spark, idx.blocks, idx.termStats, idx.corpus, b.queries,
        BulkK, b.msm, Cfg, idx.tombstoneSet, Some(idx.docs.toDF()))
    }
    val (rows, _, a0, a1) = ctx.traced(grp, parent, "QueryEngine.action")(df.collect())
    val byQid = rows.toSeq.groupBy(_.getString(0)).view.mapValues(
      _.map(r => (r.getLong(1), r.getDouble(2))).sortBy { case (d, sc) => (-sc, d) }).toMap
    (byQid, p1 - p0, a1 - a0)
  }

  /** A finished request: `i` indexes the workload's request stream. */
  final case class Req(i: Int, kind: String, grp: String, dueNs: Long, sentNs: Long,
      endNs: Long, planNs: Long, actionNs: Long, ok: Boolean, traced: Boolean)

  private def lat(r: Req): Double = Stats.latencyFromDueMs(r.dueNs, r.endNs)

  /** Per-kind layer metrics of the traced requests. */
  private def queryLayers(ctx: Ctx, reqs: Seq[Req]): Unit =
    ctx.tracer.foreach { t =>
      ctx.drain()
      reqs.filter(r => r.traced && r.ok).groupBy(_.kind).foreach { case (kind, rs) =>
        val ws = rs.map(r => t.work(r.grp))
        def med(f: Work => Double) = Stats.median(ws.map(f))
        val l = ctx.layers
        l(s"QueryEngine.plan_ms.$kind") = M(Stats.median(rs.map(_.planNs / 1e6)), "ms")
        l(s"QueryEngine.action_ms.$kind") = M(Stats.median(rs.map(_.actionNs / 1e6)), "ms")
        l(s"QueryEngine.jobs.$kind") = M(med(_.jobs.toDouble), "count")
        l(s"QueryEngine.tasks.$kind") = M(med(_.tasks.toDouble), "count")
        l(s"QueryEngine.cpu_ms.$kind") = M(med(_.cpuMs), "ms")
        // GC comes in rare bursts, which a median hides: report the mean
        l(s"QueryEngine.gc_ms.$kind") = M(ws.map(_.gcMs).sum / ws.size, "ms")
        l(s"QueryEngine.shuffle_bytes.$kind") = M(med(_.shuffleBytes.toDouble), "B")
        l(s"QueryEngine.scan_bytes.$kind") = M(med(_.scanBytes.toDouble), "B")
      }
    }

  /** Run `body(grp, rootSpan)` as request `i` of `kind`, timed from
    * `dueNs`; it returns its (plan, action) ns. An exception fails the
    * request. */
  private def request(ctx: Ctx, i: Int, kind: String, dueNs: Long)(
      body: (String, Long) => (Long, Long)): Req = {
    val grp = ctx.group(kind)
    val root = ctx.openRoot()
    val sent = System.nanoTime()
    val (ok, p, a) = try {
      val (p, a) = body(grp, root)
      (true, p, a)
    } catch {
      case e: Exception =>
        ctx.errors.add(s"$kind request $i: $e")
        (false, 0L, 0L)
    }
    val end = System.nanoTime()
    ctx.closeRoot(root, grp, s"request.$kind", dueNs, end)
    Req(i, kind, grp, dueNs, sent, end, p, a, ok, ctx.tracing)
  }

  /** Run `loop(sender)` on `threads` senders, each in its own FAIR pool;
    * after `limitS` seconds cancel what is still running (its requests then
    * count as timed out). */
  private def senders(ctx: Ctx, threads: Int, limitS: Long)(loop: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    (0 until threads).foreach { s =>
      pool.submit(new Runnable {
        def run(): Unit = {
          ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"sender-$s")
          loop(s)
        }
      })
    }
    pool.shutdown()
    if (!pool.awaitTermination(limitS, TimeUnit.SECONDS)) {
      ctx.spark.sparkContext.cancelAllJobs()
      pool.shutdownNow()
      pool.awaitTermination(30, TimeUnit.SECONDS)
    }
  }

  /** serve_short's open loop: the arrival schedule is sent by at most
    * [[Senders]] threads, each in its own FAIR pool. A request that finds
    * every sender busy waits; its latency runs from its due time. */
  private def openLoop(ctx: Ctx, idx: IndexStore.Index, queries: IndexedSeq[Gen.Query],
      due: IndexedSeq[Long], rows: Array[Seq[(Long, Double)]]): (Seq[Req], Long) = {
    val out = new ConcurrentLinkedQueue[Req]()
    val next = new AtomicInteger(0)
    val start = System.nanoTime() + 20000000L
    senders(ctx, Senders, due.last / 1000000000L + RequestTimeoutS) { _ =>
      var i = next.getAndIncrement()
      while (i < queries.size) {
        val dueNs = start + due(i)
        var now = System.nanoTime()
        while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
        val q = queries(i)
        val ii = i
        out.add(request(ctx, i, q.kind, dueNs) { (grp, root) =>
          val (rs, p, a) = search(ctx, idx, q, ShortK, grp, root)
          rows(ii) = rs
          (p, a)
        })
        i = next.getAndIncrement()
      }
    }
    (out.asScala.toSeq.sortBy(_.i), start)
  }

  /** Counts a pass's requests; the ones that never finished time out. */
  private def account(ctx: Ctx, issued: Int, done: Seq[Req]): Unit = {
    ctx.attempted.addAndGet(issued.toLong)
    ctx.failed.addAndGet(done.count(!_.ok).toLong + (issued - done.size))
    (done.size until issued).foreach(_ => ctx.errors.add("request timed out"))
  }

  /** Tracing overhead from a traced run's passes, untraced (the timed
    * pass) → traced → untraced, each on a fresh stream: the traced figure
    * against the mean of the two untraced ones, so a steady warming or host
    * drift across the passes cancels. The figures go to stderr. */
  private def overhead(ctx: Ctx, untraced: Double, traced: Double, closing: Double): Unit = {
    ctx.layers("trace.overhead_pct") =
      M(100.0 * (traced / ((untraced + closing) / 2) - 1.0), "%")
    System.err.println(f"perfbench: passes untraced $untraced%.2f, traced $traced%.2f, " +
      f"untraced $closing%.2f")
  }

  private def serveShort(ctx: Ctx): Map[String, M] = {
    val seed = ctx.opts.seed
    // warm-up: another stream's queries, at full concurrency
    val warmQs = Gen.shortStream(streamSeed(seed, 1), ShortWarmQueries)
    val (idx, check, setupS, buildS) = serveSetup(ctx, ShortTurns, idx =>
      warmUp(ctx, Senders, warmQs.size)(i =>
        search(ctx, idx, warmQs(i), ShortK, ctx.group("warm"), 0L)))
    val window = ctx.opts.seconds.toDouble
    // a fixed count of arrivals, Poisson-spaced and scaled onto the window
    val n = math.max(1, math.round(ShortRate * window).toInt)
    val times = Gen.arrivals(seed, ShortRate, n)
    val due = times.map(t => (t * window * 1e9 / times.last).toLong)

    def pass(p: Int, traced: Boolean): (Seq[Req], Long, IndexedSeq[Gen.Query],
        Array[Seq[(Long, Double)]]) = {
      val queries = Gen.shortStream(streamSeed(seed, p), n)
      val rows = new Array[Seq[(Long, Double)]](n)
      ctx.setTracing(traced)
      val (rs, start) = openLoop(ctx, idx, queries, due, rows)
      ctx.setTracing(false)
      account(ctx, n, rs)
      (rs, start, queries, rows)
    }
    def meanLat(rs: Seq[Req]) = Stats.mean(rs.filter(_.ok).map(lat))
    val (untraced, start, queries, untracedRows) = pass(0, traced = false)
    if (ctx.opts.trace) {
      val traced = pass(2, traced = true)._1
      val closing = pass(3, traced = false)._1
      queryLayers(ctx, traced)
      ctx.layers("loadgen.late_p90_ms") =
        M(Stats.quantile(traced.map(r => Stats.lateMs(r.dueNs, r.sentNs)), 0.9), "ms")
      overhead(ctx, meanLat(untraced), meanLat(traced), meanLat(closing))
    }

    // answer checks on a seeded sample: the first requests of each kind
    ctx.phase("timed")
    check.verifyAll(untraced.filter(_.ok).groupBy(_.kind).values
      .flatMap(_.sortBy(_.i).take(ChecksPerShortKind)).toSeq.map { r =>
        val q = queries(r.i)
        (q.text, q.msm, ShortK, untracedRows(r.i))
      }).foreach(ctx.fail)
    val lats = untraced.filter(_.ok).map(lat)
    // from the schedule's start, so a seed whose first gap is long does
    // not shorten the window
    val elapsed = secs(untraced.map(_.endNs).max - start)
    val e2e = Map(
      "setup_s" -> M(setupS, "s"),
      "query_mean_ms" -> M(Stats.mean(lats), "ms"),
      "queries_per_s" -> M(lats.size / elapsed, "1/s"),
      "build_turns_per_s" -> M(ShortTurns / buildS, "turns/s"),
      "bytes_per_turn" -> M(bytesPerTurn(idx), "B"))
    ctx.phase("checks")
    if (ctx.opts.trace) {
      // the untraced pass's percentiles: a run holds too few requests for
      // them to hold a bound (see README)
      ctx.layers("query_p50_ms") = M(Stats.median(lats), "ms")
      ctx.layers("query_p90_ms") = M(Stats.quantile(lats, 0.9), "ms")
      coverage(ctx, idx)
      ctx.phase("coverage")
    }
    e2e
  }

  /** serve_bulk's closed loop: [[BulkClients]] clients, each sending its
    * next call when the previous one returns. A client takes a whole cycle
    * of [[Gen.BulkPattern]] at a time and starts none after `seconds`, so a
    * run covers whole cycles. Returns the calls and the answered queries
    * per second, summed over clients (each client's queries over its own
    * busy time, so a client finishing its last cycle alone adds no idle
    * tail). */
  private def closedLoop(ctx: Ctx, idx: IndexStore.Index, calls: IndexedSeq[Gen.Batch],
      seconds: Double, rows: Array[Map[String, Seq[(Long, Double)]]]): (Seq[Req], Double) = {
    val out = new ConcurrentLinkedQueue[Req]()
    val perClient = new ConcurrentLinkedQueue[Double]()
    val nextCycle = new AtomicInteger(0)
    val cycle = Gen.BulkPattern.size
    val start = System.nanoTime()
    senders(ctx, BulkClients, seconds.toLong + RequestTimeoutS) { _ =>
      var ready = System.nanoTime()
      var answered = 0
      var c = nextCycle.getAndIncrement()
      while (System.nanoTime() - start < seconds * 1e9 && (c + 1) * cycle <= calls.size) {
        (c * cycle until (c + 1) * cycle).foreach { i =>
          val b = calls(i)
          val r = request(ctx, i, b.kind, ready) { (grp, root) =>
            val (rs, p, a) = searchBatch(ctx, idx, b, grp, root)
            rows(i) = rs
            (p, a)
          }
          out.add(r)
          if (r.ok) answered += b.queries.size
          ready = System.nanoTime()
        }
        c = nextCycle.getAndIncrement()
      }
      if (answered > 0) perClient.add(answered / secs(ready - start))
    }
    (out.asScala.toSeq.sortBy(_.i), perClient.asScala.sum)
  }

  private def serveBulk(ctx: Ctx): Map[String, M] = {
    val seed = ctx.opts.seed
    // warm-up: whole cycles of another stream's calls
    val warmCalls = Gen.bulkStream(streamSeed(seed, 1), BulkWarmCycles * Gen.BulkPattern.size)
    val (idx, check, setupS, buildS) = serveSetup(ctx, BulkTurns, idx =>
      warmUp(ctx, BulkClients, warmCalls.size)(i =>
        searchBatch(ctx, idx, warmCalls(i), ctx.group("warm"), 0L)))
    val seconds = ctx.opts.seconds.toDouble

    def pass(p: Int, traced: Boolean): (Seq[Req], Double, IndexedSeq[Gen.Batch],
        Array[Map[String, Seq[(Long, Double)]]]) = {
      val calls = Gen.bulkStream(streamSeed(seed, p), 3000)
      val rows = new Array[Map[String, Seq[(Long, Double)]]](calls.size)
      ctx.setTracing(traced)
      val (rs, qps) = closedLoop(ctx, idx, calls, seconds, rows)
      ctx.setTracing(false)
      account(ctx, rs.size, rs)
      (rs, qps, calls, rows)
    }
    val (untraced, qps, calls, untracedRows) = pass(0, traced = false)
    if (ctx.opts.trace) {
      val (traced, tracedQps, _, _) = pass(2, traced = true)
      val closingQps = pass(3, traced = false)._2
      queryLayers(ctx, traced)
      ctx.layers("loadgen.late_p90_ms") =
        M(Stats.quantile(traced.map(r => Stats.lateMs(r.dueNs, r.sentNs)), 0.9), "ms")
      // time per answered query, in ms
      overhead(ctx, 1e3 / qps, 1e3 / tracedQps, 1e3 / closingQps)
    }

    // answer checks: the first calls of each kind, a seeded few queries each
    ctx.phase("timed")
    val r = new scala.util.Random(seed)
    check.verifyAll(untraced.filter(_.ok).groupBy(_.kind).values.map(_.minBy(_.i)).toSeq
      .flatMap { req =>
        val b = calls(req.i)
        r.shuffle(b.queries).take(ChecksPerBulkCall).map { case (qid, text) =>
          (text, b.msm, BulkK, untracedRows(req.i).getOrElse(qid, Nil))
        }
      }).foreach(ctx.fail)
    val lats = untraced.filter(_.ok).map(lat)
    val e2e = Map(
      "setup_s" -> M(setupS, "s"),
      "query_mean_ms" -> M(Stats.mean(lats), "ms"),
      "queries_per_s" -> M(qps, "1/s"),
      "build_turns_per_s" -> M(BulkTurns / buildS, "turns/s"),
      "bytes_per_turn" -> M(bytesPerTurn(idx), "B"))
    ctx.phase("checks")
    if (ctx.opts.trace) {
      // the untraced pass's percentiles: a run holds too few requests for
      // them to hold a bound (see README)
      ctx.layers("query_p50_ms") = M(Stats.median(lats), "ms")
      ctx.layers("query_p90_ms") = M(Stats.quantile(lats, 0.9), "ms")
      coverage(ctx, idx)
      ctx.phase("coverage")
    }
    e2e
  }

  // ------------------------------------------------------------- ingest

  /** What one ingest cycle measured. */
  final case class Cycle(docCount: Long, build1S: Double, build4S: Double,
      freshS: Seq[Double], appendS: Double, deleteS: Double, updateS: Double,
      compactS: Double, compactGroup: String, loadMs: Seq[Double], generations: Int,
      tombstones: Long, diskBytes: Long, probeReqs: Seq[Req])

  /** One ingest cycle over a seeded corpus of `nTurns`. The corpus is built
    * in fresh local[1] and local[4] sessions, whose shard lineage must
    * match; then, at local[4]: append → delete → update → compact, each
    * commit followed by a reload and the probe set. Invariants, each a
    * failed operation when broken: an appended or updated batch's marker
    * returns exactly that batch; deleted and updated-away docs never come
    * back; probe answers are identical before and after compact. */
  private def ingestCycle(ctx: Ctx, nTurns: Long): Cycle = {
    val seed = ctx.opts.seed
    def build(cores: Int): (IndexStore.Manifest, Double) = {
      ctx.restart(cores)
      val dir = new File(ctx.work, s"ingest-local$cores").getPath
      val grp = ctx.group(s"build$cores")
      ctx.attempted.incrementAndGet()
      val root = ctx.openRoot()
      val (r, _, t0, t1) = ctx.traced(grp, root, "IndexStore.build") {
        IndexStore.build(ctx.spark, Gen.turns(ctx.spark, seed, 0, nTurns), dir, s"ingest-$seed", Cfg)
      }
      ctx.closeRoot(root, grp, s"request.build$cores", t0, t1)
      (r.manifest, secs(t1 - t0))
    }
    val (m1, build1S) = build(1)
    val (m4, build4S) = build(4)
    if (m1.shards.sortBy(_.shardId) != m4.shards.sortBy(_.shardId))
      ctx.fail("ingest: local[1] and local[4] builds differ in shard lineage")

    val spark = ctx.spark
    import spark.implicits._
    val dir = new File(ctx.work, "ingest-local4").getPath
    var idx = IndexStore.load(spark, dir)
    val probes = Gen.probes(seed)
    val probeReqs = mutable.ArrayBuffer.empty[Req]
    val loadMs = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    val gone = mutable.Set.empty[Long]
    var generations = 0
    var tombstones = 0L

    def probe(): Seq[Seq[(Long, Double)]] = probes.map { q =>
      var got: Seq[(Long, Double)] = Nil
      val r = request(ctx, probeReqs.size, "probe", System.nanoTime()) { (grp, root) =>
        val (rs, p, a) = search(ctx, idx, q, ShortK, grp, root)
        got = rs
        (p, a)
      }
      account(ctx, 1, Seq(r))
      probeReqs += r
      val stale = got.map(_._1).filter(gone.contains)
      if (stale.nonEmpty) ctx.fail(s"ingest probe [${q.text}] returned deleted docs ${stale.take(5)}")
      got
    }
    /** The batch's marker must return exactly `keys`. */
    def markerCheck(marker: String, keys: Set[(String, Int)]): Unit = {
      val ids = Check.rows(QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus,
        marker, keys.size + 10, 1, Cfg, idx.tombstoneSet)).map(_._1)
      val got = idx.docs.toDF().join(broadcast(ids.toDF("docId")), "docId")
        .select($"conv_id", $"turn_idx").as[(String, Int)].collect().toSet
      if (got != keys || ids.size != keys.size || ids.exists(gone.contains))
        ctx.fail(s"ingest marker $marker: ${ids.size} docs, ${(got -- keys).size} foreign, " +
          s"${(keys -- got).size} missing")
    }
    /** One commit: the IndexStore call, a reload, then `after` (the
      * freshness check). Returns (call seconds, call-to-checked seconds,
      * request id). */
    def commit(name: String)(call: => Unit)(after: => Unit): (Double, Double, String) = {
      val grp = ctx.group(name)
      val root = ctx.openRoot()
      ctx.attempted.incrementAndGet()
      val t0 = System.nanoTime()
      var callS = 0.0
      try {
        callS = secs(ctx.traced(grp, root, s"IndexStore.$name")(call)._4 - t0)
        val (i, _, l0, l1) = ctx.traced(grp, root, "IndexStore.load")(IndexStore.load(spark, dir))
        idx = i
        loadMs += (l1 - l0) / 1e6
        after
      } catch { case e: Exception => ctx.fail(s"ingest $name: $e") }
      val t1 = System.nanoTime()
      ctx.closeRoot(root, grp, s"request.$name", t0, t1)
      generations = math.max(generations, idx.manifest.blockDirs.size)
      tombstones = math.max(tombstones, idx.tombstoneSet.size)
      (callS, secs(t1 - t0), grp)
    }

    probe()
    // append: new conversations, each turn carrying the batch's marker
    val mkA = Gen.marker(seed, 1)
    val added = Gen.turns(spark, seed + 1, nTurns, AppendTurns, "a", Some(mkA))
    val addedKeys = added.collect().map(t => (t.conv_id, t.turn_idx)).toSet
    val (appendS, appendFresh, _) = commit("append") {
      IndexStore.appendSnapshot(spark, added, dir, s"ingest-append-$seed", Cfg)
    }(markerCheck(mkA, addedKeys))
    fresh += appendFresh
    probe()
    // delete: a seeded DeleteShare of the base docs
    val drop = spark.range(0, nTurns)
      .filter(pmod(xxhash64(col("id"), lit(seed)), lit(math.round(1 / DeleteShare))) === 0)
      .toDF("docId")
    val dropped = drop.as[Long].collect()
    val (deleteS, _, _) = commit("delete") {
      IndexStore.deleteDocs(spark, drop, dir, s"ingest-delete-$seed", Cfg)
      gone ++= dropped
    }(())
    probe()
    // update: new versions of a few whole conversations, with a marker
    val r = new scala.util.Random(seed * 31 + 7)
    val convs = Seq.fill(UpdateConvs)(r.nextInt((nTurns / Gen.TurnsPerConv).toInt)).distinct
    val mkU = Gen.marker(seed, 2)
    val updated = convs.map(cv => Gen.turns(spark, seed + 2, cv.toLong * Gen.TurnsPerConv,
      Gen.TurnsPerConv, "c", Some(mkU))).reduce(_ union _)
    val updatedKeys = updated.collect().map(t => (t.conv_id, t.turn_idx)).toSet
    val old = idx.docs.toDF().join(broadcast(updatedKeys.toSeq.toDF("conv_id", "turn_idx")),
      Seq("conv_id", "turn_idx")).select($"docId").as[Long].collect()
    val (updateS, updateFresh, _) = commit("update") {
      IndexStore.updateDocs(spark, updated, dir, s"ingest-update-$seed", Cfg)
      gone ++= old
    }(markerCheck(mkU, updatedKeys))
    fresh += updateFresh
    val beforeCompact = probe()
    val (compactS, _, compactGroup) = commit("compact")(IndexStore.compact(spark, dir, Cfg))(())
    val afterCompact = probe()
    ctx.attempted.incrementAndGet()
    def rounded(a: Seq[Seq[(Long, Double)]]) = a.map(_.map { case (d, s) => (d, math.round(s * 1e4)) })
    if (rounded(beforeCompact) != rounded(afterCompact))
      ctx.fail("ingest: probe answers changed across compact")
    Cycle(m4.docCount, build1S, build4S, fresh.toSeq, appendS, deleteS, updateS, compactS,
      compactGroup, loadMs.toSeq, generations, tombstones, dirBytes(new File(dir)),
      probeReqs.toSeq)
  }

  /** Corpus of the ingest cycle a traced run adds. */
  val SideTurns = 5000L

  /** The per-layer numbers of one ingest cycle. */
  private def ingestLayers(ctx: Ctx, c: Cycle, t: Tracer): Unit = {
    ctx.drain()
    val l = ctx.layers
    l("ingest.build_turns_per_s_1core") = M(c.docCount / c.build1S, "turns/s")
    l("ingest.build_turns_per_s") = M(c.docCount / c.build4S, "turns/s")
    l("ingest.scaling_eff") = M(c.build1S / (4 * c.build4S), "ratio")
    l("ingest.fresh_p50_s") = M(Stats.median(c.freshS), "s")
    l("ingest.delete_s") = M(c.deleteS, "s")
    l("ingest.compact_s") = M(c.compactS, "s")
    l("IndexStore.append_s") = M(c.appendS, "s")
    l("IndexStore.update_s") = M(c.updateS, "s")
    l("IndexStore.load_ms") = M(Stats.median(c.loadMs), "ms")
    l("IndexStore.generations") = M(c.generations, "count")
    l("Tombstones.count") = M(c.tombstones.toDouble, "count")
    l("IndexStore.disk_bytes") = M(c.diskBytes.toDouble, "B")
    l("IndexStore.compact_bytes_written") = M(t.work(c.compactGroup).outputBytes.toDouble, "B")
    queryLayers(ctx, c.probeReqs)
  }

  /** Traced runs only: measure every per-layer metric the workload's own
    * traffic did not (one request of each missing query kind, and for the
    * serve workloads one ingest cycle of a [[SideTurns]]-turn corpus), so a
    * traced run reports every layer. A layer's own workload stays the
    * place to read it. */
  private def coverage(ctx: Ctx, idx: IndexStore.Index): Unit = {
    ctx.setTracing(true)
    val seed = ctx.opts.seed
    val l = ctx.layers
    def missing(kind: String) = !l.contains(s"QueryEngine.plan_ms.$kind")
    val r = new scala.util.Random(seed + 11)
    val shortQs = Gen.ShortOrder.distinct.filter(missing).map(k => Gen.shortQuery(r, k, r.nextDouble()))
    val reqs = shortQs.zipWithIndex.map { case (q, i) =>
      request(ctx, i, q.kind, System.nanoTime()) { (grp, root) =>
        val (_, p, a) = search(ctx, idx, q, ShortK, grp, root); (p, a)
      }
    } ++ Gen.bulkStream(seed + 11, Gen.BulkPattern.size).distinctBy(_.kind)
      .filter(b => missing(b.kind)).zipWithIndex.map { case (b, i) =>
        request(ctx, i, b.kind, System.nanoTime()) { (grp, root) =>
          val (_, p, a) = searchBatch(ctx, idx, b, grp, root); (p, a)
        }
      }
    account(ctx, reqs.size, reqs)
    queryLayers(ctx, reqs)
    if (!l.contains("loadgen.late_p90_ms"))
      l("loadgen.late_p90_ms") = M(Stats.quantile(reqs.map(r => Stats.lateMs(r.dueNs, r.sentNs)), 0.9), "ms")
    ingestLayers(ctx, ingestCycle(ctx, SideTurns), ctx.tracer.get)
    ctx.setTracing(false)
  }
}
