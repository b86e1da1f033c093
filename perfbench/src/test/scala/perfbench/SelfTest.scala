package perfbench

import java.io.File

/** Self-tests of the benchmark's own code: generator determinism, the
  * statistics helpers, and the tracer's self-time rule. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // --- query streams and arrivals
    check("same seed gives the same short-query stream") {
      Gen.shortStream(7, 200) == Gen.shortStream(7, 200)
    }
    check("another seed gives another short-query stream") {
      Gen.shortStream(7, 200) != Gen.shortStream(8, 200)
    }
    check("short stream holds the fixed kind mix in every block of 20") {
      Gen.shortStream(3, 100).grouped(20).forall { b =>
        b.groupBy(_.kind).view.mapValues(_.size).toMap == Gen.ShortMix
      }
    }
    check("bulk calls follow the msm pattern with 8 queries of 8-16 terms") {
      val calls = Gen.bulkStream(5, 9)
      calls == Gen.bulkStream(5, 9) && calls != Gen.bulkStream(6, 9) &&
        calls.map(_.msm) == Seq(1, 1, 2, 1, 1, 2, 1, 1, 2) &&
        calls.forall(c => c.queries.size == Gen.BulkBatchSize &&
          c.queries.forall { case (_, q) => val n = q.split(" ").length; n >= 8 && n <= 16 })
    }
    check("arrivals are seeded, increasing, at the rate, with seed-independent gaps") {
      val a = Gen.arrivals(11, 2.5, 2000)
      val b = Gen.arrivals(12, 2.5, 2000)
      def gaps(x: Seq[Double]) = x.zip(0.0 +: x).map { case (t, p) => t - p }
      a == Gen.arrivals(11, 2.5, 2000) && a != b &&
        gaps(a).forall(_ > 0) && math.abs(a.size / a.last - 2.5) < 0.1 &&
        gaps(a).sorted.zip(gaps(b).sorted).forall { case (x, y) => math.abs(x - y) < 1e-9 }
    }
    check("markers are seeded and outside the vocabulary") {
      Gen.marker(1, 2) == Gen.marker(1, 2) && Gen.marker(1, 2) != Gen.marker(2, 2) &&
        Gen.marker(1, 2) != Gen.marker(1, 3) && !Gen.marker(1, 2).startsWith("w")
    }
    check("zipf ranks stay in the vocabulary and favour the head") {
      val r = new scala.util.Random(1)
      val ranks = Seq.fill(20000)(Gen.zipfRank(r.nextDouble()))
      ranks.forall(x => x >= 0 && x < Gen.Vocab) && ranks.count(_ < 1000) > ranks.size / 4
    }

    // --- statistics helpers
    check("quantile interpolates linearly (type 7); mean") {
      val xs = Seq(4.0, 1.0, 3.0, 2.0)
      near(Stats.quantile(xs, 0.0), 1.0) && near(Stats.quantile(xs, 1.0), 4.0) &&
        near(Stats.median(xs), 2.5) && near(Stats.quantile(xs, 0.9), 3.7) &&
        near(Stats.median(Seq(5.0)), 5.0) && Stats.median(Nil).isNaN &&
        near(Stats.mean(xs), 2.5) && Stats.mean(Nil).isNaN
    }
    check("latency runs from the due time, lateness never negative") {
      near(Stats.latencyFromDueMs(1000000L, 251000000L), 250.0) &&
        near(Stats.lateMs(5000000L, 7000000L), 2.0) && near(Stats.lateMs(5000000L, 1000000L), 0.0)
    }

    // --- tracer
    check("self time subtracts the union of child intervals") {
      val t = new Tracer
      val spans = Seq(
        Span(1, 0, "r", "request", 0, 100),
        Span(2, 1, "r", "plan", 10, 40),
        Span(3, 1, "r", "action", 30, 60), // overlaps plan: covered 10..60
        Span(4, 1, "r", "late", 90, 120)) // clipped to 90..100
      val self = t.selfTimes(spans)
      near(self(1), 40.0) && near(self(2), 30.0) && near(self(4), 30.0)
    }

    // --- the corpus (inside Spark)
    val work = new File(".bench_build", "perfbench-selftest")
    val spark = Main.session(2, work)
    try {
      def rows(seed: Long) = Gen.turns(spark, seed, 0, 300).collect().toSeq
      check("same seed gives identical turns") { rows(42) == rows(42) }
      check("another seed gives other turns") {
        rows(42).map(_.text) != rows(43).map(_.text)
      }
      check("turns carry the vocabulary, roles and tools") {
        val ts = rows(42)
        ts.forall(t => t.text.split(" ").forall(_.matches("w[0-9]{5}"))) &&
          ts.forall(t => Gen.Roles.contains(t.role)) &&
          ts.forall(t => (t.role == "tool") == Gen.Tools.contains(t.tool)) &&
          ts.map(t => (t.conv_id, t.turn_idx)).distinct.size == ts.size
      }
      check("a marker batch prefixes every turn with its marker") {
        Gen.turns(spark, 1, 1000, 32, "a-", Some("mkx1")).collect()
          .forall(t => t.text.startsWith("mkx1 ") && t.conv_id.startsWith("a-"))
      }
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(work)
    }
    println(if (failures == 0) "perfbench self-test: all passed" else s"perfbench self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
