package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.TestKit.spark

/** The paged docId set (tombstones and field allow-lists): membership correctness across the
  * sparse/dense container crossover, driver/distributed builder parity,
  * and broadcast reuse (one broadcast per index per session).
  */
class DocIdSetSpec extends AnyFunSuite {

  private def checkAgainst(set: DocIdSet, ids: Set[Long], probe: Seq[Long]): Unit = {
    assert(set.size == ids.size)
    probe.foreach { id =>
      assert(set.contains(id) == ids.contains(id), s"membership wrong for $id")
    }
  }

  test("fromIds: sparse, dense, page-boundary and negative probes") {
    val rnd = new scala.util.Random(1L)
    // sparse pages, a fully dense page, ids straddling page boundaries
    val sparse = Seq.fill(500)(rnd.nextLong(1L << 40)).map(math.abs(_))
    val densePageBase = 7L << 16
    val dense = (0 until 65536 by 3).map(i => densePageBase + i) // > DenseThreshold
    val edges = Seq(0L, 65535L, 65536L, 65537L, (1L << 16) * 12345 - 1)
    val ids = (sparse ++ dense ++ edges).toSet
    val set = DocIdSet.fromIds(ids.toArray)
    val probes = ids.toSeq ++ ids.toSeq.map(_ + 1) ++ ids.toSeq.map(_ - 1) ++
      Seq(-1L, Long.MaxValue) ++ Seq.fill(2000)(rnd.nextLong(1L << 41)).map(math.abs(_))
    checkAgainst(set, ids, probes)
  }

  test("low-offset sign half: offsets above 0x7FFF (biased shorts) resolve") {
    // offsets in [32768, 65535] land in the negative half of a raw Short;
    // the biased encoding must keep the binary search correct there
    val ids = Seq(40000L, 50000L, 65535L, 65536L + 40000L).toSet
    val set = DocIdSet.fromIds(ids.toArray)
    checkAgainst(set, ids, ids.toSeq ++ Seq(39999L, 40001L, 32768L, 32767L))
  }

  test("fromDF == fromIds on the same ids (distributed builder parity)") {
    import spark.implicits._
    val rnd = new scala.util.Random(2L)
    // mix: scattered sparse + one dense run crossing a page boundary
    val ids = (Seq.fill(3000)(rnd.nextLong(1L << 30)).map(math.abs(_)) ++
      (100000L until 170000L by 2)).distinct
    val viaDf = DocIdSet.fromDF(ids.toDF("docId").repartition(8))
    val viaIds = DocIdSet.fromIds(ids.toArray)
    assert(viaDf.size == viaIds.size)
    val probes = ids ++ ids.map(_ + 1) ++ Seq.fill(3000)(rnd.nextLong(1L << 31))
    probes.foreach { id =>
      assert(viaDf.contains(id) == viaIds.contains(id), s"parity broke at $id")
    }
    // duplicates in the input collapse
    assert(DocIdSet.fromDF((ids ++ ids).toDF("docId")).size == viaIds.size)
  }

  test("empty set and broadcast reuse") {
    assert(DocIdSet.empty.isEmpty && !DocIdSet.empty.contains(0L))
    val set = DocIdSet.fromIds(Array(1L, 2L, 3L))
    val b1 = set.broadcastVia(spark)
    val b2 = set.broadcastVia(spark)
    assert(b1 eq b2, "same session must reuse the one broadcast")
    assert(b1.value.contains(2L) && !b1.value.contains(4L))
  }
}
