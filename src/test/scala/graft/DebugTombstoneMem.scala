package graft

import graft.index.DocIdSet

/** Backs the TombstoneCap sizing claim with data: java-serialized size
  * (what a broadcast ships) of the paged DocIdSet vs the flat
  * Array[Long] it replaced, for a sparse (random) and a clustered
  * (dedup-shaped) id distribution at 10M ids.
  *
  * Run: `Test/runMain graft.DebugTombstoneMem [nIds]`
  */
object DebugTombstoneMem {
  private def serializedBytes(o: AnyRef): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o); oos.close()
    bos.size().toLong
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10000000)
    val rnd = new java.util.Random(7L)
    // sparse: ids uniform over a 100x larger space (worst case for paging)
    val sparse = Array.fill(n)(math.abs(rnd.nextLong()) % (n * 100L)).distinct
    // clustered: contiguous runs (what a dedup keep-set complement or a
    // conversation redaction actually drops)
    val clustered = {
      val b = Array.newBuilder[Long]
      var base = 0L
      while (b.knownSize < n) {
        // next run starts past the previous run's END (gaps never overlap
        // a run, so the ids are distinct by construction)
        base += 1000L + rnd.nextInt(100000)
        val run = 200 + rnd.nextInt(5000)
        var i = 0L
        while (i < run) { b += base + i; i += 1 }
        base += run
      }
      b.result().take(n)
    }
    Seq("sparse" -> sparse, "clustered" -> clustered).foreach { case (label, ids) =>
      val t0 = System.nanoTime()
      val set = DocIdSet.fromIds(ids)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val setB = serializedBytes(set)
      val flatB = serializedBytes(ids.sorted)
      println(f"[tomb] $label n=${ids.length} set=${setB / 1e6}%.1f MB " +
        f"(${setB.toDouble / ids.length}%.2f B/id) flatArray=${flatB / 1e6}%.1f MB " +
        f"(${flatB.toDouble / ids.length}%.2f B/id) ratio=${flatB.toDouble / setB}%.1fx " +
        f"buildSec=$buildSec%.1f")
      // sanity: membership intact at scale
      assert(set.contains(ids(0)) && set.contains(ids(ids.length - 1)))
      assert(set.size == ids.length)
    }
  }
}
