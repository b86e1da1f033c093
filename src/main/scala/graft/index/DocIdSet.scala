package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Compressed immutable set of docIds — the scorers' per-document
  * membership structure (simplified roaring bitmap, the production
  * extension SURVEY §9 names). It holds an index's tombstones (deleted
  * docIds, skipped by every scorer) and a `field:value` query's
  * allow-list (the docIds of the live docs view passing the filter; a
  * scorer skips every doc outside it). docIds are paged on their high bits
  * (64Ki ids per page); a page holds either a sorted `Array[Short]` of low
  * 16-bit offsets (sparse, < [[DocIdSet.DenseThreshold]] entries, 2 B/id)
  * or a 8 KiB bitmap (dense, O(1) membership regardless of count), so a
  * set of N docIds costs at most ~N/8 bytes however dense. Round 4 shipped
  * tombstones as the raw sorted `Array[Long]` (8 B/id), which is what
  * capped deletes at 10M between compactions; the paged form carries the
  * lifted [[IndexStore.TombstoneCap]] at a few hundred MB worst-case and
  * far less on the clustered drop sets dedup actually produces.
  *
  * docId-range sharding means a scorer task touches only its shards' id
  * range, i.e. a contiguous run of pages — the page binary search is one
  * probe per scoring CANDIDATE (after WAND's skipping), never per
  * posting.
  *
  * Membership is the only query the scorers need; pages are built
  * DISTRIBUTIVELY ([[DocIdSet.fromDF]]) so loading a delete-heavy index,
  * or filtering on a common field value, never materializes the flat id
  * array on the driver.
  */
final class DocIdSet private (
    private val pageKeys: Array[Long],
    private val containers: Array[AnyRef],
    val size: Long
) extends Serializable {

  def isEmpty: Boolean = size == 0L
  def nonEmpty: Boolean = size != 0L

  def contains(id: Long): Boolean = {
    if (size == 0L || id < 0L) return false
    val pi = java.util.Arrays.binarySearch(pageKeys, id >>> 16)
    if (pi < 0) return false
    val low = (id & 0xffffL).toInt
    containers(pi) match {
      case bm: Array[Long] => (bm(low >>> 6) & (1L << low)) != 0L
      case arr: Array[Short] =>
        // sorted unsigned 16-bit offsets; Short sorts correctly under the
        // unsigned order only within one sign half, so search both-aware:
        // values are stored biased by Short.MinValue to keep signed order
        java.util.Arrays.binarySearch(arr, (low + Short.MinValue).toShort) >= 0
    }
  }

  /** One broadcast per loaded index per SparkContext, reused by every
    * query (round 4 broadcast the array anew on EVERY query and never
    * destroyed it — a long-lived serving session accumulated them until
    * the ContextCleaner caught up). Keyed by applicationId so a handle
    * that outlives a session restart re-broadcasts instead of serving a
    * Broadcast of a stopped context.
    */
  @transient private var bcCache: (String, Broadcast[DocIdSet]) = _
  def broadcastVia(spark: SparkSession): Broadcast[DocIdSet] = synchronized {
    val appId = spark.sparkContext.applicationId
    if (bcCache == null || bcCache._1 != appId)
      bcCache = (appId, spark.sparkContext.broadcast(this))
    bcCache._2
  }
}

object DocIdSet {

  val empty: DocIdSet = new DocIdSet(Array.emptyLongArray, Array.empty, 0L)

  /** Sparse/dense crossover: above this a page's sorted-shorts form would
    * outgrow the 8 KiB bitmap, so the bitmap wins on both size and probe
    * cost.
    */
  val DenseThreshold = 4096

  private def buildContainer(lows: Array[Int]): AnyRef =
    if (lows.length >= DenseThreshold) {
      val bm = new Array[Long](1024)
      var i = 0
      while (i < lows.length) {
        val v = lows(i); bm(v >>> 6) |= 1L << v; i += 1
      }
      bm
    } else {
      java.util.Arrays.sort(lows)
      val arr = new Array[Short](lows.length)
      var i = 0
      // biased by Short.MinValue: signed order == unsigned order of lows
      while (i < lows.length) { arr(i) = (lows(i) + Short.MinValue).toShort; i += 1 }
      arr
    }

  /** Driver-side builder from an id array (tests, small sets). */
  def fromIds(ids: Array[Long]): DocIdSet = {
    if (ids.isEmpty) return empty
    val byPage = ids.distinct.groupBy(_ >>> 16).toArray.sortBy(_._1)
    val keys = byPage.map(_._1)
    val containers: Array[AnyRef] =
      byPage.map { case (_, ps) => buildContainer(ps.map(id => (id & 0xffffL).toInt)) }
    new DocIdSet(keys, containers, byPage.map(_._2.length.toLong).sum)
  }

  /** Distributed builder: pages are grouped and compressed in executors;
    * the driver collects only the finished containers (<= 8 KiB + tag per
    * 64Ki-id range), never the flat 8 B/id array — the load-time driver
    * spike that would otherwise reappear at [[IndexStore.TombstoneCap]].
    * Container wire format: tag byte (0 sparse / 1 dense) + payload
    * (sorted biased u16 pairs, or the 1024-long bitmap).
    */
  def fromDF(df: DataFrame): DocIdSet = {
    val spark = df.sparkSession
    import spark.implicits._
    val pages: Array[(Long, Array[Byte])] = df
      .select($"docId".cast("long"))
      .as[Long]
      .groupByKey(_ >>> 16)
      .mapGroups { (page, it) =>
        // dedup while STREAMING the group: set bits in an 8 KiB bitmap so
        // a heavily duplicated tombstone relation (e.g. unioned dirs from
        // a future multi-dir writer) can never inflate one group beyond
        // O(8 KiB) — the former toArray.distinct materialized every
        // pre-distinct id first (ADVICE r5)
        val bits = new Array[Long](1024)
        var nset = 0
        it.foreach { id =>
          val low = (id & 0xffffL).toInt
          val w = low >>> 6
          val m = 1L << (low & 63)
          if ((bits(w) & m) == 0L) { bits(w) |= m; nset += 1 }
        }
        val lows = new Array[Int](nset)
        var v = 0
        var k = 0
        while (v < 65536) {
          if ((bits(v >>> 6) & (1L << (v & 63))) != 0L) { lows(k) = v; k += 1 }
          v += 1
        }
        val bb = java.nio.ByteBuffer.allocate(1 + (
          if (lows.length >= DenseThreshold) 8192 else 2 * lows.length))
        buildContainer(lows) match {
          case bm: Array[Long] =>
            bb.put(1.toByte); bm.foreach(bb.putLong)
          case arr: Array[Short] =>
            bb.put(0.toByte); arr.foreach(bb.putShort)
        }
        (page, bb.array())
      }
      .collect()
      .sortBy(_._1)
    if (pages.isEmpty) return empty
    var n = 0L
    val containers: Array[AnyRef] = pages.map { case (_, bytes) =>
      val bb = java.nio.ByteBuffer.wrap(bytes)
      if (bb.get() == 1.toByte) {
        val bm = new Array[Long](1024)
        var i = 0
        while (i < 1024) { bm(i) = bb.getLong(); i += 1 }
        var c = 0L
        bm.foreach(w => c += java.lang.Long.bitCount(w))
        n += c
        bm
      } else {
        val arr = new Array[Short]((bytes.length - 1) / 2)
        var i = 0
        while (i < arr.length) { arr(i) = bb.getShort(); i += 1 }
        n += arr.length
        arr
      }
    }
    new DocIdSet(pages.map(_._1), containers, n)
  }
}
