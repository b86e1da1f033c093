package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{Codec, IndexBuilder}

/** Codec properties (SURVEY §5.2.2 / FIXTURES §5): varint + delta block
  * roundtrip over sorted docId lists with gaps from 1 up to ~2^40, and the
  * build's streaming block encoder against the reference encoders.
  */
class CodecSpec extends AnyFunSuite {

  private def forAllSeeded[A](gen: Gen[A], n: Int)(check: A => Unit): Unit =
    TestKit.forAllSeeded(gen, n)(check)

  test("varint roundtrip across magnitudes") {
    val vals = Seq(0L, 1L, 127L, 128L, 300L, 16383L, 16384L,
      Int.MaxValue.toLong, 1L << 40, Long.MaxValue)
    vals.foreach { v =>
      val out = new java.io.ByteArrayOutputStream()
      Codec.writeVarLong(out, v)
      val (got, read) = Codec.readVarLong(out.toByteArray, 0)
      assert(got == v)
      assert(read == out.size())
    }
  }

  test("block roundtrip: gaps of 1 and huge gaps") {
    val postings = Seq(
      Codec.P(0L, 1, 5),
      Codec.P(1L, 2, 10),
      Codec.P(2L, 300, 100000),
      Codec.P((1L << 40) + 7, 1, 1),
      Codec.P((1L << 40) + 8, 9, 42))
    val bytes = Codec.encode(postings)
    assert(Codec.decode(bytes, postings.size).toSeq == postings)
  }

  test("property: roundtrip on random strictly-ascending lists") {
    val gen = for {
      n <- Gen.choose(1, Codec.BlockSize)
      first <- Gen.choose(0L, 1L << 41)
      deltas <- Gen.listOfN(n - 1, Gen.oneOf(Gen.choose(1L, 5L), Gen.choose(1L, 1L << 39)))
      tfs <- Gen.listOfN(n, Gen.choose(1, 1000000))
      dls <- Gen.listOfN(n, Gen.choose(0, 1000000))
    } yield {
      val ids = deltas.scanLeft(first)(_ + _)
      ids.lazyZip(tfs).lazyZip(dls).map(Codec.P.apply).toVector
    }
    forAllSeeded(gen, 300) { ps =>
      val bytes = Codec.encode(ps)
      assert(Codec.decode(bytes, ps.size).toVector == ps)
    }
  }

  test("delta compression beats raw fixed-width on dense lists") {
    val dense = (0 until 128).map(i => Codec.P(i.toLong * 2, 1, 50))
    val bytes = Codec.encode(dense)
    assert(bytes.length < 128 * 16, s"encoded ${bytes.length}B >= raw 2048B")
  }

  test("encode rejects non-ascending docIds") {
    intercept[IllegalArgumentException] {
      Codec.encode(Seq(Codec.P(5, 1, 1), Codec.P(5, 1, 1)))
    }
  }

  test("encodeRaw is byte-identical to encode on random posting lists") {
    val gen = for {
      n <- Gen.choose(1, 128)
      gaps <- Gen.listOfN(n, Gen.choose(1L, 1000L))
      tfs <- Gen.listOfN(n, Gen.choose(1, 500))
      dls <- Gen.listOfN(n, Gen.choose(0, 5000))
    } yield {
      val ids = gaps.scanLeft(-1L)(_ + _).tail
      (ids.toArray, tfs.toArray, dls.toArray)
    }
    forAllSeeded(gen, 300) { case (ids, tfs, dls) =>
      val ps = ids.indices.map(i => Codec.P(ids(i), tfs(i), dls(i)))
      assert(java.util.Arrays.equals(
        Codec.encodeRaw(ids, tfs, dls, ids.length), Codec.encode(ps)),
        "encodeRaw bytes diverge from encode")
    }
  }

  test("BlockEncoder == Codec.encode + encodePositions on random sorted posting rows") {
    final case class Posting(docId: Long, tf: Int, dl: Int, pos: Array[Int])
    val gen = for {
      seed <- Gen.choose(0L, Long.MaxValue)
      blockSize <- Gen.oneOf(1, 3, 8, Codec.BlockSize)
      withPositions <- Gen.oneOf(true, false)
    } yield (seed, blockSize, withPositions)
    forAllSeeded(gen, 200) { case (seed, blockSize, withPositions) =>
      val rnd = new scala.util.Random(seed)
      // a few shards sharing one small vocabulary, so one term also spans a
      // shard change; group lengths run past several blocks
      val shards = (0 until 12).filter(_ => rnd.nextInt(3) == 0).take(3)
      val groups: Seq[((Int, String), Seq[Posting])] = for {
        shard <- shards
        term <- Seq("a", "b", "bc", "é").filter(_ => rnd.nextBoolean())
      } yield {
        val len = 1 + rnd.nextInt(3 * blockSize + 2)
        val ids = Iterator.iterate(rnd.nextInt(50).toLong)(_ + 1 + rnd.nextInt(1000)).take(len)
        (shard, term) -> ids.map { id =>
          val tf = 1 + rnd.nextInt(4)
          val pos = Iterator.iterate(1 + rnd.nextInt(5))(_ + 1 + rnd.nextInt(6)).take(tf).toArray
          Posting(id, tf, pos.last + rnd.nextInt(5), pos)
        }.toSeq
      }
      def fields(shard: Int, term: String, blockIdx: Int, minDocId: Long, maxDocId: Long,
          n: Int, maxTf: Int, minDl: Int, sumTf: Long, payload: Array[Byte],
          positions: Array[Byte]) =
        (shard, term, blockIdx, minDocId, maxDocId, n, maxTf, minDl, sumTf,
          payload.toSeq, positions.toSeq)
      val want = groups.flatMap { case ((shard, term), ps) =>
        ps.grouped(blockSize).zipWithIndex.map { case (b, i) =>
          fields(shard, term, i, b.head.docId, b.last.docId, b.size, b.map(_.tf).max,
            b.map(_.dl).min, b.map(_.tf.toLong).sum,
            Codec.encode(b.map(p => Codec.P(p.docId, p.tf, p.dl))),
            if (withPositions) Codec.encodePositions(b.map(_.pos)) else Array.emptyByteArray)
        }
      }
      val rows: Seq[InternalRow] = groups.flatMap { case ((shard, term), ps) =>
        ps.map { p =>
          val base = Array[Any](shard, UTF8String.fromString(term), p.docId, p.tf, p.dl)
          new GenericInternalRow(
            if (withPositions) base :+ new GenericArrayData(p.pos) else base)
        }
      }
      // also through an UnsafeProjection, which reuses ONE output row the
      // way the exchange's iterator does
      val types = Array[DataType](IntegerType, StringType, LongType, IntegerType, IntegerType) ++
        (if (withPositions) Array[DataType](ArrayType(IntegerType, containsNull = false))
          else Array.empty[DataType])
      Seq(rows.iterator, rows.iterator.map(UnsafeProjection.create(types))).foreach { it =>
        val got = new IndexBuilder.BlockEncoder(it.buffered, blockSize, withPositions).map(b =>
          fields(b.shardId, b.term, b.blockIdx, b.minDocId, b.maxDocId, b.n, b.maxTf,
            b.minDl, b.sumTf, b.payload, b.positions)).toSeq
        assert(got == want, s"seed=$seed blockSize=$blockSize withPositions=$withPositions")
      }
    }
  }
}
