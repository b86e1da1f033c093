package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.index.Codec

/** Catalyst expression `decode_block(payload, n[, positions])` →
  * `array<struct<docId:long, tf:int, dl:int[, pos:array<int>]>>`.
  *
  * Makes the delta+varint posting blocks inspectable from SQL/DataFrame
  * plans (debugging, auditing, and the `postings_from_blocks` oracle
  * round-trip in SparkEntry), and is compaction's decode: with the
  * positions stream as third input each posting also carries its position
  * list, in the layout the block encoder reads back. The hot query path
  * (WAND) decodes inside mapPartitions and never routes through this
  * expression, so CodegenFallback is acceptable here — the decode loop
  * itself is plain JVM code either way.
  */
case class DecodeBlock(children: Seq[Expression]) extends Expression with CodegenFallback {

  private def withPositions: Boolean = children.size == 3

  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val want = Seq(BinaryType, IntegerType, BinaryType)
    if ((children.size == 2 || withPositions) && children.map(_.dataType) == want.take(children.size))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"decode_block expects (binary, int[, binary]), got (${children.map(_.dataType).mkString(", ")})")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("tf", IntegerType, nullable = false),
    StructField("dl", IntegerType, nullable = false)) ++
    (if (withPositions) Seq(StructField("pos", ArrayType(IntegerType, containsNull = false),
      nullable = false)) else Nil)), containsNull = false)

  override def eval(input: InternalRow): Any = {
    val in = children.map(_.eval(input))
    if (in.contains(null)) return null
    val ps = Codec.decode(in(0).asInstanceOf[Array[Byte]], in(1).asInstanceOf[Int])
    val rows: Array[Any] =
      if (!withPositions) ps.map(p => InternalRow(p.docId, p.tf, p.dl))
      else {
        val pos = Codec.decodePositions(in(2).asInstanceOf[Array[Byte]], ps.map(_.tf))
        ps.indices.map(i => InternalRow(ps(i).docId, ps(i).tf, ps(i).dl,
          UnsafeArrayData.fromPrimitiveArray(pos(i)))).toArray
      }
    new GenericArrayData(rows)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)

  override def prettyName: String = "decode_block"
}

object DecodeBlock {
  def apply(payload: Column, n: Column): Column = decode(Seq(payload, n))

  /** The decode with each posting's position list as a `pos` field. */
  def apply(payload: Column, n: Column, positions: Column): Column =
    decode(Seq(payload, n, positions))

  private def decode(cols: Seq[Column]): Column =
    ColumnBridge.column(DecodeBlock(cols.map(ColumnBridge.expression)))
}
