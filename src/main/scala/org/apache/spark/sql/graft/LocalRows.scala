package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType

/** Driver-side rows into a DataFrame as Catalyst `InternalRow`s, with no
  * Dataset encoder in between. A ranked query's top k is already on the
  * driver when its result is built; encoding it through `Seq.toDF` or
  * `createDataFrame(List[Row])` costs more driver time than the scoring
  * job at serving sizes. The conversion Spark keeps private[sql] lives
  * here, beside [[ColumnBridge]].
  */
object LocalRows {

  /** A DataFrame over `rows` (a LocalRelation: collecting it runs no job). */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(castToImpl(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
