package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Driver-side rows into and out of a DataFrame as Catalyst `InternalRow`s,
  * with no Dataset encoder in between. A ranked query's top k is already
  * on the driver when its result is built; encoding it through `Seq.toDF`
  * or `createDataFrame(List[Row])`, or decoding a collect through
  * `.as[...]`, costs more driver time than the scoring job at serving
  * sizes. The two conversions Spark keeps private[sql] live here, beside
  * [[ColumnBridge]].
  */
object LocalRows {

  /** A DataFrame over `rows` (a LocalRelation: collecting it runs no job). */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(castToImpl(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s rows as its executed plan returns them, run as one SQL
    * execution like `Dataset.collect`.
    */
  def collect(df: Dataset[_]): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }
}
