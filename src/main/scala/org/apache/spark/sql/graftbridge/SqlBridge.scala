package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Re-exports of two private[sql]/private[spark] helpers: planning a frame
  * over an RDD of internal rows without converting them, and the
  * all-nullable form of a schema that `spark.read` reports for files.
  */
object SqlBridge {
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  def asNullable(schema: StructType): StructType = schema.asNullable
}
