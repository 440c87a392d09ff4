package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** A frame over rows the driver holds, typed as `spark.read` types a file
  * source (every field nullable), so reading it runs no job. The frame's
  * constructor and `asNullable` are private to Spark's SQL package, so
  * this one call lives there. */
object LocalFrame {
  def apply(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema.asNullable), rows))
}
