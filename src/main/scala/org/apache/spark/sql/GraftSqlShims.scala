package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal private[sql] accessor: build a DataFrame from a custom
  * LogicalPlan (the supported pattern for libraries contributing
  * operators via SparkSessionExtensions — the extension points accept
  * custom plans, but constructing a Dataset from one requires this
  * package-internal constructor).
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `s` with every field, nested ones included, nullable — the form
    * Spark's own file sources read a declared schema in.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}
