package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-injection accessor for `private[sql]` [[classic.Dataset.ofRows]]
  * — a DataFrame over an already-built logical plan. The lakehouse
  * builds its engine-internal reads this way: a DSv2 relation over a
  * pre-resolved snapshot, with no read options to re-parse and no
  * manifest to re-list. Also `private[spark]` `StructType.asNullable`
  * (every level nullable — the schema Spark's own file sources read
  * with). Version-pinned to the bundled Spark; a signature change fails
  * loudly at compile time.
  */
object GraftDatasetAccess {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def nullable(schema: types.StructType): types.StructType = schema.asNullable
}
