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

  /** Rebuild every cached plan that reads `r` after a commit — the
    * body of Spark's private `DataSourceV2Strategy.refreshCache`, which
    * its own V2 write and DELETE execs run: by catalog name when the
    * relation has one, else by plan.
    */
  def refreshCache(spark: SparkSession, r: execution.datasources.v2.DataSourceV2Relation): Unit = {
    import connector.catalog.CatalogV2Implicits._
    val s = spark.asInstanceOf[classic.SparkSession]
    r match {
      case execution.datasources.v2.ExtractV2CatalogAndIdentifier(catalog, ident) =>
        s.sharedState.cacheManager.recacheTableOrView(s, ident.toQualifiedNameParts(catalog), false)
      case _ => s.sharedState.cacheManager.recacheByPlan(s, r)
    }
  }
}
