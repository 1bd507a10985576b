package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-injection accessor for `private[sql]`
  * [[classic.ExpressionUtils.column]] — wraps a catalyst Expression as
  * a user-facing Column (the hook graft's parameterized native
  * expressions need: their model state — centroid/codebook matrices —
  * lives in constructor fields, so they cannot ride the string-named
  * FunctionRegistry route `dotp` uses). Version-pinned to the bundled
  * Spark; a signature change fails loudly at compile time.
  */
object GraftColumnAccess {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A one-part connector column reference naming `name` verbatim.
    * The public `Expressions.column` parses its argument as a multi-part
    * SQL identifier instead: it splits `a.b`, rejects `unit price`, and
    * its first call pays the SQL parser's one-time initialization.
    */
  def fieldRef(name: String): connector.expressions.NamedReference =
    connector.expressions.FieldReference.column(name)

  /** `protected[sql]` `DataSourceStrategy.translateFilter` over
    * top-level columns: a Catalyst predicate as the `sources.Filter`
    * Spark itself would push to a V1 source, or None.
    */
  def translateFilter(e: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false)
}
