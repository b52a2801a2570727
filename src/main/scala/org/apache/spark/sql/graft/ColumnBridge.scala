package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst [[Expression]]s and the public [[Column]] API.
  *
  * Spark 4 routes Column through ColumnNode and gates the converters behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so a
  * library defining native expressions needs this one-file shim inside the
  * `org.apache.spark.sql` package — the standard pattern for third-party
  * Catalyst extensions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame of `spark` over a resolved logical plan (`Dataset.ofRows`). */
  def ofPlan(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drop the session-shared file-listing cache. `refreshByPath` only
    * re-caches CacheManager entries; path-based parquet reads keep their
    * leaf-file lists in the shared FileStatusCache, which must be
    * invalidated after an out-of-band partition rewrite (retention sweep).
    */
  def invalidateFileListing(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.execution.datasources.FileStatusCache
      .getOrCreate(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      .invalidateAll()
}
