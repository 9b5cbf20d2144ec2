package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Bridge to Spark's `private[sql]` Column <-> Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`) so graft's native
  * Catalyst expressions can be exposed as user-facing `Column`s, and to
  * the session internals a hand-built driver-side plan needs: converting
  * its columns, wrapping it as a DataFrame, and the cache entry behind a
  * DataFrame.
  * Lives in the `org.apache.spark.sql` package solely for access; no
  * Spark internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as an expression for a plan built by hand: unlike [[expression]],
    * the session's converter also converts the columns nested inside
    * graft's native expressions. */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** `plan` as a DataFrame, analysed once. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The in-memory relation that serves `df` itself from the cache, if
    * `df` (not just a subtree of it) is cached. */
  def cachedRelation(df: DataFrame): Option[InMemoryRelation] =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation)
}
