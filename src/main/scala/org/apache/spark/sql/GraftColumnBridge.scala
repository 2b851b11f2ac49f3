package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LeafNode

/** Minimal bridge into classic Spark internals that are private[sql]
  * in Spark 4: the Column <-> Expression converters, a DataFrame over
  * a logical plan, the active-session scope and the cache lookup.
  * Lives in the spark.sql package solely for access; used by graft's
  * native expressions to expose a Column API without a
  * FunctionRegistry round trip, and by the prepared search plan. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over `leaf`, a resolved leaf: it is marked analyzed
    * first, so the analyzer returns it as it is instead of running its
    * rules over a plan they cannot change. */
  def frame(spark: SparkSession, leaf: LeafNode): DataFrame = {
    require(leaf.resolved, s"unresolved leaf $leaf")
    leaf.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], leaf)
  }

  /** `body` with `spark` as the thread's active session, as Spark's
    * own planning runs: a physical node captures the active session
    * when it is constructed. */
  def withActive[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[classic.SparkSession].withActive(body)

  /** The columnar cache `df` reads while it stays registered with its
    * session's cache manager (compare by identity), or None. */
  def cacheOf(df: DataFrame): Option[AnyRef] =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
}
