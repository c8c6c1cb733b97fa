package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters — the one
  * seam Spark 4 does not expose publicly for registering custom Catalyst
  * expressions as `Column`s without going through the function registry.
  */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def registerFunction(spark: SparkSession,
      name: catalyst.FunctionIdentifier,
      info: catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(name, info, builder)

  /** Runs `body` as one SQL execution of `df` whose plan is `plan`, the
    * part of `df`'s executed plan that `body` runs.
    */
  def withExecution[T](df: DataFrame, plan: execution.SparkPlan)(body: => T): T = {
    val qe = new execution.QueryExecution(df.sparkSession.asInstanceOf[classic.SparkSession],
        df.queryExecution.logical) {
      override def executedPlan: execution.SparkPlan = plan
    }
    execution.SQLExecution.withNewExecutionId(qe)(body)
  }

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * Dataset. `Dataset.unpersist` is a no-op for it — that only clears
    * CacheManager entries, and a local checkpoint's RDD persists itself
    * directly without registering there — so iterative algorithms must
    * drop the previous round's blocks through the `LogicalRDD` leaf.
    * The Dataset is unusable afterwards (its lineage was truncated at
    * the checkpoint); only call this once nothing derives from it.
    */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
