package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal private[sql]-access bridge: wrap/unwrap custom Catalyst
  * expressions as public Columns. This is the one conventional spot where
  * an extension library must live inside the org.apache.spark.sql package
  * tree (ExpressionUtils and friends are private[sql] in Spark 4). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (classic Dataset.ofRows
    * is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `createDataFrame(df.rdd, df.schema)` — a fresh leaf over `df`'s
    * rows — without turning every row into a `Row` and back. */
  def reroot(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output.map(_.newInstance()), qe.toRdd.map(_.copy()))(spark))
  }

  /** Wait until every event posted so far has reached the listeners (the
    * listener bus is private[spark]). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The analyzed logical plan of a DataFrame (for building resolved
    * custom plan nodes against its output attributes). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Idempotently add a planner strategy to a LIVE session (the
    * programmatic analog of injectPlannerStrategy, which getOrCreate
    * ignores on an already-running session). */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.exists(_.getClass == strategy.getClass))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Idempotently add an optimizer rule to a LIVE session (the
    * programmatic analog of injectOptimizerRule; runs in the
    * User Provided Optimizers batch). */
  def addOptimization(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraOptimizations.exists(_.getClass == rule.getClass))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }
}
