package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` Dataset constructor — the
  * standard technique for extension libraries that introduce their own
  * logical operators (a custom [[LogicalPlan]] node has no public
  * DataFrame constructor). Kept to the one call graft needs.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a raw Catalyst expression as a user-facing Column (Spark 4's
    * Column is a ColumnNode facade; this is the sanctioned adapter). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse of [[column]]: the Catalyst expression behind a Column. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Eager Catalyst conversion of ANY column: a REAL (possibly still
    * unresolved) Catalyst tree the analyzer keeps resolving — unlike
    * [[expression]]'s opaque lazy wrapper, whose inner
    * UnresolvedFunctions never resolve when returned from a
    * FunctionRegistry builder (the composite SQL functions need
    * exactly this). */
  def catalystTree(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The ANALYZED logical plan behind a frame — for analysis rules that
    * splice an engine-composed read (e.g. the DV-honoring Delta scan)
    * into a query in place of a catalog relation. */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The `ForeachBatchSink` re-materialization for V1 streaming sinks: a
    * micro-batch frame arrives bound to the engine's already-planned
    * incremental execution (and still streaming-tagged, so `write` is
    * refused); wrap its executed RDD as a fresh batch frame the sink can
    * feed to any batch writer. */
  def materializeBatch(df: DataFrame): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    ofRows(df.sparkSession, execution.LogicalRDD.fromDataset(
      df.queryExecution.toRdd, classicDf, isStreaming = false))
  }

  /** Inverse direction of [[materializeBatch]]: tag an engine-built BATCH
    * frame as a streaming one, the shape a V1 `Source.getBatch` must
    * return. Used by the change-feed stream, whose per-batch frame is a
    * union of per-commit scans rather than a single file relation. The
    * wrapped RDD is lazy — planning stays at the engine's trigger. */
  def streamingFrame(df: DataFrame): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    ofRows(df.sparkSession, execution.LogicalRDD.fromDataset(
      df.queryExecution.toRdd, classicDf, isStreaming = true))
  }
}
