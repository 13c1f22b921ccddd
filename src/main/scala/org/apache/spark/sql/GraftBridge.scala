package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private API: Column ↔ catalyst Expression
  * conversion for registering custom codegen expressions (Spark 4 split
  * Column off the catalyst tree; the blessed converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, package-private),
  * plus the function-registry, plan, checkpoint-block, listener-bus and
  * SQL-execution-listener calls below.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL function into an EXISTING session (the builder-time
    * path is graft.plans.GraftExtensions; this covers sessions the
    * caller didn't construct, e.g. notebook/driver-provided ones). */
  def registerFunction(spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Block until every event posted to the driver's listener bus so far
    * has reached its listeners (a `QueryExecutionListener` hears of an
    * action only through the bus, after the action returns). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Register `f(action, qe)` for every SQL execution that succeeds in
    * ANY session of `sc` — a session's `QueryExecutionListener` hears
    * only its own session, so it misses work run in `newSession()`
    * children. Delivered on the listener bus (see [[drainListeners]]);
    * the returned listener is for `sc.removeSparkListener`. */
  def onSqlExecutionEnd(sc: org.apache.spark.SparkContext)
      (f: (String, execution.QueryExecution) => Unit): org.apache.spark.scheduler.SparkListener = {
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: execution.ui.SparkListenerSQLExecutionEnd
              if e.qe != null && e.executionName.isDefined && e.executionFailure.isEmpty =>
            f(e.executionName.get, e.qe)
          case _ =>
        }
    }
    sc.addSparkListener(l)
    l
  }

  /** DataFrame from a catalyst LogicalPlan (custom operator nodes). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Whether [[dropCheckpointBlocks]] would accept this frame — true
    * iff the plan root is a checkpoint `LogicalRDD`. A resumed drain's
    * first-generation frames may be parquet reads (no blocks to free);
    * callers use this to skip the drop instead of catching. */
  def isCheckpointRoot(df: Dataset[_]): Boolean =
    df.queryExecution.analyzed.isInstanceOf[execution.LogicalRDD]

  /** Drop the block storage behind a `localCheckpoint`ed Dataset.
    *
    * `Dataset.localCheckpoint` wraps the checkpointed RDD in a
    * `LogicalRDD`; the blocks live until that RDD is garbage-collected,
    * so an iterative drain that checkpoints per epoch accumulates one
    * table-sized block set PER EPOCH unless the superseded frame's
    * blocks are dropped explicitly. Only call this once every plan that
    * could read the frame has materialized — a local checkpoint is
    * non-reliable, so dropped blocks are unrecoverable by design.
    *
    * Accepts ONLY a frame whose plan root IS the checkpoint's
    * `LogicalRDD` (what `localCheckpoint` returns). A derived/composite
    * frame is refused: traversing its whole tree would unpersist every
    * checkpoint it references — including blocks shared with other
    * still-live consumers, unrecoverably. */
  def dropCheckpointBlocks(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case r: execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        "dropCheckpointBlocks: plan root is " + other.nodeName +
          ", not a LogicalRDD — pass the frame localCheckpoint() returned, " +
          "not a frame derived from it (a tree-wide unpersist could drop " +
          "checkpoint blocks shared with other consumers)")
    }
}
