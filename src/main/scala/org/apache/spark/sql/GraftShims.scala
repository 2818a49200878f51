package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ⇄ Expression converters — the
  * standard pattern for libraries that ship custom Catalyst expressions
  * (Spark's public Column API intentionally hides its expression).
  * Kept to these two calls only.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Stops the JVM-wide state-store maintenance scheduler. It is a
    * singleton OUTSIDE any SparkContext, so `spark.stop()` does not
    * stop it — a tick that fires after stop() logs a benign
    * "SparkEnv not active" stack trace, which for an output-capturing
    * caller (the bench) lands AFTER the final JSON line and corrupts
    * a last-N-chars capture. Call between spark.stop() and the final
    * print. */
  def stopStateStoreMaintenance(): Unit =
    execution.streaming.state.StateStore.stop()

  /** Blocks until the context's listener bus has dispatched every
    * queued event — the test-side plan sweeps capture
    * SparkListenerSQLExecutionEnd events (the only way to reach a
    * TERMINATED stream's executed micro-batch plans from outside its
    * runner), and event delivery is async, so attribution of a plan to
    * the query that produced it needs a flush between queries. */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The physical plan an SQL execution ran, off its end event — the
    * typed form of the plan the UI renders, reaching every micro-batch
    * of a stream that has since terminated (the test-side plan sweeps
    * walk it). None when the event carries no QueryExecution. */
  def executedPlan(e: execution.ui.SparkListenerSQLExecutionEnd)
      : Option[execution.SparkPlan] =
    Option(e.qe).map(_.executedPlan)
}
