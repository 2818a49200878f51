package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ⇄ Expression converters — the
  * standard pattern for libraries that ship custom Catalyst expressions
  * (Spark's public Column API intentionally hides its expression).
  * Also home to the few listener-bus and state-store hooks the
  * harness and the tests share.
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

  /** Scheduler counters of the jobs a block runs: jobs, completed
    * stages, finished tasks, shuffle records written + read. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int,
      shuffleRecords: Long)

  /** Runs `body` and counts the jobs it runs on `sc`. The listener bus
    * is drained before and after, so events of earlier work are not
    * counted and none of `body`'s are missed. */
  def counting[T](sc: org.apache.spark.SparkContext)(body: => T)
      : (T, Counts) = {
    import org.apache.spark.scheduler._
    var jobs = 0; var stages = 0; var tasks = 0; var records = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized { stages += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        synchronized {
          tasks += 1
          val m = e.taskMetrics
          if (m != null) records += m.shuffleWriteMetrics.recordsWritten +
            m.shuffleReadMetrics.recordsRead
        }
    }
    waitListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      waitListenerBus(sc)
      (out, listener.synchronized(Counts(jobs, stages, tasks, records)))
    } finally sc.removeSparkListener(listener)
  }

  /** The physical plan an SQL execution ran, off its end event — the
    * typed form of the plan the UI renders, reaching every micro-batch
    * of a stream that has since terminated (the test-side plan sweeps
    * walk it). None when the event carries no QueryExecution. */
  def executedPlan(e: execution.ui.SparkListenerSQLExecutionEnd)
      : Option[execution.SparkPlan] =
    Option(e.qe).map(_.executedPlan)
}
