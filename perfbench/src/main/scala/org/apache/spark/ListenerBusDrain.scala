package org.apache.spark

/** Waits until the context's listener bus has delivered every event
  * posted so far. The benchmark calls it between operations, outside
  * the timed region, so that listener callbacks for one operation are
  * attributed to it before the next one starts. The bus is private to
  * Spark, hence this one-method bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
