package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered. Spark posts a job's start and end events before the action
  * that ran it returns, so draining after an op makes the op's listener
  * record complete without sleeping. The bus is private to Spark, hence
  * this accessor lives in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
