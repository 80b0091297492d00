package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered. Spark posts a job's start and end events before the action
  * that ran it returns, so a test that drains after its actions sees
  * every job they ran without sleeping. The bus is private to Spark,
  * hence this accessor lives in Spark's package. */
object TestListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
