package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The harness's only reach into Spark-private API: block until every
  * listener queue has delivered what was posted so far. Job-end events of
  * a call are posted before the call's action returns, so after `drain`
  * the tracer has seen all of them — no fixed sleep. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
