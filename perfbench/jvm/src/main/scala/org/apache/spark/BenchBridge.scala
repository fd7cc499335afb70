package org.apache.spark

/** The one Spark-internal call the harness needs: waiting until the listener
  * bus has delivered every posted event, so counters read after a call
  * include that call's jobs, stages and tasks. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
