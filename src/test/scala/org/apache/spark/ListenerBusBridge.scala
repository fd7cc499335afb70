package org.apache.spark

/** Test-side access to the one Spark-internal call a job-counting spec
  * needs: wait until the listener bus has delivered every posted event, so
  * a counter read afterwards includes every job started before the call. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
