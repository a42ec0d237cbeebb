package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until the
  * listener bus has delivered every queued event, so the traced run's
  * job and task statistics are complete before they are summed. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
