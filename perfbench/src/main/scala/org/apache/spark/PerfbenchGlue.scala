package org.apache.spark

/** Access to the `private[spark]` listener-bus drain, so the layer
  * recorder can close a span only after every event the span's jobs
  * posted has been delivered. Lives in org.apache.spark purely for
  * access; contains no logic.
  */
object PerfbenchGlue {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
