package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so a span's
  * counters are complete before they are read.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
