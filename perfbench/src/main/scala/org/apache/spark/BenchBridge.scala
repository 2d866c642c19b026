package org.apache.spark

/** The one non-public hook the benchmark needs: listener events arrive on
  * an asynchronous bus, so counters are read only after it has drained. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
