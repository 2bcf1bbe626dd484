package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
