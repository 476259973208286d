package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for queued listener events before it reads its counts.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
