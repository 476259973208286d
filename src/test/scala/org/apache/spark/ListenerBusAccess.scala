package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private: a
  * spec that counts stages with a SparkListener waits for the queued
  * events before it reads its counts.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
