package org.apache.spark

/** Lets the benchmark wait until its listeners have seen every event of the
  * actions it just ran; the listener bus is private to Spark. */
object WhbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
