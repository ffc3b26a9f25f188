package org.apache.spark

/** Test access to the package-private listener bus: a spec that counts
  * jobs or stages with a `SparkListener` drains the bus before it reads
  * its counters, since events are delivered asynchronously.
  */
object GraftTestAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
