package org.apache.spark

/** The one package-private Spark call the benchmark needs: listener
  * events are delivered asynchronously, so a traced run drains the bus
  * before it reads what its listeners recorded.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
