package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it so that counters read at a phase boundary include every finished
  * stage.
  */
object RagbenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
