package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so that per-unit counters are read after the unit's own
  * events have arrived. `listenerBus` is package-private to Spark. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
