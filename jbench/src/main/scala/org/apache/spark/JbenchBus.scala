package org.apache.spark

/** The listener bus is internal to Spark; a traced run must see every
  * event of the jobs it ran before it totals the per-span counters.
  */
object JbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
