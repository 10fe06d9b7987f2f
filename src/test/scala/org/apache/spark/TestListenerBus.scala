package org.apache.spark

/** Test access to the listener bus (package-private to Spark): blocks
  * until every event posted so far has reached the listeners, so a
  * listener's counts read after an action are complete.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
