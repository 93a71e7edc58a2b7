package org.apache.spark

/** Test access to the listener bus: blocks until every posted event has
  * reached every listener, so a spec can read counts a listener keeps.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
