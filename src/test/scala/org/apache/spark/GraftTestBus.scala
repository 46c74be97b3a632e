package org.apache.spark

/** Drains the listener bus (`private[spark]`), so a test counting jobs
  * through a listener has seen every event of the action it just ran. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
