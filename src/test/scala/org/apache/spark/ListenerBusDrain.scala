package org.apache.spark

/** Waits until every listener event posted so far has been delivered
  * (`SparkContext.listenerBus` is `private[spark]`).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
