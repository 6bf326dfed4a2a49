package org.apache.spark

/** The listener bus is `private[spark]`; the harness needs to wait for it
  * to deliver every queued event before it reads what its listeners
  * recorded, so that each operation's events are attributed to it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
