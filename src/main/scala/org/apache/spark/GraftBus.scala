package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`. [[drain]] blocks until
  * the bus has delivered every queued event, the boundary that makes a
  * listener's reset/snapshot window exact; it throws if the bus does not
  * empty within Spark's 10 s wait. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
