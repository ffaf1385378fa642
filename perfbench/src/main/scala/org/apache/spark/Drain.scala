package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's view is complete before it is read (the wait is Spark-private).
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
