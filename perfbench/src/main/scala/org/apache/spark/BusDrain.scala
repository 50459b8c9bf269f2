package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a probe read right after an action sees that action's jobs. The
  * listener bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
