package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * The listener bus is private to Spark; counts read before it drains
  * miss the jobs and tasks that ended last. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
