package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private. */
object ListenerBusDrain {

  /** Block until every event posted so far has reached its listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
