package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private. */
object TestBus {

  /** Block until every event posted so far has reached the listeners, so
    * a test reads complete task counts and query-execution callbacks.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
