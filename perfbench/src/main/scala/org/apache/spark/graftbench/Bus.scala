package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every event posted so far has reached the listeners, so
    * counts read afterwards include the late asynchronous events of the
    * last op instead of leaking them into the next one.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
