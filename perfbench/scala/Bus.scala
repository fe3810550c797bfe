package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait for the listener bus to deliver every event
  * before it reads its listeners (the wait is Spark-internal). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
