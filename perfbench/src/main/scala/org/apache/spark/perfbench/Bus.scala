package org.apache.spark.perfbench

/** The listener bus is private to Spark; the benchmark only needs to
  * wait until every event posted so far has reached its listener. */
object Bus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
