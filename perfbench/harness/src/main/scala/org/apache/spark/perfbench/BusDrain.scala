package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so
  * far, so a traced operation's jobs, stages and tasks are all recorded
  * before they are read. The bus is private to Spark; this package sits
  * inside it only to reach `waitUntilEmpty`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
