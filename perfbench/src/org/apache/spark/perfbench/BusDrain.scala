package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Wait until every listener event posted so far has been delivered, so
  * a traced window's numbers are complete before they are read. The
  * listener bus is Spark-internal, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
