package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches Spark's listener bus, which is private to the `spark` package,
  * so a traced run can wait until every event of an op has been seen. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
