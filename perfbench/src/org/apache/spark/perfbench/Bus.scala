package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is Spark-internal; the benchmark needs it so a
  * trace is read only after every posted event reached its listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
