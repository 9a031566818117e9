package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The benchmark's listener receives Spark events asynchronously;
  * before it reads its counters the bus must have delivered every
  * event posted so far. `waitUntilEmpty` is Spark-internal, hence
  * this bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
