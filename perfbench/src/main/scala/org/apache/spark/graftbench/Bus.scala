package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the benchmark needs it so
  * that every event of a traced pass is counted before the pass is read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
