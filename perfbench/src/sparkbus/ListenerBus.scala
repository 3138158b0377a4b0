package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark keeps package-private.
  * A traced run drains the bus after each operation (outside the timed
  * interval) so every listener event of that operation has been delivered
  * before the next one starts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
