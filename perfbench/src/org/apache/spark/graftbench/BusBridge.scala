package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lives in the org.apache.spark package to reach the `private[spark]`
  * listener bus: the benchmark drains it at each span end so every
  * listener event of that span has been delivered before it is read. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
