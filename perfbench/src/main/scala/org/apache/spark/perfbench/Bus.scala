package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus drain, which is `private[spark]`:
  * listener events arrive asynchronously, so an op's counters are read
  * only after every event it caused has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
