package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `waitUntilEmpty` is `private[spark]`; this forwarder in the spark
  * namespace lets the benchmark's listener see every event posted so far
  * before it reads its tallies. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
