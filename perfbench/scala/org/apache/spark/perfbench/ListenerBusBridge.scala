package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark read listener-fed counters only after every event of
  * the actions it timed has been delivered (the listener bus is
  * asynchronous and its drain call is `private[spark]`). */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
