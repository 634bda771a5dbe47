package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus barrier for the traced run: every event posted so far has
  * been delivered once this returns, so the events a traced unit caused
  * can be attributed to it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
