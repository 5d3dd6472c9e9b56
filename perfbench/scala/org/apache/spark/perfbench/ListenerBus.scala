package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the traced run drains it
  * at every phase boundary so that each phase's counters hold exactly the
  * events its own jobs posted.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
