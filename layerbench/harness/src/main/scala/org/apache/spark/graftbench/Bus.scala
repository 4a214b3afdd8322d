package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, which is visible only inside the
  * `org.apache.spark` package. A traced run drains after every phase so
  * that each listener event is attributed to the phase that caused it and
  * no count is read while events are still queued.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
