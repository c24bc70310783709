package org.apache.spark

/** Lives in `org.apache.spark` only to reach the `private[spark]` listener
  * bus: span totals are read after every queued listener event has been
  * delivered, so no job, stage or task of the measured work is missed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
