package org.apache.spark

/** Blocks until every queued listener event is delivered, so a count a
  * `SparkListener` keeps is complete once the action that ran the jobs
  * returns (the bus delivers asynchronously; its flush is
  * package-private). */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
