package org.apache.spark

/** The one engine internal the benchmark needs: block until every
  * queued listener event has been delivered, so stage counters read
  * right after an action include all of its tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
