package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

/** Spark keeps its listener list and the bus drain package-private; the
  * traced run needs them to install its listener check-then-add and to read
  * task metrics only after every event of a job has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def hasListener(sc: SparkContext, l: SparkListenerInterface): Boolean =
    sc.listenerBus.listeners.contains(l)
}
