package org.apache.spark

/** The one `private[spark]` member the traced run needs: draining the
  * listener bus at a span boundary, so every job, stage and task that
  * ran inside the span is counted before the span's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
