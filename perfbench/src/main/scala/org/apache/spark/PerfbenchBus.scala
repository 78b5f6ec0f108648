package org.apache.spark

/** The listener bus's drain call is package-private; the traced run needs it
  * so that every job, stage and query event of an op has been delivered
  * before the op's span is closed and attributed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
