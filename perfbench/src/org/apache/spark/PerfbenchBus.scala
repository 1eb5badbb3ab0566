package org.apache.spark

/** The listener bus's drain call is package-private to Spark; the
  * benchmark needs it so every job, stage and progress event of a run
  * is delivered before the trace is summarized. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
