package org.apache.spark

/** Read-only access to two `private[spark]` runtime facilities the
  * benchmark's tracer needs: draining the listener bus before it reads the
  * recorded events, and the driver's code-generation compile-time histogram.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compilations so far, the compile times in ms the histogram's
    * reservoir holds). */
  def codegenCompiles(): (Long, Seq[Long]) = {
    val h = metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.toSeq)
  }
}
