package org.apache.spark

/** Test access to the `private[spark]` listener bus: specs that count jobs
  * drain it so every job-start event of a finished action has been
  * delivered before they read their counters. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
