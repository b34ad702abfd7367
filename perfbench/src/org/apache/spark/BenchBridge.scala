package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * posted event, so that a traced window closes on complete counts. The
  * bus is `private[spark]`; this file sits in the package only to pass
  * that access check. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
