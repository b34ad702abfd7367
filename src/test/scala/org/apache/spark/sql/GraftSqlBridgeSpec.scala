package org.apache.spark.sql

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** In Spark's package: the shared listener bus is `private[spark]`. */
class GraftSqlBridgeSpec extends SparkSpec {

  test("a cloned session leaves no listener bus of its own on the shared bus") {
    val shared = spark.sparkContext.listenerBus
    def buses = shared.findListenersByClass[StreamingQueryListenerBus]().size
    spark.streams // the caller's own bus
    val before = buses
    val clone = GraftSqlBridge.cloneSession(spark)
    assert(clone.streams.listListeners().length == 1, "only the forwarding listener")
    assert(buses == before)
  }
}
