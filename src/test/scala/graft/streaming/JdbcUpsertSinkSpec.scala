package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class JdbcUpsertSinkSpec extends SparkSpec {
  import EventPipeline.RawEvent

  private def freshUrl(): String = {
    val db = java.nio.file.Files.createTempDirectory("graft-derby-test").resolve("db")
    s"jdbc:derby:$db;create=true"
  }

  private def ev(id: Long, sec: Long, user: Long, typ: String, value: Double): RawEvent =
    RawEvent(id, new Timestamp(sec * 1000), user, typ, value, s"""{"k": $id}""")

  test("keyed upsert is idempotent on replay and updates in place") {
    import spark.implicits._
    val url = freshUrl()
    val b1 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    JdbcUpsertSink.ensureTable(url, "t", b1.schema)
    JdbcUpsertSink.upsertBatch(b1, url, "t", Seq("k"))
    JdbcUpsertSink.upsertBatch(b1, url, "t", Seq("k")) // replayed batch: no-op
    val b2 = Seq(("a", 10L), ("c", 3L)).toDF("k", "v")
    JdbcUpsertSink.upsertBatch(b2, url, "t", Seq("k")) // later batch refines a key
    val got = JdbcUpsertSink.read(spark, url, "t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 10L, "b" -> 2L, "c" -> 3L))
  }

  test("streaming foreachBatch maintains the aggregate in the database") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = freshUrl()
    val input = MemoryStream[RawEvent]
    val agg = EventPipeline.typed(input.toDF())
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    JdbcUpsertSink.ensureTable(url, "pts", agg.schema)
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "true")
    val q = JdbcUpsertSink.attach(agg, url, "pts", Seq("event_type")).start()
    try {
      assert(spark.conf.get(key) == "true", "attach must leave the caller's conf as it was")
      input.addData(ev(1, 1000, 1, "click", 1.0), ev(2, 1010, 2, "click", 2.0))
      q.processAllAvailable()
      // update mode refines the click row in place, adds the buy row
      input.addData(ev(3, 1020, 1, "click", 4.0), ev(4, 1030, 3, "buy", 9.0))
      q.processAllAvailable()
      val got = JdbcUpsertSink.read(spark, url, "pts").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == Map("click" -> ((3L, 7.0)), "buy" -> ((1L, 9.0))), s"got $got")
    } finally {
      q.stop()
      spark.conf.unset(key)
    }
  }

  test("embedded-Derby URL classification behind the local-mode guard") {
    // file-path (in-JVM) forms: local-mode-only, the guard must fire on a
    // cluster master for these
    assert(JdbcUpsertSink.isEmbeddedDerby("jdbc:derby:/tmp/db;create=true"))
    assert(JdbcUpsertSink.isEmbeddedDerby("jdbc:derby:memory:db"))
    // network forms and other drivers: allowed anywhere
    assert(!JdbcUpsertSink.isEmbeddedDerby("jdbc:derby://dbhost:1527/db"))
    assert(!JdbcUpsertSink.isEmbeddedDerby("jdbc:derby:net:dbhost:1527/db"))
    assert(!JdbcUpsertSink.isEmbeddedDerby("jdbc:postgresql://host/db"))
  }
}
