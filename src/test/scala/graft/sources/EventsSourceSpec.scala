package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class EventsSourceSpec extends SparkSpec {

  test("NDJSON file stream parses into typed events (the kcat -> topic flow)") {
    val dir = Files.createTempDirectory("graft-events").toFile
    val lines = Seq(
      """{"event_id": 1, "timestamp": 1700000000000, "user_id": 7, "event_type": "click", "value": 1.5, "props": "{\"k\": 1}"}""",
      """{"event_id": 2, "timestamp": 1700000060000, "user_id": 8, "event_type": "buy", "value": 9.99, "props": "{\"k\": 2}"}""")
    Files.write(new java.io.File(dir, "part-0.ndjson").toPath,
      lines.mkString("\n").getBytes("utf-8"))

    val q = EventsSource.fileStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("typed_events")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("typed_events").orderBy("event_id").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("event_id") == 1L)
      assert(rows(0).getAs[java.sql.Timestamp]("ts").getTime == 1700000000000L)
      assert(rows(1).getAs[String]("event_type") == "buy")
      assert(rows(1).getAs[Double]("value") == 9.99)
    } finally q.stop()
  }

  test("malformed lines surface as null-field rows, not stream failure") {
    import spark.implicits._
    val parsed = EventsSource.parse(Seq("not json at all").toDF("message"))
    val r = parsed.collect()
    assert(r.length == 1)
    assert(r.head.isNullAt(r.head.fieldIndex("event_id")))
  }

  test("the file stream gives parse's rows: a null-field row per malformed line, none per blank line") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-events-bad").toFile
    val lines = Seq(
      """{"event_id": 1, "timestamp": 1700000000000, "user_id": 7, "event_type": "click", "value": 1.5, "props": "{}"}""",
      "not json at all",
      "",
      """{"event_id": 2, "timestamp": 1700000060000, "user_id": 8, "event_type": "buy", "value": 9.99, "props": "{}"}""")
    Files.write(new java.io.File(dir, "part-0.ndjson").toPath, lines.mkString("\n").getBytes("utf-8"))

    val q = EventsSource.fileStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("typed_events_bad")
      .outputMode(OutputMode.Append()).start()
    val streamed = try {
      q.processAllAvailable()
      spark.table("typed_events_bad").collect().toSeq
    } finally q.stop()
    val parsed = EventsSource.parse(lines.toDF("message")).collect().toSeq
    def bag(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val nullRow = Seq.fill(6)(null)
    // the JSON reader skips the blank line; from_json("") gives a null row
    assert(bag(parsed) == bag(streamed).updated(nullRow, 2))
    assert(bag(streamed)(nullRow) == 1)
    assert(streamed.size == 3)
  }

  test("foreachBatch sink lands the hourly aggregate stream in the parquet table") {
    import graft.streaming.EventPipeline
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sinkDir = Files.createTempDirectory("graft-sink").toFile.getAbsolutePath
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventPipeline.RawEvent]
    val q = EventPipeline.toSink(
      EventPipeline.hourlyCounts(EventPipeline.typed(input.toDF())), sinkDir).start()
    try {
      input.addData(EventPipeline.RawEvent(1, new java.sql.Timestamp(1700000000000L), 1, "click", 1.0, "{}"))
      q.processAllAvailable()
      val state = graft.streaming.ParquetUpsertSink.read(spark, sinkDir, Seq("bucket", "event_type"))
      assert(state.count() == 1L)
      assert(state.head.getAs[Long]("n") == 1L)
    } finally q.stop()
  }
}
