package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.sources.EventsSource

class ParquetUpsertSinkSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("replaying a batchId is a no-op: the partition is overwritten, never duplicated") {
    import spark.implicits._
    val path = tmp("graft-upsert")
    val b5 = Seq(("click", 3L), ("buy", 1L)).toDF("event_type", "n")
    ParquetUpsertSink.writeBatch(b5, 5L, path)
    // crash-replay: the SAME batch lands again under the SAME id
    ParquetUpsertSink.writeBatch(b5, 5L, path)
    val afterReplay = ParquetUpsertSink.read(spark, path, Seq("event_type"))
    assert(afterReplay.count() == 2L, "replay must not duplicate keys")
    assert(afterReplay.filter($"event_type" === "click").head.getAs[Long]("n") == 3L)

    // a later batch refines one key; latest batch wins on read
    ParquetUpsertSink.writeBatch(Seq(("click", 7L)).toDF("event_type", "n"), 6L, path)
    val state = ParquetUpsertSink.read(spark, path, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == Map("click" -> 7L, "buy" -> 1L))
  }

  test("the newest batch wins by batch number, not by its name as a string") {
    import spark.implicits._
    val path = tmp("graft-upsert-order")
    ParquetUpsertSink.writeBatch(Seq(("click", 9L)).toDF("event_type", "n"), 9L, path)
    ParquetUpsertSink.writeBatch(Seq(("click", 10L)).toDF("event_type", "n"), 10L, path)
    val got = ParquetUpsertSink.read(spark, path, Seq("event_type")).collect()
    assert(got.map(r => r.getString(0) -> r.getLong(1)).toSeq == Seq("click" -> 10L))
  }

  test("a read takes its schema from a footer: the inferred schema, no inference job") {
    import spark.implicits._
    val path = tmp("graft-upsert-schema")
    val frame = Seq(("click", 3L, Option(1.5)), ("buy", 1L, None))
      .toDF("event_type", "n", "total")
      .withColumn("n", col("n") + 0L) // a non-nullable long, as count() gives
    ParquetUpsertSink.writeBatch(frame, 0L, path)
    ParquetUpsertSink.writeBatch(frame.limit(1), 1L, path)
    assert(new java.io.File(path, "batch=0").listFiles().count(_.getName.endsWith(".parquet")) == 1,
      "one file per batch")
    val inferred = spark.read.parquet(path).drop("batch").schema
    val sc = spark.sparkContext
    val (jobs, marker, markerSeen) = (new AtomicInteger, "upsert-read-marker", new AtomicBoolean)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.set(true)
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val read = try {
      val r = ParquetUpsertSink.read(spark, path, Seq("event_type"))
      // the listener bus delivers in order: once the marker job is seen,
      // every job the read launched has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen.get && System.nanoTime() < deadline) Thread.sleep(10)
      r
    } finally sc.removeSparkListener(listener)
    assert(markerSeen.get, "the marker job never reached the listener")
    assert(jobs.get == 0, "building the read must launch no Spark job")
    assert(read.schema == inferred, s"${read.schema} vs $inferred")
    assert(read.collect().map(_.getString(0)).sorted.toSeq == Seq("buy", "click"))
  }

  test("attach runs one micro-batch per drain: the same sink, the caller's conf untouched") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val inDir = tmp("graft-lean-in")

    def line(id: Long, t: Long, typ: String): String =
      s"""{"event_id": $id, "timestamp": $t, "user_id": 1, "event_type": "$typ", "value": 1.0, "props": "{}"}"""
    def hourly: DataFrame =
      EventPipeline.hourlyCounts(EventPipeline.typed(EventsSource.fileStream(spark, inDir)))

    /** Drains what `inDir` holds to the end, through `attach` or through a
      * plain update-mode foreachBatch on the caller's session. */
    def drain(viaAttach: Boolean, out: String, chk: String): Seq[StreamingQueryProgress] = {
      val w =
        if (viaAttach) ParquetUpsertSink.attach(hourly, out)
        else hourly.writeStream.outputMode(OutputMode.Update())
          .foreachBatch((b: DataFrame, id: Long) => ParquetUpsertSink.writeBatch(b, id, out))
      val q = w.option("checkpointLocation", chk).trigger(Trigger.AvailableNow()).start()
      assert(spark.conf.get(key) == "true", "start() must leave the caller's conf as it was")
      try q.awaitTermination() finally q.stop()
      q.recentProgress.toSeq
    }

    val (leanOut, leanChk, fullOut, fullChk) =
      (tmp("graft-lean-out"), tmp("graft-lean-chk"), tmp("graft-full-out"), tmp("graft-full-chk"))
    // the query runs on a clone of the session; the caller's listeners still see it
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, java.util.UUID)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        events.add("started" -> e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add("progress" -> e.progress.runId)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        events.add("terminated" -> e.runId)
    }
    spark.streams.addListener(listener)
    spark.conf.set(key, "true")
    try {
      val t0 = 1700000000000L
      var (lean, full) = (Seq.empty[StreamingQueryProgress], Seq.empty[StreamingQueryProgress])
      // two drains; the second moves the watermark past the first hour,
      // whose state a no-data batch would evict
      Seq(Seq(line(1, t0, "click"), line(2, t0 + 1000, "buy")),
          Seq(line(3, t0 + 7200000, "click"), line(4, t0 + 7201000, "click"))).zipWithIndex
        .foreach { case (lines, i) =>
          Files.write(new java.io.File(inDir, s"$i.ndjson").toPath,
            lines.mkString("\n").getBytes("utf-8"))
          lean ++= drain(viaAttach = true, leanOut, leanChk)
          full ++= drain(viaAttach = false, fullOut, fullChk)
        }
      assert(lean.nonEmpty && lean.forall(_.numInputRows > 0),
        s"a drain through attach ran a no-data batch: ${lean.map(_.numInputRows)}")
      assert(full.exists(_.numInputRows == 0), "the control must run a no-data batch")
      val keys = Seq("bucket", "event_type")
      def state(path: String) = ParquetUpsertSink.read(spark, path, keys).collect().toSet
      assert(state(leanOut) == state(fullOut))
      assert(state(leanOut).size == 3)

      spark.sparkContext.parallelize(Seq(1), 1).count() // let the listener bus catch up
      val deadline = System.nanoTime() + 30e9.toLong
      val leanRuns = lean.map(_.runId).toSet
      def seen(kind: String) = events.toArray.toSeq
        .collect { case (k: String, id: java.util.UUID) if k == kind && leanRuns(id) => id }
      while (seen("terminated").size < leanRuns.size && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen("started").size == leanRuns.size && seen("terminated").size == leanRuns.size)
      assert(seen("progress").size == lean.size, "each progress report reaches the caller once")
    } finally {
      spark.conf.unset(key)
      spark.streams.removeListener(listener)
    }
  }

  test("kill + restart from checkpoint continues the aggregation without duplicates") {
    val inDir = tmp("graft-in")
    val outDir = tmp("graft-out")
    val chkDir = tmp("graft-chk")

    def line(id: Long, t: Long, typ: String, v: Double): String =
      s"""{"event_id": $id, "timestamp": $t, "user_id": ${id % 5}, "event_type": "$typ", "value": $v, "props": "{}"}"""

    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(new java.io.File(inDir, name).toPath, lines.mkString("\n").getBytes("utf-8"))

    def counts = EventsSource.fileStream(spark, inDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))

    def start() = ParquetUpsertSink.attach(counts, outDir)
      .option("checkpointLocation", chkDir).start()

    writeFile("a.ndjson", Seq(
      line(1, 1700000000000L, "click", 1.0), line(2, 1700000001000L, "click", 2.0),
      line(3, 1700000002000L, "buy", 10.0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // the stream is DOWN; more data arrives; a new query resumes from the
    // same checkpoint (same aggregation state, next batchId)
    writeFile("b.ndjson", Seq(
      line(4, 1700000003000L, "click", 4.0), line(5, 1700000004000L, "refund", 1.5)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val state = ParquetUpsertSink.read(spark, outDir, Seq("event_type"))
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Double]("total"))).toSet
    assert(state == Set(("click", 3L, 7.0), ("buy", 1L, 10.0), ("refund", 1L, 1.5)),
      s"restart must refine, not duplicate; got $state")
    // exactly one surviving row per key even though click was emitted twice
    val resolved = ParquetUpsertSink.read(spark, outDir, Seq("event_type"))
    assert(resolved.groupBy("event_type").count().filter(col("count") > 1).isEmpty)
  }
}
