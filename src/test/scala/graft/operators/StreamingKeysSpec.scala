package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec, Tables}

/** Stream == batch for the streaming keys no other spec runs, each against
  * its batch DataFrame rendition, and the session-conf contract every
  * streaming key shares: what a key pins for its run reads back as before. */
class StreamingKeysSpec extends SparkSpec {

  /** Row multiset: a stream may emit in any order, never a different bag. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  private def assertSameBag(stream: DataFrame, batch: DataFrame): Unit = {
    val (s, b) = (bag(stream), bag(batch))
    assert(b.nonEmpty, "fixture must produce rows")
    assert(s == b, s"missing=${(b.toSet -- s.toSet).take(3)} extra=${(s.toSet -- b.toSet).take(3)}")
  }

  private def events = Tables(spark, sf).events

  test("streaming_points_by_type equals the batch grouped sum") {
    assertSameBag(
      RefPipeline.streamingPointsByType(spark, sf)
        .select("event_type", "total_points", "n"),
      events.groupBy("event_type")
        .agg(round(sum("value"), 4).as("total_points"), count(lit(1)).as("n")))
  }

  test("streaming_dedup equals the batch distinct-user count") {
    assertSameBag(
      RefPipeline.streamingDistinctUsers(spark, sf).select("event_type", "n_users"),
      events.groupBy("event_type").agg(countDistinct("user_id").as("n_users")))
  }

  test("streaming_backfill_cutover equals the whole-range batch aggregation") {
    assertSameBag(
      RefPipeline.mvBackfillCutover(spark, sf).select("day", "event_type", "total", "n"),
      events.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(round(sum("value"), 4).as("total"), count(lit(1)).as("n")))
  }

  test("streaming_interval_join equals the batch interval join") {
    val p = events.where(col("event_type") === "purchase").as("p")
    val s = events.where(col("event_type") === "signup").as("s")
    val batch = p.join(s, col("p.user_id") === col("s.user_id") &&
        col("p.ts") >= col("s.ts") && col("p.ts") <= col("s.ts") + expr("interval 7 days"))
      .select(col("p.event_id").as("purchase_id"), col("p.user_id").as("user_id"),
        round(col("p.value"), 4).as("value"),
        unix_micros(col("s.ts")).as("signup_us"), unix_micros(col("p.ts")).as("purchase_us"))
    assertSameBag(
      RefPipeline.streamingIntervalJoin(spark, sf)
        .select("purchase_id", "user_id", "value", "signup_us", "purchase_us"),
      batch)
  }

  test("the foreachBatch keys keep their streaming checkpoint in their own scratch dir") {
    // a query started without a checkpointLocation makes a Spark temp dir
    // outside GraftSession.scratchDir's sweep; these two name their own
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def cutoverDirs = tmp.listFiles().filter(_.getName.startsWith("graft-mv-cutover")).toSet
    val before = cutoverDirs
    RefPipeline.mvBackfillCutover(spark, sf).count()
    val made = cutoverDirs -- before
    assert(made.size == 1, s"one scratch dir per run: $made")
    def committed(ckpt: java.io.File) =
      Option(new java.io.File(ckpt, "commits").list()).exists(_.nonEmpty)
    assert(committed(new java.io.File(made.head, "ckpt")),
      s"no committed checkpoint under ${made.head}")
    RefPipeline.streamingReplacingMerge(spark, sf).count()
    val root = RefPipeline.lastReplacingMergeStateRoot
    assert(committed(new java.io.File(root, "ckpt")), s"no committed checkpoint under $root")
  }

  test("the nine streaming keys restore every session conf they pin") {
    val keys = SparkEntry.keys.filter(_.name.startsWith("streaming_"))
    assert(keys.size == 9, keys.map(_.name))
    // nanosAsLong is the one conf a key may leave changed: Tables.events
    // sets it for the rest of the session too
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val pinned = Set("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
      "spark.sql.streaming.stateStore.providerClass", changelog)
    val setBefore = spark.conf.getAll.keySet - nanos
    def readBack = (pinned ++ setBefore).toSeq.map(k => k -> spark.conf.getOption(k)).toMap
    val before = readBack
    assert(before(changelog).isEmpty, "the RocksDB changelog key starts unset")
    keys.foreach { k =>
      k.run(spark, sf).count()
      val changed = readBack.toSet diff before.toSet
      assert(changed.isEmpty, s"${k.name} left $changed")
      val added = spark.conf.getAll.keySet - nanos -- setBefore
      assert(added.subsetOf(pinned), s"${k.name} set ${added -- pinned}")
    }
  }
}
