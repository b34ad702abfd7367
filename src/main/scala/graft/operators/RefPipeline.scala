package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import graft.{GraftSession, Tables}
import graft.streaming.{EventPipeline, ParquetUpsertSink}

/** Spark-first re-expression of the reference's Kafka → ClickHouse pipeline
  * (anelook/apache-kafka-clickhouse-demo, README.rst Steps 2-4).
  *
  * The reference ingests JSON-as-string events, extracts typed columns in a
  * materialized view (README.rst:~120 `JSONExtractString` /
  * `fromUnixTimestamp64Milli`), aggregates per (timestamp, subject) into
  * `class_attendance_granular` (Step 3), and pre-aggregates daily
  * min/max/avg via `SummingMergeTree` + `maxState`/`maxMerge` (Step 4).
  *
  * Here each stage is a declarative DataFrame transform. Spark gives the
  * SummingMergeTree behavior for free: `groupBy.agg` always runs a partial
  * (map-side) aggregation before the shuffle — the `*State` / `*Merge`
  * split is exactly Catalyst's partial/final HashAggregate pair, visible in
  * `.explain()`. The streaming twin (continuous MV maintenance) lives in
  * [[graft.streaming.EventPipeline]].
  */
object RefPipeline {

  /** Step-2 analog: JSON-as-string extraction → typed projection.
    * `get_json_object` is the `JSONExtractUInt(message, 'k')` analog; the
    * whole projection is codegen'd, no UDFs. */
  def ingestEventsTyped(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events.select(
      col("event_id"),
      to_date(col("ts")).as("event_date"),
      col("user_id"),
      col("event_type"),
      round(col("value"), 4).as("value"),
      get_json_object(col("props"), "$.k").cast("long").as("prop_k"))

  /** `SELECT count(*) FROM student_entry_events` (README.rst Step 2.4). */
  def eventsCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events.agg(count(lit(1)).as("n"))

  /** `SELECT student.house, sum(points) GROUP BY student.house` analog
    * (README.rst Step 2.4): one shuffle on the group key, partial agg
    * map-side. */
  def pointsByType(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy("event_type")
      .agg(round(sum("value"), 4).as("total_points"), count(lit(1)).as("n"))

  /** Step-3 analog (`class_attendance_granular`): event count per
    * (time bucket, category). Hour buckets instead of raw timestamps —
    * at 100 TB a raw-timestamp key has ~no grouping benefit and the
    * reference's own Step 4 immediately re-buckets to days. */
  def attendanceGranular(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(
        to_date(col("ts")).as("day"),
        hour(col("ts")).cast("long").as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Step-4 analog (`class_attendance_daily` SummingMergeTree): daily
    * min/max/avg over the granular counts. Two chained aggregations; both
    * run partial+final HashAggregate — the literal Spark equivalent of
    * `maxState`/`maxMerge`. */
  def attendanceDaily(spark: SparkSession, dir: String): DataFrame =
    attendanceGranular(spark, dir)
      .groupBy("day", "event_type")
      .agg(
        max("n").as("max_n"),
        min("n").as("min_n"),
        round(avg("n"), 4).as("avg_n"))

  /** `ORDER BY timestamp DESC LIMIT 1` (README.rst Step 3.2). A global
    * top-1 is a TakeOrderedAndProject — per-partition top-1 then a driver
    * merge of one row per partition; no full sort at any scale. */
  def latestEvent(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(1)
      .select("event_id", "user_id", "event_type")

  // ---- Bounded-stream scaffolding: the nine streaming_* keys ----
  //
  // SERIAL-ONLY contract: a key pins session-wide confs for its run
  // ([[withConfs]], restored after) and its memory sink has one fixed view
  // name, so concurrent invocations on one session — or a concurrent query
  // reading the same view — would interfere. The bench/verify/spec
  // harnesses are all serial per session by design.

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Streaming state partitions are sized to STATE VOLUME, not core count:
    * each stateful operator materializes one state store per shuffle
    * partition, with a checkpoint+fsync per batch — at 32 partitions a plan
    * with two stateful operators pays 64 stores of fixed overhead for a few
    * thousand keys. 8 keeps the same result (hash partitioning only moves
    * keys) at a quarter of the store cost; a production deployment raises
    * it with its actual key cardinality. */
  private val StatePartitions = ShufflePartitions -> "8"

  /** Runs `body` with each conf set, then puts every key back as it was:
    * a key that was set gets its old value, a key that was unset is unset
    * again. */
  private def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs a bounded stream to its end: an AvailableNow trigger processes
    * everything the source holds at start (in as many micro-batches as the
    * source's per-trigger cap asks), then the query stops — the form in
    * which a stream is checkable against its batch rendition. */
  private def runToEnd(writer: DataStreamWriter[_]): Unit =
    writer.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Runs `df` to its end into the in-memory table `sink` under output
    * `mode`, and returns the table. The view is dropped first, so a shared
    * session may re-run the key. */
  private def memoryTable(df: DataFrame, sink: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    spark.catalog.dropTempView(sink)
    runToEnd(df.writeStream.format("memory").queryName(sink).outputMode(mode))
    spark.table(sink)
  }

  /** A parquet file stream over `glob` (file streams need an explicit
    * schema). `basePath` is the directory the files sit in. A single file
    * must be spelled as a one-character glob (`events.[p]arquet`):
    * FileStreamSource force-sets basePath := path for NON-glob paths
    * (clobbering the option), and batch resolution then rejects a file
    * basePath; the glob skips the override and lets the directory through.
    * `filesPerBatch` > 0 caps the files one micro-batch takes; the source
    * takes files oldest mtime first. */
  private def parquetStream(spark: SparkSession, schema: StructType, basePath: String,
      glob: String, filesPerBatch: Int = 0): DataFrame = {
    val reader = spark.readStream.schema(schema).option("basePath", basePath)
    (if (filesPerBatch > 0) reader.option("maxFilesPerTrigger", filesPerBatch.toString)
     else reader).parquet(glob)
  }

  /** [[parquetStream]] over the top-level data files of a stage dir
    * written by [[stageParts]]. */
  private def stagedStream(spark: SparkSession, schema: StructType, stage: Path,
      filesPerBatch: Int): DataFrame =
    parquetStream(spark, schema, stage.toString, s"$stage/*.[p]arquet", filesPerBatch)

  /** The raw footer schema of `dir/events.parquet`. Its `ts` is parquet
    * TIMESTAMP(NANOS), which Spark reads only as a long, under nanosAsLong
    * (set here, as [[Tables.events]] sets it). */
  private def eventsSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet").schema
  }

  /** The events table as a file stream — the stand-in for the Kafka source
    * ([[graft.sources.EventsSource.kafkaStream]]; the connector jar is
    * unavailable offline) — with the batch reader's `ts` rebuild. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    Tables.withMicrosTs(
      parquetStream(spark, eventsSchema(spark, dir), dir, s"$dir/events.[p]arquet"))

  /** Stages `df` into `stage` for a file stream, as `files` parquet parts
    * named `name_000.parquet`, `name_001.parquet`, …, all with mtime
    * `mtimeMs`. The file source takes files oldest mtime first, so
    * distinct mtimes order staged groups into micro-batches. The parts are
    * written into a build dir and then moved up, so the stage's top level
    * holds only finished data files. `pad` copies the first part until the
    * group holds `files` files; it suits sentinel groups only, since each
    * copy repeats the part's rows. */
  private def stageParts(stage: Path, df: DataFrame, name: String, files: Int,
      mtimeMs: Long, pad: Boolean = false): Unit = {
    val build = stage.resolve(s"build_$name")
    // one part needs no shuffle; a group spreads its write over `files` tasks
    (if (files == 1) df.coalesce(1) else df.repartition(files))
      .write.mode("overwrite").parquet(build.toString)
    val parts = {
      val ls = Files.list(build)
      try ls.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
      finally ls.close()
    }
    def dest(i: Int) = stage.resolve(f"${name}_$i%03d.parquet")
    val n = if (pad) files max parts.size else parts.size
    parts.zipWithIndex.foreach { case (part, i) => Files.move(part, dest(i)) }
    (parts.size until n).foreach(i => Files.copy(dest(0), dest(i)))
    (0 until n).foreach(i => Files.setLastModifiedTime(dest(i), FileTime.fromMillis(mtimeMs)))
  }

  /** 2030-01-01 in epoch nanos: far past every corpus event. */
  private val Sentinel2030Nanos = 1893456000000000000L

  /** One far-future SENTINEL event in the raw footer schema: read after the
    * corpus, it advances the watermark past every real event, so append
    * mode emits what the corpus left open. Its user id is Long.MinValue,
    * unambiguous at any corpus (a real corpus could legitimately use -1 or
    * NULL, which must flow through like batch). `ts` follows
    * [[Tables.withMicrosTs]]'s schema guard: nanos long in this layout, a
    * native timestamp if the corpus is ever rewritten with one. */
  private def sentinelEvent(spark: SparkSession, schema: StructType, tsNanos: Long): DataFrame =
    spark.range(1).select(schema.fields.toIndexedSeq.map { f =>
      (f.name, f.dataType) match {
        case ("ts", LongType) => lit(tsNanos).as("ts")
        case ("ts", _) => lit(new java.sql.Timestamp(tsNanos / 1000000L)).as("ts")
        case ("user_id", LongType) => lit(Long.MinValue).as("user_id")
        case ("value", DoubleType) => lit(0.0d).as("value")
        case (n, dt) => lit(null).cast(dt).as(n)
      }
    }: _*)

  /** The reference's core story — a STREAM maintaining the MV aggregate
    * (README.rst Step 1-2: kcat → Kafka topic → engine table → MV) — as a
    * driver-checkable query: the events file streams through the typed
    * projection into the grouped-sum MV (the [[pointsByType]] cascade) via
    * Structured Streaming with an AvailableNow trigger, lands in an
    * in-memory sink table, and the finished table is returned. The oracle
    * is the BATCH equivalent — the exactly-once contract in one line: a
    * stream that processes all available input must equal the batch query.
    *
    * Scale shape: the streaming aggregation keeps one state row per group
    * (5 event types) and runs partial aggregation per micro-batch; the file
    * source is the Kafka stand-in ([[eventsStream]]). */
  def streamingPointsByType(spark: SparkSession, dir: String): DataFrame =
    memoryTable(eventsStream(spark, dir)
      .groupBy("event_type")
      .agg(round(sum("value"), 4).as("total_points"), count(lit(1)).as("n")),
      "graft_streaming_points", "complete")

  /** Streaming dedup-on-ingest as a CHECKED key: the stateful
    * `dropDuplicates` operator — the streaming half of the dedup family,
    * what a training-data pipeline runs while CONSUMING a firehose rather
    * than over data at rest. Events stream from the file source (the Kafka
    * stand-in, as in [[streamingPointsByType]]), are deduplicated on the
    * (user_id, event_type) key by streaming state, and roll up to distinct
    * users per type; the oracle is the batch `count(DISTINCT user_id)` —
    * equality IS the proof that streaming state dropped exactly the
    * re-occurrences.
    *
    * Scale shape: dedup state is hash-partitioned by key across the
    * cluster (one shuffle), counts partial-aggregate above it. This
    * bounded AvailableNow run keeps all key state; an unbounded production
    * stream caps state with `withWatermark` +
    * `dropDuplicatesWithinWatermark` on the event-time column — same
    * plan, state trimmed to the lateness horizon. */
  def streamingDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val users = eventsStream(spark, dir)
      .select("user_id", "event_type")
      // oracle parity: count(DISTINCT user_id) ignores NULL keys, but the
      // dedup state would keep a NULL user as one key and count it —
      // exclude it explicitly (a no-op on the generated corpus)
      .filter(col("user_id").isNotNull)
      .dropDuplicates("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
    // two stateful operators (dedup + agg), one state store each per partition
    withConfs(spark, StatePartitions)(memoryTable(users, "graft_streaming_dedup", "complete"))
  }

  /** Continuous top-k serving (`streaming_topk`) — the dashboard pattern
    * every streaming analytics stack ships: a watermarkable windowed
    * aggregation maintained by the STREAM (hourly event counts per type,
    * complete-mode state), with the top-k rank computed by the SERVING
    * query over the maintained state — rank is not incrementally
    * maintainable, so production splits exactly here (the aggregation is
    * the materialized view, the rank is the reader; the reference
    * engine's MV + `LIMIT n BY` reader is the same split).
    *
    * Scale shape: streaming state = (hours × types) rows, partitions
    * sized to state volume ([[StatePartitions]]); the
    * serving rank runs on the bounded-heap TopKPerKey rewrite (constant
    * k per window, never a full sort). The hour key is exposed as epoch
    * SECONDS (`unix_timestamp` of the window start — exact integer,
    * engine-portable: the `q_session_window` contract). Oracle = the
    * batch rendition of the same aggregate + rank; equality proves the
    * streamed state converged to the batch answer. */
  def streamingTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val hourly = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    withConfs(spark, StatePartitions)(memoryTable(hourly, "graft_streaming_topk", "complete"))
      .select(unix_timestamp(col("w.start")).as("hour_s"), col("event_type"), col("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("hour_s").orderBy(col("n").desc, col("event_type"))))
      .where(col("rn") <= k)
      .orderBy(col("hour_s"), col("rn"))
      .select(col("hour_s"), col("event_type"), col("n"),
        col("rn").cast("long").as("rn"))
  }

  /** Per-document input to [[streamingReservoir]] (public: the streaming
    * encoder's generated code needs a visible constructor). */
  final case class RsvIn(lang: String, doc_id: Long, n_chars: Long, priority: Long)
  /** One reservoir member. */
  final case class RsvDoc(doc_id: Long, n_chars: Long, priority: Long)
  /** Per-stratum state: the top k+1 members sorted best-first along the
    * batch rank order (priority desc, doc_id asc) — the bounded heap,
    * never more than k+1 rows per stratum regardless of stream length. */
  final case class RsvState(n_seen: Long, items: Seq[RsvDoc])
  final case class RsvOutDoc(doc_id: Long, n_chars: Long, priority: Long, w_est: Long)
  final case class RsvOut(lang: String, n_seen: Long, docs: Seq[RsvOutDoc])

  /** Continuous stratified reservoir (`streaming_reservoir`) — the
    * streaming sibling of [[Pipeline.reservoir]], the one LLM-pipeline
    * sampling primitive whose continuous form was missing: a firehose
    * consumer that maintains, per language stratum, the SAME
    * Duffield–Lund–Thorup priority sample the batch key takes over data
    * at rest (JACM 54(6) 2007; the quantized-priority contract lives in
    * [[Pipeline.reservoirCore]]'s scaladoc — [[Pipeline
    * .ReservoirPriorityExpr]] is shared verbatim, so both siblings flip
    * identical coins). Documents stream from the file source (the Kafka
    * stand-in, as in [[streamingDistinctUsers]]); `mapGroupsWithState`
    * holds the k+1 bounded heap per stratum — each batch folds its rows
    * into the heap in O(rows·log k), state never exceeds k+1 members —
    * and emits the stratum's current sample with the (k+1)-th priority as
    * the DLT threshold τ and the `max(w, τ)` subset-sum estimates (a ≤ k
    * stratum has no τ → 0 → the exact-report convention).
    *
    * The oracle is the batch rendition ([[Pipeline.reservoir]]'s SQL,
    * reused verbatim — the `streaming_topk` batch-equality pattern):
    * priorities are deterministic, DLT's top-k is order-insensitive, so
    * streamed state must converge to the batch sample row-for-row, and
    * the equality IS the proof the heap admitted and evicted exactly
    * right across micro-batch boundaries.
    *
    * Scale shape: one narrow streaming scan; state is hash-partitioned
    * by stratum across the cluster (one shuffle) at k+1 rows per stratum
    * — nothing grows with the stream. Emission is per-batch (Update
    * mode); the serving read keeps each stratum's LATEST emission
    * (n_seen strictly increases per batch a stratum appears in), the
    * same maintained-state/serving-query split as [[streamingTopK]]. */
  def streamingReservoir(spark: SparkSession, dir: String,
      k: Int = Pipeline.ReservoirK): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    streamingReservoirFrom(spark, s"$dir/documents.[p]arquet", dir, schema, k)
  }

  /** [[streamingReservoir]] over any parquet glob — split out so the spec
    * can feed a MULTI-file fixture (one micro-batch per file under
    * `maxFilesPerTrigger=1`) and prove the heap's admit/evict survives
    * batch boundaries, which the single-file driver table exercises only
    * as one batch. Serial-only, like every streaming key (the
    * bounded-stream scaffolding note). */
  private[graft] def streamingReservoirFrom(spark: SparkSession, glob: String,
      basePath: String, schema: StructType, k: Int): DataFrame = {
    import spark.implicits._
    // best-first = the batch rank order; the PQ dequeues the MAX under
    // its ordering, so ordering by (-priority, doc_id) makes the head
    // the reservoir's current WORST member — the one k+1 admission tests
    val best = Ordering.by[RsvDoc, (Long, Long)](d => (-d.priority, d.doc_id))
    val sample = parquetStream(spark, schema, basePath, glob, filesPerBatch = 1)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        expr(Pipeline.ReservoirPriorityExpr).as("priority"))
      .as[RsvIn]
      .groupByKey(_.lang)
      .mapGroupsWithState[RsvState, RsvOut](GroupStateTimeout.NoTimeout) {
        (lang, docs, state) =>
          val st = state.getOption.getOrElse(RsvState(0L, Seq.empty))
          val heap = collection.mutable.PriorityQueue.empty[RsvDoc](best)
          st.items.foreach(heap.enqueue(_))
          var seen = st.n_seen
          docs.foreach { d =>
            seen += 1
            val cand = RsvDoc(d.doc_id, d.n_chars, d.priority)
            if (heap.size <= k) heap.enqueue(cand) // hold k+1, the τ slot
            else if (best.lt(cand, heap.head)) { // beats the worst member
              heap.dequeue(); heap.enqueue(cand)
            }
          }
          // dequeueAll drains worst-first under `best`; reverse to rank order
          val items = heap.dequeueAll.reverse.toSeq
          state.update(RsvState(seen, items))
          val tau = if (items.size == k + 1) items(k).priority else 0L
          RsvOut(lang, seen, items.take(k).map(d =>
            RsvOutDoc(d.doc_id, d.n_chars, d.priority, math.max(d.n_chars, tau))))
      }
    // a handful of strata: one state store per partition
    withConfs(spark, StatePartitions)(
      memoryTable(sample.toDF(), "graft_streaming_reservoir", "update"))
      .withColumn("mx", max("n_seen").over(Window.partitionBy("lang")))
      .where(col("n_seen") === col("mx"))
      .select(col("lang"), explode(col("docs")).as("d"))
      .select(col("lang"), col("d.doc_id").as("doc_id"),
        col("d.n_chars").as("n_chars"), col("d.priority").as("priority"),
        col("d.w_est").as("w_est"))
  }

  /** README.rst Step 3's MV backfill + cutover trick as a CHECKED key —
    * the reference's cleverest move: the materialized view is created with
    * `WHERE timestamp >= <future cutover>`, so the MV owns every row that
    * arrives AFTER the cutover; history is then backfilled with a one-time
    * `INSERT ... SELECT ... WHERE timestamp < cutover`. The two writers'
    * responsibilities are DISJOINT by the cutover predicate, so the union
    * is exactly-once by construction — no dedup, no transaction
    * coordination between the stream and the backfill.
    *
    * Spark rendition: the streaming half runs the per-(day, type) count MV
    * over `ts >= cutover` through the replay-proven [[graft.streaming
    * .ParquetUpsertSink]] (batch-overwrite idempotence — a crash/replay
    * rewrites the same `batch=` directory); the batch half aggregates
    * `ts < cutover` directly; the result is the sink read-back unioned
    * with the backfill. The aggregation key includes the day, and the
    * cutover is a day boundary, so no output row ever mixes the halves.
    * Oracle = the whole-range batch aggregation — the equality IS the
    * exactly-once backfill contract in one line.
    *
    * Scale shape: both halves are ordinary partial-aggregated shuffles;
    * the sink's per-key state is bounded by (days x types). At 100 TB the
    * backfill is a one-time batch job over the historical partition range
    * while the stream only ever holds post-cutover state — exactly why
    * the reference invented the trick. */
  def mvBackfillCutover(spark: SparkSession, dir: String): DataFrame = {
    val cutover = lit("2024-01-16").cast("date")
    val sink = GraftSession.scratchDir("graft-mv-cutover").resolve("mv").toString
    val mv = eventsStream(spark, dir)
      .filter(to_date(col("ts")) >= cutover) // the MV's future-timestamp WHERE
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(round(sum("value"), 4).as("total"), count(lit(1)).as("n"))
    // state volume: days x types ≈ 75 keys
    withConfs(spark, StatePartitions)(runToEnd(ParquetUpsertSink.attach(mv, sink)))
    // Zero batches written (possible when no row lands past the cutover):
    // the read-back would die on schema inference — the MV half is then
    // legitimately empty, with the MV's own schema.
    val wroteBatches = Option(new java.io.File(sink).listFiles())
      .exists(_.exists(f => f.isDirectory && f.getName.startsWith("batch=")))
    val mvHalf =
      if (wroteBatches)
        ParquetUpsertSink
          .read(spark, sink, Seq("day", "event_type"))
          .select("day", "event_type", "total", "n")
      else
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(
            mv.schema.filter(f => Seq("day", "event_type", "total", "n").contains(f.name))))
    val backfill = Tables(spark, dir).events // the one-time backfill INSERT
      .filter(to_date(col("ts")) < cutover)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(round(sum("value"), 4).as("total"), count(lit(1)).as("n"))
    mvHalf.unionByName(backfill)
  }

  /** The "JDBC sink" north star as a CHECKED key: the grouped-sum MV is
    * upserted TWICE (the second apply is a replay — idempotence is what
    * the oracle equality proves) into an embedded-Derby table through
    * [[graft.streaming.JdbcUpsertSink]], then read back through Spark's
    * JDBC source. Oracle = the batch aggregation: a keyed MERGE replayed
    * over the same batch must land exactly the batch result. */
  private val jdbcInvocation = new java.util.concurrent.atomic.AtomicLong

  def jdbcPointsRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.JdbcUpsertSink
    // Phase timers to stderr: the r7 probe showed ~8.5 s of NON-task driver
    // time here; the per-invocation `create=true` Derby database (catalog
    // construction) was the cost. The shared per-JVM database + per-call
    // DROP/CREATE of just the table keeps the invocation at table-DDL cost.
    val sb = new StringBuilder("[jdbc_sink_roundtrip]")
    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      sb.append(s" $name=${(System.nanoTime() - t0) / 1000000}ms"); r
    }
    val url = JdbcUpsertSink.sharedEmbeddedUrl
    // UNIQUE table per invocation: a previous call's lazily-evaluated
    // result frame may still read ITS table later in the session, so a
    // shared name with DROP/CREATE would be the eager deletion the
    // TempSweep doc forbids. Tables die with the temp-dir database at
    // JVM exit; each holds a handful of rows.
    val table = s"points_${jdbcInvocation.incrementAndGet()}"
    val agg = pointsByType(spark, dir)
    phase("boot")(java.sql.DriverManager.getConnection(url).close())
    phase("ddl")(JdbcUpsertSink.ensureTable(url, table, agg.schema))
    phase("upsert1")(JdbcUpsertSink.upsertBatch(agg, url, table, Seq("event_type")))
    phase("upsert2")(JdbcUpsertSink.upsertBatch(agg, url, table, Seq("event_type")))
    val out = phase("read_plan")(JdbcUpsertSink.read(spark, url, table))
    System.err.println(sb)
    out.select(col("EVENT_TYPE").as("event_type"),
      col("TOTAL_POINTS").as("total_points"), col("N").as("n"))
  }

  /** Spark's BUILT-IN `session_window` aggregation over the same 30-min
    * gap — the declarative sibling of [[sessionize]]'s hand-rolled
    * lag+cumsum and the streaming `flatMapGroupsWithState` operator. The
    * planner compiles this to partial session buffers merged after one
    * user_id shuffle (UpdatingSessionsExec + MergingSessionsExec) — no
    * window function, no sort-based running sum — and the same expression
    * works unchanged on a stream with a watermark, where the hand-rolled
    * variant cannot run at all (Round8Spec RUNS this, asserting closed
    * stream sessions equal the batch frame). Window semantics, verified
    * empirically in Round8Spec: an event at EXACTLY last_ts + gap still
    * MERGES (touching windows coalesce — the split rule is `> gap`,
    * agreeing with [[sessionize]]'s lag formulation; an earlier round
    * documented `>=` here and in the oracle, which only passed because
    * the data had no exact-gap collision). The event time is quantized
    * to whole seconds BEFORE the window (as [[sessionize]] quantizes for
    * its gap rule) so the oracle can replay the split rule on exact
    * BIGINT arithmetic rather than racing float epoch precision.
    *
    * Scale shape: one shuffle on the session key, sessions merged per
    * partition — state bounded by open sessions per user, the exact shape
    * Structured Streaming runs with a state store. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    sessionWindowCore(Tables(spark, dir).events
      .select(col("user_id"), col("value"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("t")))

  /** The aggregation itself, shared VERBATIM between the batch key above
    * and the watermarked-stream rendition (Round8Spec runs this exact
    * function over a MemoryStream and asserts closed sessions equal the
    * batch result) — the "runs unchanged on a stream" claim is this
    * function, not a paraphrase. Input: (user_id, value, t timestamp). */
  private[graft] def sessionWindowCore(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("t"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("total_value"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("start_s"),
        unix_timestamp(col("w.end")).as("end_s"),
        col("n_events"), col("total_value"))

  /** The "runs unchanged on a stream" claim as a CHECKED key: the SAME
    * [[sessionWindowCore]] aggregation the batch key compiles, executed
    * over a watermarked FILE STREAM (the Kafka stand-in, as in
    * [[streamingPointsByType]]), against the SAME batch oracle — equality
    * proves streaming session state merged/closed exactly the batch
    * sessions.
    *
    * Append mode only emits a session once the watermark passes its end,
    * and a bounded AvailableNow run ends with the watermark at the last
    * REAL event — so the input is staged into a temp dir as two files:
    * the corpus, then one far-future [[sentinelEvent]] (year 2030,
    * explicitly later mtime). `maxFilesPerTrigger=1` + oldest-first
    * file order makes the corpus set the session state in batch 1, the
    * sentinel advance the watermark in batch 2, and the trailing no-data
    * batch flush every real session; the sentinel's own still-open
    * session is the only row filtered out.
    *
    * Scale shape: identical to the batch key — one shuffle on the session
    * key, state bounded by open sessions per user (the watermark is what
    * BOUNDS it on an unbounded stream, where the batch rendition would
    * hold all sessions). */
  def streamingSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsSchema(spark, dir)
    val stage = GraftSession.scratchDir("graft-stream-sessions")
    val corpus = Paths.get(s"$dir/events.parquet")
    Files.copy(corpus, stage.resolve("events.parquet"))
    // the sentinel's mtime is strictly later, so it can never be read
    // before the corpus (which would advance the watermark first and drop
    // every event as late)
    stageParts(stage, sentinelEvent(spark, schema, Sentinel2030Nanos), "zz_flush",
      files = 1, System.currentTimeMillis() + 60000)
    val events = Tables.withMicrosTs(stagedStream(spark, schema, stage, filesPerBatch = 1))
      .select(col("user_id"), col("value"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("t"))
      .withWatermark("t", "1 second")
    // state volume here scales with the corpus (sessions stay open until
    // the sentinel closes them), so the partition count scales with the
    // corpus file size between the 8-partition floor (small state;
    // per-store overhead would dominate) and the core count (r12: a fixed
    // 8 made each sf5 store carry ~600k sessions on one task — wall and GC
    // both paid for it). The input side gets a smaller split target for
    // the same reason: the corpus is staged as ONE parquet file, and the
    // default 128 MB split would hand batch 1's whole scan to a single
    // task.
    val cores = spark.sparkContext.defaultParallelism.toLong
    val stateParts = math.max(8L, math.min(cores, Files.size(corpus) / (4L << 20)))
    // PARQUET sink, not the memory sink (r12): closed sessions scale
    // with the corpus (most events are their own session on this event
    // cadence), and the memory sink collects every emitted row onto the
    // driver heap — at sf5 that was millions of session rows and the
    // measured GC majority of this key. The file sink keeps the result
    // distributed; the returned frame is a plain scan of it.
    val outDir = stage.resolve("sessions_out")
    withConfs(spark,
      ShufflePartitions -> stateParts.toString,
      "spark.sql.files.maxPartitionBytes" -> (8L << 20).toString,
      // RocksDB state store (bundled with Spark): session state here is
      // corpus-sized (most events are their own session until the
      // sentinel closes them), and the default heap-map store made GC the
      // largest single cost of this key at sf5 — off-heap state is
      // exactly what the provider knob exists for, and what a production
      // deployment of a corpus-sized session job would run
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // changelog checkpointing: commit = the batch's delta, not a full
      // SST snapshot per store per batch — the right durability/latency
      // trade for a 3-batch bounded replay and the production default
      // for large state
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") {
      runToEnd(sessionWindowCore(events) // THE claim: the identical function
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", stage.resolve("sessions_ckpt").toString)
        .outputMode("append"))
    }
    // drop EXACTLY the sentinel's (never-closed, but defensive) session —
    // null-safe so NULL-user sessions flow through like the batch key
    spark.read.parquet(outDir.toString)
      .filter(!(col("user_id") <=> lit(Long.MinValue)))
  }

  /** Stream-stream interval join as a CHECKED key
    * (`streaming_interval_join`): the IDENTICAL
    * [[graft.streaming.EventPipeline.purchaseAttribution]] the streaming
    * spec replays — every purchase attributed to the same user's signups
    * within the preceding 7 days, both sides watermarked so the join
    * state can evict — executed over the file stream (the Kafka stand-in,
    * as in [[streamingPointsByType]]) and checked against the BATCH
    * interval join as the oracle. Inner stream-stream joins emit matches
    * as soon as a micro-batch produces them (no watermark wait, so no
    * sentinel staging is needed — the watermark's only job here is state
    * EVICTION), which means an AvailableNow pass over all input must
    * yield exactly the batch join: stream == batch is checked, not
    * claimed.
    *
    * Scale shape: each side shuffles once on user_id; buffered state is
    * bounded by the 7-day attribution window plus the 1-hour lateness
    * allowance — the inherent floor of the semantics, the thing an
    * unbounded batch join over a growing log can never promise.
    * Timestamps leave as exact epoch micros (the oracle convention). */
  def streamingIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val joined = EventPipeline
      .purchaseAttribution(EventPipeline.typed(eventsStream(spark, dir)))
      .select(col("purchase_id"), col("user_id"),
        round(col("value"), 4).as("value"),
        unix_micros(col("signup_ts")).as("signup_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
    withConfs(spark, StatePartitions)(
      memoryTable(joined, "graft_streaming_interval_join", "append"))
  }

  /** Watermark late-data semantics as a CHECKED key
    * (`streaming_late_data`) — the OTHER half of the exactly-once story:
    * [[streamingPointsByType]] proves a stream that sees everything
    * equals the batch query; this key proves a stream that sees data TOO
    * LATE deterministically DROPS it. The reference engine hits the same
    * problem with its future-timestamp cutover; Structured Streaming's
    * answer is the watermark, and this key makes that answer part of the
    * checked surface instead of prose.
    *
    * Staging (the [[streamingSessionWindow]] mtime pattern, generalized
    * to FILE GROUPS in r12 — `maxFilesPerTrigger = groupFiles` with each
    * slice staged as groupFiles parallel-written parts): batch 1 = the
    * ON-TIME corpus (every event with `event_id % 50 != 0`), batches 2–3
    * = TWO far-future sentinel groups that advance the watermark to
    * ~2030, batch 4 = the LATE slice (`event_id % 50 == 0`). Spark's
    * drop rule is WINDOW-level:
    * a late row is discarded iff the watermark has passed its window's
    * END (rows for a still-open window are admitted however old) — and
    * the watermark a batch OBSERVES lags the data that produced it by a
    * batch. One sentinel batch is therefore not enough: the late batch
    * would still see the corpus-derived watermark, under which the
    * corpus's LAST day is still open, and exactly that day's late rows
    * would leak in (measured — 6 rows at sf0.01 before the second
    * sentinel existed). With two sentinel batches the late batch
    * provably observes the 2030 watermark, every 2024 window is closed,
    * and the whole slice drops. The oracle REPLAYS the rule in batch
    * (`WHERE event_id % 50 <> 0`); equality proves lateness is
    * deterministic, not racy.
    *
    * Scale shape: one watermarked windowed aggregation — state bounded
    * by open windows (days × types), partitions sized to state volume;
    * the drop itself is a map-side filter against the watermark, free at
    * any scale. The sentinel's own still-open window never emits in
    * append mode; the guard filter is defensive only. */
  def streamingLateData(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsSchema(spark, dir)
    val stage = GraftSession.scratchDir("graft-stream-late")
    val raw0 = spark.read.schema(schema).parquet(s"$dir/events.parquet")
    val now = System.currentTimeMillis()
    // STAGED IN PARALLEL (r12): the corpus slice used to be coalesce(1)'d
    // into ONE file — a single-task parquet write of the whole corpus
    // (the measured bulk of this key's sf5 wall), and a single-split
    // batch-1 scan after it. Each slice now writes `groupFiles`
    // partitions and maxFilesPerTrigger = groupFiles, so a BATCH is a
    // FILE GROUP: writes parallelize, batch 1 scans groupFiles splits,
    // and the batch structure the semantics need is kept by mtime
    // ordering (group k's files are all strictly older than group
    // k+1's). The watermark argument tolerates ragged group boundaries:
    // a batch's rows are judged against the watermark of the PREVIOUS
    // batch, and by mtime order every batch containing late-slice files
    // runs after both full sentinel groups are consumed — so the late
    // slice always observes the 2030 watermark even if a group spills
    // into the next batch (fewer-than-groupFiles part files at tiny sf).
    val groupFiles = 8
    // sentinel groups are PADDED to exactly groupFiles: a sentinel group
    // of >= groupFiles files ends strictly before the batch that first
    // contains a late file, because the indices differ by groupFiles + 1
    // — so the late slice always observes the sentinel watermark, never
    // the corpus one
    def group(df: DataFrame, name: String, mtimeOffsetMs: Long, pad: Boolean = false): Unit =
      stageParts(stage, df, name, groupFiles, now + mtimeOffsetMs, pad)
    group(raw0.filter(col("event_id") % 50 =!= 0), "a_ontime", 0L)
    group(sentinelEvent(spark, schema, Sentinel2030Nanos), "b_flush1", 60000L, pad = true)
    group(sentinelEvent(spark, schema, Sentinel2030Nanos + 3600000000000L), // +1 h
      "c_flush2", 90000L, pad = true)
    group(raw0.filter(col("event_id") % 50 === 0), "d_late", 120000L)
    val agg = Tables.withMicrosTs(stagedStream(spark, schema, stage, groupFiles))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_cents"))
      .select(to_date(col("window.start")).as("day"), col("event_type"),
        col("n_events"), col("sum_cents"))
    // defensive: the sentinel's window stays open and never emits, but a
    // changed flush policy must not silently add a 2030 row
    withConfs(spark, StatePartitions)(memoryTable(agg, "graft_streaming_late", "append"))
      .filter(col("day") < lit("2029-01-01").cast("date"))
  }

  /** Streaming CDC upsert compaction as a CHECKED key
    * (`streaming_replacing_merge`) — the reference's core production
    * pattern, Kafka → ReplacingMergeTree, end to end: a version stream
    * arrives in micro-batches (base rows first, version-2 updates in a
    * later batch — staged as two parquet files with ordered mtimes,
    * `maxFilesPerTrigger=1`, AvailableNow), and `foreachBatch` folds each
    * batch into a persisted state table with the IDENTICAL
    * [[Warehouse.versionWinsCollapse]] the batch key runs — shared code,
    * shared oracle, so stream == batch is checked, not claimed. The merge
    * is associative and commutative (distinct versions per key), so ANY
    * batch split of the stream converges to the same table; the replayed
    * batch id makes the fold idempotent the same way the JDBC sink's
    * keyed MERGE is.
    *
    * State layout (the 100 TB shape, implemented since r10): the state
    * table is partitioned by `bucket = pmod(o_orderkey, 8)` and each
    * micro-batch rewrites ONLY the buckets its keys touch — a
    * driver-side manifest (`bucket -> directory of its latest
    * generation`, bounded at 8 entries) carries untouched buckets
    * forward BY REFERENCE, exactly Delta/Iceberg's MERGE file-pointer
    * semantics rendered with plain directories plus a manifest map. A
    * batch writes into its own fresh `batch{N}/bucket=B/` dirs (never
    * overwriting a path mid-read — the self-overwrite trap), then the
    * manifest pointer advances per touched bucket. Work per batch =
    * O(batch + state of touched buckets), never O(full state).
    *
    * Since round 11 the BASE generation never rides the stream at all:
    * it is seeded as a plain bucket-partitioned batch write (the
    * warehouse backfill that precedes any real CDC subscription), the
    * manifest starts from the seed layout, and only DELTAS flow through
    * micro-batches — the r10 shape's necessarily-full first batch
    * (stage base → stream base → collapse base against empty state) is
    * gone. The update batch touches only the even buckets (10k mod 8
    * cycles over {0,2,4,6}), so half the state moves zero bytes — the
    * spec asserts exactly that via [[lastReplacingMergeRewrites]]. The
    * COLLAPSE ITSELF is unchanged: one algebraic max_by per touched
    * key, batch-sized not state-sized work on the update side.
    *
    * Every generation (seed and each batch) persists a `manifest.tsv`
    * snapshot of the full pointer map next to its bucket dirs, so the
    * carry-forward state is reconstructable from disk — a restarted job
    * resumes from the newest snapshot ([[reloadReplacingMergeManifest]],
    * spec-exercised) instead of depending on driver memory (r10 advice:
    * the recovery claim previously assumed exactly that). */
  def streamingReplacingMerge(spark: SparkSession, dir: String): DataFrame = {
    val (base, updates) = Warehouse.replacingFrames(spark, dir)
    val stage = GraftSession.scratchDir("graft-stream-cdc")
    // only the delta ever streams
    stageParts(stage, updates, "b_updates", files = 1, System.currentTimeMillis())
    val stateRoot = GraftSession.scratchDir("graft-cdc-state")
    // the manifest: bucket -> path of that bucket's latest generation.
    // Bounded at `buckets` entries; this map IS the carry-forward — an
    // untouched bucket keeps its old pointer and its files never move.
    // It lives ON DISK (one manifest.tsv snapshot per generation): each
    // batch folds against the newest snapshot STRICTLY OLDER than its own
    // id, so a replayed batch n sees pre-n state — never its own previous
    // attempt's dirs (the self-overwrite trap), and never driver memory.
    val buckets = 8
    // seed generation: base is one-version-per-key BY CONSTRUCTION
    // (replacingFrames assigns version = 1), so the backfill needs no
    // collapse pass — one bucket-partitioned write, pointers, snapshot
    base.withColumn("bucket", pmod(col("o_orderkey"), lit(buckets)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(stateRoot.resolve("seed").toString)
    persistManifest(stateRoot.resolve("seed"),
      (0 until buckets).flatMap { b =>
        val d = stateRoot.resolve(s"seed/bucket=$b")
        if (Files.isDirectory(d)) Some(b -> d.toString) else None
      }.toMap)
    val rewrites = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    val fold = stagedStream(spark, base.schema, stage, filesPerBatch = 1).writeStream
      .foreachBatch { (batch: DataFrame, n: Long) =>
        val s = batch.sparkSession
        val bb = batch.withColumn("bucket",
          pmod(col("o_orderkey"), lit(buckets)).cast("int"))
        // touched-bucket list: bounded collect (<= `buckets` rows)
        val touched = bb.select("bucket").distinct().collect()
          .map(_.getInt(0)).toSeq.sorted
        // keyed by batchId: a replayed batch OVERWRITES its own entry
        // instead of appending a duplicate observation
        rewrites.synchronized { rewrites.put(n, touched.size) }
        // pointer source: newest on-disk snapshot older than this batch
        // (n is Spark's OWN batchId, so a checkpoint-recovery replay of
        // batch n reconstructs exactly the state its first attempt saw)
        val ptrs = reloadReplacingMergeManifest(stateRoot.toString, beforeBatch = n)
        // existing state FOR THE TOUCHED BUCKETS ONLY, via the manifest
        val existing = touched.flatMap(b => ptrs.get(b).map(s.read.parquet(_)))
          .reduceOption(_ unionByName _)
          .getOrElse(batch.limit(0))
        val merged = Warehouse.versionWinsCollapse(existing.unionByName(batch))
          .withColumn("bucket", pmod(col("o_orderkey"), lit(buckets)).cast("int"))
        // one fresh dir per (batch, bucket): partitionBy routes rows,
        // and DISTINCT paths mean a replayed batch id is idempotent
        // (it overwrites its own batch{n} dirs and re-persists the same
        // snapshot, computed from the same pre-n pointers)
        merged.write.mode("overwrite").partitionBy("bucket")
          .parquet(stateRoot.resolve(s"batch$n").toString)
        persistManifest(stateRoot.resolve(s"batch$n"),
          ptrs ++ touched.map(b =>
            b -> stateRoot.resolve(s"batch$n/bucket=$b").toString))
        ()
      }
    withConfs(spark, StatePartitions)(runToEnd(fold))
    lastReplacingMergeRewrites = rewrites.toSeq.sortBy(_._1).map(_._2)
    lastReplacingMergeStateRoot = stateRoot.toString
    // assemble the final table from the newest snapshot: each bucket's
    // latest generation, read once — partition-dir reads drop the bucket
    // column (it lives in the dir name), so the schema is the state schema
    reloadReplacingMergeManifest(stateRoot.toString)
      .values.toSeq.sorted.map(spark.read.parquet(_))
      .reduce(_ unionByName _)
  }

  /** Writes the full pointer map as `<genDir>/manifest.tsv` (bucket TAB
    * path, sorted) — the durable form of the carry-forward state. Tiny
    * (<= buckets lines), written once per generation AFTER its bucket
    * dirs are complete and its pointers advanced, so the newest snapshot
    * on disk always describes a fully-materialized state. */
  private def persistManifest(genDir: Path,
      manifest: scala.collection.Map[Int, String]): Unit = {
    val lines = manifest.toSeq.sortBy(_._1)
      .map { case (b, p) => s"$b\t$p" }.mkString("", "\n", "\n")
    Files.write(genDir.resolve("manifest.tsv"),
      lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Reconstructs the pointer map from the NEWEST persisted manifest
    * snapshot under a state root whose generation is < `beforeBatch`
    * (the seed counts as generation -1) — what both the per-batch fold
    * and a restarted job do instead of trusting driver memory.
    * Spec-exercised against [[lastReplacingMergeStateRoot]]. */
  private[graft] def reloadReplacingMergeManifest(stateRoot: String,
      beforeBatch: Long = Long.MaxValue): Map[Int, String] = {
    val root = Paths.get(stateRoot)
    def gen(p: Path): Long = {
      val n = p.getFileName.toString
      if (n == "seed") -1L else n.stripPrefix("batch").toLong
    }
    val gens = {
      val ls = Files.list(root)
      try ls.iterator().asScala.filter(p =>
        Files.exists(p.resolve("manifest.tsv")) &&
          gen(p) < beforeBatch).toSeq
      finally ls.close()
    }
    val newest = gens.maxBy(gen)
    Files.readAllLines(newest.resolve("manifest.tsv")).asScala
      .filter(_.nonEmpty)
      .map { l => val Array(b, p) = l.split("\t", 2); b.toInt -> p }
      .toMap
  }

  /** Touched-bucket count per micro-batch of the LAST
    * [[streamingReplacingMerge]] run — the carry-forward evidence the
    * spec asserts (the base never streams; the single %10 update batch
    * touches only the 4 even buckets). */
  @volatile private[graft] var lastReplacingMergeRewrites: Seq[Int] = Nil

  /** State root of the LAST [[streamingReplacingMerge]] run, for the
    * manifest-recovery spec. */
  @volatile private[graft] var lastReplacingMergeStateRoot: String = ""

  /** Gap-based sessionization (30-min inactivity): the batch twin of the
    * streaming `flatMapGroupsWithState` session operator. One shuffle on
    * user_id (both windows share the partitioning), then a single
    * aggregation. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_timestamp(col("ts")).as("t"))
      .withColumn("gap", col("t") - lag("t", 1).over(w))
      .withColumn("is_new",
        when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("session_no", sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(
        count(lit(1)).as("n_events"),
        min("t").as("start_s"),
        max("t").as("end_s"),
        round(sum("value"), 4).as("total_value"))
  }
}
