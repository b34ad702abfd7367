package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.sources.EventsSource
import graft.streaming.{EventPipeline, ParquetUpsertSink}

/** `stream`: the paper's chain as one Structured Streaming query — NDJSON
  * files → `EventsSource.fileStream` → `EventPipeline.typed` →
  * `hourlyCounts` → `EventPipeline.toSink` — first draining a backlog,
  * then fed live by open-loop file writes; finally a client reads the
  * sink table and queries the chain's ClickHouse-dialect catalog. The
  * phases run one after another so that none of them competes with
  * another for the cores. */
final class Stream(ctx: Ctx) extends Workload {
  import Stream._

  /** The read phase's ad-hoc statements, over the Step-2..4 catalog
    * built at set-up from the seeded Kafka wire. */
  private val adhoc = new Adhoc(ctx, Adhoc.sourceStatements)

  private val backlog = new File(ctx.dataDir, "stream/backlog").listFiles().filter(_.isFile).sortBy(_.getName)
  private val live = new File(ctx.dataDir, "stream/live").listFiles().filter(_.isFile).sortBy(_.getName)
  private val streamRoot = new File(ctx.workDir, "stream")
  private var round = 0

  private final case class Dirs(src: File, ckpt: File, sink: File)

  private def dirs(tag: String): Dirs = {
    round += 1
    val base = new File(streamRoot, s"$tag-$round")
    val d = Dirs(new File(base, "src"), new File(base, "ckpt"), new File(base, "sink"))
    d.src.mkdirs()
    d
  }

  /** Places input files into a source directory: hard links where the
    * file system allows, copies otherwise. */
  private def place(files: Seq[File], dir: File): Unit = files.foreach { f =>
    val dst = new File(dir, f.getName).toPath
    try Files.createLink(dst, f.toPath)
    catch { case _: Exception => Files.copy(f.toPath, dst) }
  }

  private def start(d: Dirs, layer: LayerClock): StreamingQuery = {
    implicit val spark: SparkSession = ctx.spark
    ctx.span("streaming", "query") {
      val b0 = System.nanoTime()
      val raw = ctx.span("sources", "EventsSource.fileStream")(EventsSource.fileStream(spark, d.src.getAbsolutePath))
      val writer = ctx.span("operators", "EventPipeline") {
        EventPipeline.toSink(EventPipeline.hourlyCounts(EventPipeline.typed(raw)), d.sink.getAbsolutePath)
      }
      if (layer != null) layer.build += (System.nanoTime() - b0) / 1e6
      writer.option("checkpointLocation", d.ckpt.getAbsolutePath).start()
    }
  }

  /** The sink's current state: (bucket ms, event type) -> (n, total). */
  private def readSink(d: Dirs): Map[(Long, String), (Long, Double)] =
    ctx.span("client", "ParquetUpsertSink.read") {
      ParquetUpsertSink.read(ctx.spark, d.sink.getAbsolutePath, KeyCols).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("bucket").getTime, r.getAs[String]("event_type")) ->
          (r.getAs[Long]("n"), r.getAs[Double]("total_value"))).toMap
    }

  private def expectedRows(liveFiles: Int): Map[(Long, String), (Long, Double)] = {
    val acc = mutable.Map.empty[(Long, String), (Long, Double)]
    def add(rows: com.fasterxml.jackson.databind.JsonNode): Unit = rows.elements().asScala.foreach { x =>
      val k = (x.get(0).asLong, x.get(1).asText)
      val (n, s) = acc.getOrElse(k, (0L, 0.0))
      acc(k) = (n + x.get(2).asLong, s + x.get(3).asDouble)
    }
    val e = ctx.expected.get("stream")
    add(e.get("backlog"))
    (0 until liveFiles).foreach(i => add(e.get("live").get(i)))
    acc.toMap
  }

  private def matches(got: Map[(Long, String), (Long, Double)],
      want: Map[(Long, String), (Long, Double)]): Boolean =
    got.size == want.size && got.forall { case (k, (n, s)) =>
      want.get(k).exists { case (wn, ws) => wn == n && Adhoc.close(s, ws) }
    }

  /** The read phase's catalog and its warm-up queries. The streaming query
    * is first started by `prime`; every measured drain starts its own. */
  def setup(): Unit = adhoc.setup()

  /** One unmeasured drain of the whole backlog and one round of the
    * ad-hoc statements (JIT warm-up). */
  override def prime(out: Outcome): Unit = {
    adhoc.prime(out)
    val d = dirs("prime")
    place(backlog.toSeq, d.src)
    val q = start(d, null)
    try {
      q.processAllAvailable()
      out.attempt("prime_drain")(matches(readSink(d), expectedRows(0)))
    } finally q.stop()
  }

  def measure(out: Outcome, layer: LayerClock): Unit = {
    val t0 = System.nanoTime()
    val backlogEvents = ctx.expected.get("stream").get("backlog_events").asLong
    val wantBacklog = expectedRows(0)
    var q: StreamingQuery = null
    var d: Dirs = null
    // drains: at least MinDrains, more while they fit in DrainShare of the window
    var i = 0
    while (i < MinDrains || (System.nanoTime() - t0) / 1e9 + out.units.last <= DrainShare * ctx.seconds) {
      i += 1
      if (q != null) q.stop()
      d = dirs("drain")
      place(backlog.toSeq, d.src)
      val s0 = System.nanoTime()
      q = start(d, layer)
      q.processAllAvailable()
      out.units += (System.nanoTime() - s0) / 1e9
      val r0 = System.nanoTime()
      out.attempt(s"drain$i")(matches(readSink(d), wantBacklog))
      out.queryMs += (System.nanoTime() - r0) / 1e6
    }
    out.events = backlogEvents.toDouble
    val drainBatches = q.recentProgress.map(_.batchId).maxOption.getOrElse(-1L)

    // live phase: open loop, file k is written when it is due, at LiveFilesPerSecond
    val liveS = math.max(MinLiveSeconds, LiveEnd * ctx.seconds - (System.nanoTime() - t0) / 1e9)
    val nLive = math.min(live.length, math.round(liveS * LiveFilesPerSecond).toInt)
    val startMs = System.currentTimeMillis() + 50
    val dueMs = Array.tabulate(nLive)(k => startMs + math.round(k * 1000.0 / LiveFilesPerSecond))
    val wroteMs = new Array[Long](nLive)
    for (k <- 0 until nLive) {
      val wait = dueMs(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      // write under a hidden name, then rename: the source never sees a partial file
      val tmp = new File(d.src, s".${live(k).getName}.tmp").toPath
      Files.copy(live(k).toPath, tmp)
      Files.move(tmp, new File(d.src, live(k).getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      wroteMs(k) = System.currentTimeMillis()
    }
    q.processAllAvailable()
    val progress = q.recentProgress.filter(_.batchId > drainBatches).sortBy(_.batchId)
    q.stop()
    val wantFinal = expectedRows(nLive)

    // reads: for the rest of the window (at least MinReadRounds rounds) one
    // closed-loop client reads the finished sink table, then runs the
    // ad-hoc statements; every result is checked
    val r0 = System.nanoTime()
    var reads = 0
    var rounds = 0
    while (rounds < MinReadRounds || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val q0 = System.nanoTime()
      out.attempt("sink_read")(matches(readSink(d), wantFinal))
      out.queryMs += (System.nanoTime() - q0) / 1e6
      Adhoc.sourceStatements.foreach(st => adhoc.run(st, out, layer))
      reads += 1 + Adhoc.sourceStatements.size
      rounds += 1
    }
    out.queriesPerS = reads / ((System.nanoTime() - r0) / 1e9)

    // freshness: from when file k was due to the end of the batch that committed it
    val perFile = ctx.expected.get("stream").get("live_file_events").asLong
    val commitEnd = new Array[Long](nLive)
    var committed = 0L
    var maxLag = 0
    progress.foreach { p =>
      val before = (committed / perFile).toInt
      committed += p.numInputRows
      val after = math.min(nLive, (committed / perFile).toInt)
      val end = batchEndMs(p)
      (before until after).foreach(k => commitEnd(k) = end)
      maxLag = math.max(maxLag, wroteMs.count(w => w > 0 && w <= end) - after)
    }
    if (commitEnd.exists(_ == 0L)) out.fail("live files missing from the batch progress")
    else out.freshMs ++= (0 until nLive).map(k => (commitEnd(k) - dueMs(k)).toDouble)
    out.operations = progress.length + reads + i
    out.layer("sources.wire_rows") = (i * backlogEvents + committed).toDouble
    out.layer("streaming.source_lag_files") = maxLag.toDouble
    out.layer("streaming.generator_late_ms") =
      (0 until nLive).map(k => (wroteMs(k) - dueMs(k)).toDouble).maxOption.getOrElse(0.0)
  }
}

object Stream {
  val KeyCols: Seq[String] = Seq("bucket", "event_type")
  /** Backlog drains take at least this many runs and up to this share of
    * the window; events_per_s and makespan_s are their median. */
  val MinDrains = 3
  val DrainShare = 0.5
  /** Open-loop live rate: files (of `live_file_events` events each) per
    * second — far below the drain capacity measured on a 4-core host. */
  val LiveFilesPerSecond = 20.0
  val MinLiveSeconds = 6.0
  /** The live phase ends at this share of the window; reads fill the rest. */
  val LiveEnd = 0.6
  val MinReadRounds = 2

  def batchEndMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** streaming.* per-layer metrics over every data-carrying micro-batch. */
  def layerMetrics(progress: Seq[StreamingQueryProgress], sinkWritesMs: Seq[Double]): Seq[(String, Double)] = {
    val data = progress.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val state = progress.flatMap(_.stateOperators.headOption)
    Seq(
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_p50_ms" -> Stats.pct(data.map(dur(_, "triggerExecution")), 0.5),
      "streaming.trigger_p90_ms" -> Stats.pct(data.map(dur(_, "triggerExecution")), 0.9),
      "streaming.add_batch_ms" -> Stats.mean(data.map(dur(_, "addBatch"))),
      "streaming.latest_offset_ms" -> Stats.mean(data.map(dur(_, "latestOffset"))),
      "streaming.query_planning_ms" -> Stats.mean(data.map(dur(_, "queryPlanning"))),
      "streaming.wal_commit_ms" -> Stats.mean(data.map(dur(_, "walCommit"))),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_mem_mb" -> state.map(_.memoryUsedBytes / (1024.0 * 1024.0)).maxOption.getOrElse(0.0),
      "streaming.state_commit_ms" -> Stats.mean(state.map(_.commitTimeMs.toDouble)),
      "streaming.sink_write_ms" -> Stats.mean(sinkWritesMs))
  }
}
