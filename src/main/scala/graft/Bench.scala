package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint: runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * A query that throws is recorded under `"errors"` (name -> message) and
  * contributes NOTHING to `"value"` — a failing query must never improve
  * the headline number (it previously recorded its elapsed-until-throw
  * time as a normal timing).
  */
object Bench {
  /** Every key of [[SparkEntry.keys]] in its declared order: the checked
    * keys and the bench-only timing phases. */
  val headline: Seq[String] = SparkEntry.keys.map(_.name)

  /** [[SparkEntry.queries]] plus the bench-only phases, each through the
    * same cache-sweeping wrapper. */
  val benchQueries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    SparkEntry.keys.map(k => k.name -> k.run).toMap

  /** One query's noise evidence, carried in the bench artifact so a reader
    * can tell VM contention from cross-query JVM state without re-running:
    *
    *   - `cpuS`/`runS`: summed on-core vs wall task time from Spark's own
    *     task metrics. A compute-bound query has cpuS ≈ runS; wall-clock
    *     inflation with FLAT cpuS and runS >> cpuS means the JVM sat
    *     off-core — external contention, not a plan regression.
    *   - `gcS`/`spillMB`: the cross-query-state signals — if 45 sequential
    *     queries degrade the JVM, GC and spill climb over the pass.
    *   - `stealS`/`busyS`: /proc/stat machine truth across the query's
    *     window; steal is hypervisor time given to OTHER tenants.
    *   - `blkFiles`/`blkMB`: the block-manager local dir (shuffle files
    *     accumulate until ContextCleaner GC) — monotone growth here that
    *     correlates with slowdowns indicts shuffle-file accumulation.
    */
  final case class QueryProbe(
      tasks: Long, runS: Double, cpuS: Double, gcS: Double,
      shufMB: Double, spillMB: Double,
      busyS: Double, stealS: Double, iowaitS: Double,
      blkFiles: Long, blkMB: Double)

  /** Times each named query from `queries`; a throwing query lands in the
    * error map (exception class + message), not the timings. Each timing
    * also gets a [[QueryProbe]]. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      : (Seq[(String, Double)], Seq[(String, String)], Seq[(String, QueryProbe)]) = {
    val timings = Seq.newBuilder[(String, Double)]
    val errors = Seq.newBuilder[(String, String)]
    val probes = Seq.newBuilder[(String, QueryProbe)]
    val listener = new TaskMetricsProbe
    spark.sparkContext.addSparkListener(listener)
    try {
      names.foreach { name =>
        queries.get(name).foreach { fn =>
          // Deterministic heap reclamation BETWEEN timed keys (r14),
          // OUTSIDE the timed window: localCheckpoint blocks, lz4/read-
          // ahead buffers and ContextCleaner-pending refs from the
          // previous key otherwise linger until an arbitrary GC, and at
          // sf10 the 197-key pass sits close enough to the 8 g single-JVM
          // cliff that the residue decided whether the graph family's
          // entry key survived (r13: one pass completed, the next OOM'd
          // at q_hits; r14 pre-fix: OOM'd at q_pagerank after 180 green
          // keys). Each key now starts from a reclaimed heap — the heap
          // analog of sweepCaches' blocking unpersist discipline. Wall
          // times are unaffected (the timer starts after); the cost is
          // untimed inter-key milliseconds.
          System.gc()
          listener.snapshotAndReset() // drop the previous query's tail
          val cpu0 = ProcStat.read()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            timings += name -> (System.nanoTime() - t0) / 1e9
            // Diagnostics in their OWN try: a probe-side failure must never
            // reclassify a successful query as an error (it already timed).
            try {
              val snap = listener.snapshotAndReset()
              val cpu = ProcStat.read() - cpu0
              val blk = DirStat.blockMgrDirs(spark).map(DirStat.of)
                .foldLeft(DirStat.Stat(0, 0))((a, b) =>
                  DirStat.Stat(a.files + b.files, a.bytes + b.bytes))
              probes += name -> QueryProbe(
                snap.tasks, snap.runS, snap.cpuS, snap.gcS,
                (snap.shuffleReadB + snap.shuffleWriteB) / 1e6, snap.spillB / 1e6,
                cpu.busyS, cpu.stealS, cpu.iowaitS,
                blk.files, blk.bytes / 1e6)
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] probe collection failed for $name: ${e.getMessage}")
            }
          } catch {
            case e: Throwable =>
              errors += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
          }
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    (timings.result(), errors.result(), probes.result())
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    }

  private def r2(d: Double): Double = math.rint(d * 100) / 100

  /** The driver-facing line. KEPT SMALL AND CONSTANT-SIZE ON PURPOSE: the
    * driver captures a ~2 KB bounded tail of stdout and parses the JSON
    * line out of it. Round 6 embedded per-query probe objects and the line
    * overflowed; round 7 fixed the sbt log prefix; round 8's 106-entry
    * per-query map (~4 KB) overflowed AGAIN — the tail began mid-line. The
    * durable contract is therefore: NO per-query map here at all. The
    * headline line carries the total, the query/error counts, and where
    * the per-key evidence lives ([[renderProbeJson]]'s sidecar, which has
    * wallS per key and is committed every round). Errors are summarized
    * (count + up to three names, messages truncated) so even a
    * catastrophic run stays within the window. */
  def renderJson(timings: Seq[(String, Double)], errors: Seq[(String, String)],
      sfDir: String, hostCpu: Option[ProcStat.Cpu] = None): String = {
    val total = r2(timings.map { case (_, v) => r2(v) }.sum)
    val es = errors.take(3)
      .map { case (k, v) => "\"" + k + "\":\"" + esc(v.take(60)) + "\"" }
      .mkString("{", ",", "}")
    // whole-run host accounting ON the parsed line (r10 advice): a driver
    // total that moved round-over-round is attributable without re-running
    // — high stealS says "contended sandbox", not "plan regression"
    val host = hostCpu.map(d =>
      s""""busyS":${r2(d.busyS)},"stealS":${r2(d.stealS)},""").getOrElse("")
    s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${timings.size},""" +
      s""""n_errors":${errors.size},"errors":$es,$host""" +
      s""""queries_file":"bench_probe.json","sf":"$sfDir"}"""
  }

  /** Per-query noise evidence (wall + [[QueryProbe]] columns), written to a
    * sidecar file so the stdout contract stays one short line. Since the
    * stdout line no longer carries a per-query map AT ALL, every timed key
    * appears here — keys without task-metric probes (e.g. the one-time
    * shingle layout build) still record their wallS. */
  def renderProbeJson(timings: Seq[(String, Double)],
      probes: Seq[(String, QueryProbe)], sfDir: String,
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt): String = {
    // r14 verdict #5: the sf10 sidecar rode a 12 GiB heap disclosed only
    // in SURVEY prose — every sidecar now records its own JVM envelope
    // (max heap + task slots) so the evidence file is self-describing.
    // `cores` is an Int (bad env values fail loudly at parse, never as
    // malformed JSON) and main threads the SAME value the session was
    // built with, so the envelope can't drift from the actual parallelism.
    val heapMB = Runtime.getRuntime.maxMemory / (1024L * 1024L)
    val probeMap = probes.toMap
    val ps = timings.map { case (k, w) =>
      val body = probeMap.get(k) match {
        case Some(p) =>
          s""""wallS":${r2(w)},""" +
            s""""cpuS":${r2(p.cpuS)},"runS":${r2(p.runS)},"gcS":${r2(p.gcS)},""" +
            s""""shufMB":${r2(p.shufMB)},"spillMB":${r2(p.spillMB)},""" +
            s""""busyS":${r2(p.busyS)},"stealS":${r2(p.stealS)},"iowaitS":${r2(p.iowaitS)},""" +
            s""""blkFiles":${p.blkFiles},"blkMB":${r2(p.blkMB)}"""
        case None => s""""wallS":${r2(w)}"""
      }
      "\"" + k + "\":{" + body + "}"
    }.mkString("{", ",", "}")
    s"""{"probe":$ps,"driverMemMB":$heapMB,"cores":$cores,"sf":"$sfDir"}"""
  }

  /** Whole-run machine CPU accounting, echoed to stderr for humans
    * tailing a run. The same two totals ALSO ride the stdout JSON line
    * since r11 (verdict item: driver deltas must be attributable under
    * sandbox steal) — as two fixed scalar keys, so the line stays
    * constant-size (the BenchSpec tail-window guard covers the
    * with-host shape). */
  private def reportEnv(d: ProcStat.Cpu): Unit =
    System.err.println(
      f"[bench] host cpu over the run: busy=${d.busyS}%.1fs idle=${d.idleS}%.1fs " +
        f"iowait=${d.iowaitS}%.1fs steal=${d.stealS}%.1fs")

  /** The bench JVM's set-up, shared with [[Probe]] so a probe replays the
    * bench's conditions by construction: the session, one warm-up read and
    * the TIMED shingle-layout build. Returns the session and the layout's
    * timing (empty when the build failed — committed evidence must never
    * claim a layout that never built). */
  private[graft] def start(sfDir: String, cpus: Int): (SparkSession, Seq[(String, Double)]) = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir",
        graft.GraftSession.scratchDir("graft-bench-warehouse").toString)
      // shuffle files are reclaimed by ContextCleaner only after a DRIVER
      // GC collects the dependency objects; the 30-min default means a
      // multi-hundred-query pass accumulates every query's shuffle files
      // (measured: 7k files / 7.5 GB mid-pass at sf5 — page-cache and
      // disk pressure the queries then pay for). A minutely nudge keeps
      // the block dirs bounded for the whole pass.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one warm-up pass on the smallest table to absorb JVM/codegen startup
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // The shingle layout the dedup family consumes — TIMED as its own
    // entry: the amortization story is honest only if the one-time
    // tokenize+write cost appears next to the queries it accelerates.
    val t0 = System.nanoTime()
    val layout = try {
      operators.Warehouse.materializeShingles(spark, sfDir, buckets = cpus)
      Seq("shingle_layout_build" -> (System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] shingle layout skipped: ${e.getMessage}")
      Seq.empty
    }
    (spark, layout)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val (spark, layout) = start(sfDir, cpus)
    val cpu0 = ProcStat.read()
    val (timings, errors, probes) =
      run(spark, sfDir, headline, benchQueries)
    val hostCpu = ProcStat.read() - cpu0
    reportEnv(hostCpu)
    // Sidecar evidence file (committed next snapshot → readable per round);
    // never let a diagnostics write break the stdout contract.
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "bench_probe.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (renderProbeJson(layout ++ timings, probes, sfDir, cpus) + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] probe evidence written to $out")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] probe evidence write failed: ${e.getMessage}")
    }
    println(renderJson(layout ++ timings, errors, sfDir, Some(hostCpu)))
    spark.stop()
  }
}
