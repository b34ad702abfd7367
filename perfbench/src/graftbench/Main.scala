package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** A workload: `setup` runs once per set-up (after a fresh session),
  * `prime` once before the measured window, `measure` in the window. */
trait Workload {
  def setup(): Unit
  /** Unmeasured warm-up before the window; its checks count in `out`. */
  def prime(out: Outcome): Unit = ()
  def measure(out: Outcome, layer: LayerClock): Unit
}

/** Client-side times of calls into graft's modules, per call. */
final class LayerClock {
  val dialect = mutable.ArrayBuffer.empty[Double]
  val build = mutable.ArrayBuffer.empty[Double]
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def wall(key: String, s: Double): Unit = walls.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += s
}

/** One benchmark run in one JVM:
  * `--workload adhoc|stream|batch --seed N --seconds S --trace 0|1
  *  --data DIR --work DIR --results DIR [--commit ID]`.
  * The last stdout line is the result object; a traced run prints its
  * tracing overhead on the line before it. */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer(trace)
    val ctx = new Ctx(workload, a("seed").toLong, a("seconds").toDouble, cores,
      a("data"), a("work"), tracer)
    val master = s"local[$cores]"
    val w: Workload = workload match {
      case "adhoc" => new Adhoc(ctx)
      case "stream" => new Stream(ctx)
      case "batch" => new Batch(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val run0 = Cpu.read()

    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionMs = mutable.ArrayBuffer.empty[Double]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to Setups) {
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = tracer.span("session", "GraftSession.builder")(session(ctx, master, i))
      sessionMs += (System.nanoTime() - t0) / 1e6
      tracer.sc = ctx.spark.sparkContext
      w.setup()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    heapMb += Heap.oldAfterGcMb()
    val spark = ctx.spark
    val out = new Outcome
    val p0 = System.nanoTime()
    w.prime(out)
    val primeS = (System.nanoTime() - p0) / 1e9

    val probes = if (trace) Some(new Probes(spark, new File(ctx.workDir, "stream").getAbsolutePath)) else None
    val layer = new LayerClock
    val cpu0 = Cpu.read()
    val w0 = System.currentTimeMillis()
    try w.measure(out, layer)
    catch {
      case e: Throwable =>
        out.attempted += 1
        out.fail(s"measure: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val w1 = System.currentTimeMillis()
    val cpu = Cpu.read() - cpu0
    probes.foreach(_.close())
    heapMb += Heap.oldAfterGcMb()

    val e2e = Seq(
      "setup_s" -> (Stats.median(setupS), "s"),
      "heap_peak_mb" -> (heapMb.max, "MB"),
      "query_p50_ms" -> (Stats.pct(out.queryMs, 0.5), "ms"),
      "query_p90_ms" -> (Stats.pct(out.queryMs, 0.9), "ms"),
      "queries_per_s" -> (out.queriesPerS, "1/s"),
      "events_per_s" -> (if (out.units.isEmpty) 0.0 else out.events / Stats.median(out.units), "1/s"),
      "freshness_p50_ms" -> (Stats.pct(out.freshMs, 0.5), "ms"),
      "freshness_p90_ms" -> (Stats.pct(out.freshMs, 0.9), "ms"),
      "makespan_s" -> (Stats.median(out.units), "s"))
    val metrics =
      if (!trace) e2e
      else perLayer(ctx, out, layer, probes.get, tracer, sessionMs.toSeq, cpu, w0, w1)
    val correct = out.failed == 0 && out.attempted > 0

    out.failures.take(20).foreach(f => System.err.println(s"[graftbench] FAILED $f"))
    val runCpu = Cpu.read() - run0
    val results = new File(a("results"))
    results.mkdirs()
    val tag = s"$workload-seed${ctx.seed}"
    // traced run: relative change of each end-to-end metric against the
    // untraced result of the same workload and seed, if one was written
    val overhead: Seq[(String, Double)] = {
      val base = new File(results, s"$tag-trace0.json")
      if (!trace || !base.isFile) Nil
      else {
        val b = Json.read(base).get("end_to_end")
        e2e.collect { case (k, (v, _)) if b.has(k) && b.get(k).get("value").asDouble != 0 =>
          val u = b.get(k).get("value").asDouble
          k -> (v - u) / u
        }
      }
    }
    val stamp = Seq(
      "workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "trace" -> trace.toString, "commit" -> Json.str(a.getOrElse("commit", "unknown")),
      "nproc" -> cores.toString, "master" -> Json.str(master),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "spark_version" -> Json.str(spark.version),
      "input" -> ctx.meta.toString,
      "host_busy_s" -> Json.num(runCpu.busyS), "host_steal_s" -> Json.num(runCpu.stealS),
      "window_s" -> Json.num((w1 - w0) / 1e3), "prime_s" -> Json.num(primeS),
      "setups_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "heap_mb" -> heapMb.map(Json.num).mkString("[", ",", "]"),
      "units_s" -> out.units.map(Json.num).mkString("[", ",", "]"),
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "failures" -> out.failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> obj(e2e),
      "tracing_overhead" -> overhead.map { case (k, r) => Json.str(k) + ":" + Json.num(r) }.mkString("{", ",", "}"))
    if (trace) {
      println(s"[graftbench] tracing overhead against the untraced run: " +
        (if (overhead.isEmpty) "no untraced result for this workload and seed"
         else overhead.map { case (k, r) => f"$k ${r * 100}%+.1f%%" }.mkString(", ")))
      writeSpans(new File(results, s"$tag-spans.jsonl"), tracer, probes.get)
    }
    writeFile(new File(results, s"$tag-trace${if (trace) 1 else 0}.json"),
      stamp.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}"))
    System.err.println(s"[graftbench] ${stamp.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    spark.stop()
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":${obj(metrics)}}""")
    System.out.flush()
  }

  private def session(ctx: Ctx, master: String, i: Int): SparkSession = {
    val work = new File(ctx.workDir).getAbsoluteFile
    val s = GraftSession.builder(master, ctx.cores)
      .appName("graftbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, s"warehouse-$i").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def obj(m: Seq[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"${Json.str(k)}:{" + "\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}" }
      .mkString("{", ",", "}")

  /** Every per-layer metric (zero where the workload does not enter the layer). */
  private def perLayer(ctx: Ctx, out: Outcome, layer: LayerClock, p: Probes, tracer: Tracer,
      sessionMs: Seq[Double], cpu: Cpu, w0: Long, w1: Long): Seq[(String, (Double, String))] = {
    val ops = math.max(1L, out.operations).toDouble
    val st = p.sparkStats
    val spans = tracer.spans
    val operatorSpans = spans.filter(_.layer == "operators").map(_.id).toSet
    val jobs = st.jobList
    val buildJobs = jobs.count(j => operatorSpans.contains(j.span))
    val execs = scala.jdk.CollectionConverters.IteratorHasAsScala(p.plans.execs.iterator).asScala.toSeq
    val busy = st.busyMs(w0, w1) / 1e3
    val mb = 1024.0 * 1024.0
    val progress = scala.jdk.CollectionConverters.IteratorHasAsScala(p.streams.progress.iterator).asScala.toSeq
    val streaming =
      if (ctx.workload == "stream")
        Stream.layerMetrics(progress, execs.filter(_.sinkWrite).map(_.durationMs)) ++
          Seq("streaming.source_lag_files", "streaming.generator_late_ms").map(k => k -> out.layer.getOrElse(k, 0.0))
      else Stream.layerMetrics(Nil, Nil).map { case (k, _) => k -> 0.0 } ++
        Seq("streaming.source_lag_files" -> 0.0, "streaming.generator_late_ms" -> 0.0)
    val units = Map("batches" -> "count", "state_rows" -> "count", "source_lag_files" -> "count")
    Seq(
      "session.start_ms" -> (Stats.median(sessionMs), "ms"),
      "sources.dialect_ms" -> (Stats.mean(layer.dialect), "ms"),
      "sources.wire_rows" -> (out.layer.getOrElse("sources.wire_rows", 0.0), "count"),
      "operators.build_ms" -> (Stats.mean(layer.build), "ms"),
      "operators.build_jobs" -> (if (layer.build.isEmpty) 0.0 else buildJobs.toDouble / layer.build.size, "count")) ++
      Batch.Keys.map(k => s"operators.$k.wall_s" -> (Stats.mean(layer.walls.getOrElse(k, Nil)), "s")) ++
      Seq(
        "plans.analysis_ms" -> (Stats.mean(execs.map(_.analysisMs.toDouble)), "ms"),
        "plans.optimization_ms" -> (Stats.mean(execs.map(_.optimizationMs.toDouble)), "ms"),
        "plans.planning_ms" -> (Stats.mean(execs.map(_.planningMs.toDouble)), "ms"),
        "spark.jobs" -> (jobs.size / ops, "count"),
        "spark.stages" -> (st.stagesDone / ops, "count"),
        "spark.tasks" -> (st.tasks / ops, "count"),
        "spark.job_busy_s" -> (busy / ops, "s"),
        "spark.driver_gap_s" -> (((w1 - w0) / 1e3 - busy) / ops, "s"),
        "spark.task_cpu_s" -> (st.cpuNs / 1e9 / ops, "s"),
        "spark.task_run_s" -> (st.runMs / 1e3 / ops, "s"),
        "spark.gc_s" -> (st.gcMs / 1e3 / ops, "s"),
        "spark.shuffle_write_mb" -> (st.shuffleWriteB / mb / ops, "MB"),
        "spark.shuffle_read_mb" -> (st.shuffleReadB / mb / ops, "MB"),
        "spark.spill_mb" -> (st.spillB / mb / ops, "MB")) ++
      streaming.map { case (k, v) =>
        val u = units.getOrElse(k.stripPrefix("streaming."), if (k.endsWith("_mb")) "MB" else "ms")
        k -> (v, u)
      } ++
      Seq("host.busy_s" -> (cpu.busyS, "s"), "host.steal_s" -> (cpu.stealS, "s"))
  }

  private def writeSpans(f: File, tracer: Tracer, p: Probes): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      tracer.spans.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"span":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
          s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
      p.sparkStats.jobList.foreach { j =>
        w.println(s"""{"job":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""stages":${j.stages.mkString("[", ",", "]")}}""")
      }
    } finally w.close()
  }

  private def writeFile(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}
