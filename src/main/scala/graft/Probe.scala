package graft

/** Instrumented replay of the driver's bench pass (dev utility, NOT part
  * of the driver contract) — the bisection tool for "why did the official
  * bench read 2-5x the clean figure on untouched queries?".
  *
  * Replays [[Bench.headline]] (or a named subset) exactly the way
  * [[Bench.main]] does — same session, same warm-up, same shingle-layout
  * build, same sweep-at-entry discipline — but prints a per-query evidence
  * table: driver wall vs summed task CPU/run/GC, shuffle+spill bytes,
  * machine busy/steal/iowait over the query's window, and the
  * block-manager dir footprint after the query. With `--passes=N` the
  * whole sequence repeats N times in ONE JVM:
  *
  *   - pass 2+ systematically slower than pass 1 → cross-query JVM state
  *     (shuffle-file accumulation, fragmentation, GC pressure) — OUR bug;
  *   - random scatter uncorrelated with pass number, wall >> cpu while
  *     steal/busy spikes → external VM contention — the host's problem,
  *     and the probe columns are the committed evidence.
  *
  * Usage (sbt shell): `runMain graft.Probe [--passes=2] [name ...]`
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (flags, names0) = args.partition(_.startsWith("--"))
    val passes = flags.collectFirst { case f if f.startsWith("--passes=") =>
      f.stripPrefix("--passes=").toInt }.getOrElse(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt
    val (spark, layoutTiming) = Bench.start(dir, cpus)
    layoutTiming.foreach { case (k, w) => println(f"PROBE $k%-24s $w%8.2f s") }
    val names = if (names0.nonEmpty) names0.toSeq else Bench.headline
    // benchQueries, NOT SparkEntry.queries: the bench-only phase keys
    // (wh_bucketize_write, the pruned ANN configs) must run here too —
    // silently skipping wh_bucketize_write makes wh_colocated_join pay
    // the layout write it is supposed to reuse, corrupting ITS timing
    val unknown = names.filterNot(Bench.benchQueries.keySet)
    unknown.foreach(n => println(s"UNKNOWN $n (not a benchable key)"))
    println("pass query                      wall    cpuS    runS     gcS  shufMB spillMB   busyS  stealS iowaitS blkFiles   blkMB")
    val runCpu0 = ProcStat.read()
    // first-pass evidence, optionally written as a bench_probe-style
    // sidecar (SPARK_GRAFT_PROBE_OUT) — how the zipf-fixture scale
    // probes (SURVEY §6) are committed without a full Bench run
    var sidecar: Option[String] = None
    (1 to passes).foreach { pass =>
      val (timings, errors, probes) =
        Bench.run(spark, dir, names, Bench.benchQueries)
      if (pass == 1) sidecar = Some(
        Bench.renderProbeJson(layoutTiming ++ timings, probes, dir))
      val probeMap = probes.toMap
      timings.foreach { case (name, wall) =>
        probeMap.get(name) match {
          case Some(p) =>
            println(f"$pass%4d $name%-24s ${wall}%7.2f ${p.cpuS}%7.2f ${p.runS}%7.2f ${p.gcS}%7.2f " +
              f"${p.shufMB}%7.1f ${p.spillMB}%7.1f ${p.busyS}%7.1f ${p.stealS}%7.1f ${p.iowaitS}%7.1f " +
              f"${p.blkFiles}%8d ${p.blkMB}%7.1f")
          case None => // timed fine but its probe collection failed — keep the wall
            println(f"$pass%4d $name%-24s ${wall}%7.2f  (probe missing)")
        }
      }
      errors.foreach { case (name, e) => println(s"$pass ERROR $name: $e") }
      val subtotal = timings.map(_._2).sum
      println(f"pass $pass total ${subtotal}%.2f s over ${timings.size} queries")
    }
    val d = ProcStat.read() - runCpu0
    println(f"host over the whole probe: busy=${d.busyS}%.1fs idle=${d.idleS}%.1fs " +
      f"iowait=${d.iowaitS}%.1fs steal=${d.stealS}%.1fs")
    for (out <- sys.env.get("SPARK_GRAFT_PROBE_OUT"); json <- sidecar)
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
        System.err.println(s"[probe] evidence written to $out")
      } catch { case e: Throwable =>
        System.err.println(s"[probe] evidence write failed: ${e.getMessage}")
      }
    GraftSession.sweepCaches(spark)
    spark.stop()
  }
}
