package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends SparkSpec {

  test("a throwing query is reported as an error and excluded from the total") {
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, dir) => s.read.parquet(s"$dir/region.parquet")),
      "boom" -> ((_, _) => throw new IllegalStateException("synthetic failure")))
    val (timings, errors, probes) = Bench.run(spark, sf, Seq("ok", "boom"), queries)
    assert(timings.map(_._1) == Seq("ok"))
    assert(errors.map(_._1) == Seq("boom"))
    assert(errors.head._2.contains("IllegalStateException"))
    // only the successful query carries probe evidence
    assert(probes.map(_._1) == Seq("ok"))
    val json = Bench.renderJson(timings, errors, sf)
    // the failed query must not appear among the timings nor inflate value
    assert(json.contains("\"errors\":{\"boom\":"))
    assert(!json.contains("\"boom\":-"))
    // probe evidence goes to the SIDECAR json, never the driver line
    assert(!json.contains("\"probe\""))
    val probeJson = Bench.renderProbeJson(timings, probes, sf)
    assert(probeJson.contains("\"ok\":{\"wallS\":"))
    assert(probeJson.contains("\"cpuS\":"))
    // r14 verdict #5: every sidecar is self-describing — the JVM envelope
    // (max heap, task slots) rides the JSON, not just SURVEY prose
    assert(probeJson.contains("\"driverMemMB\":"), probeJson.takeRight(120))
    assert(probeJson.contains("\"cores\":"), probeJson.takeRight(120))
    val value = json.split("\"value\":")(1).split(",")(0).toDouble
    assert(math.abs(value - timings.map(_._2).sum) < 0.01)
  }

  test("the headline covers the FULL query surface: every SparkEntry key is benched") {
    // (the reverse directions — no phantom names, no duplicates — are
    // SparkEntrySpec's "every headline name resolves to a query" test)
    val missing = SparkEntry.queries.keySet -- Bench.headline.toSet
    assert(missing.isEmpty,
      s"unbenched keys: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("headline JSON stays well-formed with no errors") {
    val json = Bench.renderJson(Seq("a" -> 1.5, "b" -> 0.5), Nil, "/x")
    assert(json == """{"metric":"total","value":2.0,"unit":"sec","n_queries":2,""" +
      """"n_errors":0,"errors":{},"queries_file":"bench_probe.json","sf":"/x"}""")
    // host-CPU accounting rides the line when provided (r10 advice #6)
    val withHost = Bench.renderJson(Seq("a" -> 1.5), Nil, "/x",
      Some(ProcStat.Cpu(busyS = 12.345, idleS = 1.0, iowaitS = 0.5, stealS = 6.789)))
    assert(withHost.contains("\"busyS\":12.34") && withHost.contains("\"stealS\":6.79"),
      withHost)
  }

  test("committed probe sidecars cover every headline key at every committed sf") {
    // r10 advice #8: the full-surface guarantee must extend to the probe
    // evidence — a future partial probe (or a sidecar from an older,
    // smaller headline) must fail loudly here, not ship silently.
    val expected = ("shingle_layout_build" +: Bench.headline).toSet
    // cwd-relative like DocsSpec's SURVEY.md resolution (sbt runs tests
    // from the repo root)
    // sf10 joined the gated set in r13 (r12 advice #6: the sf5→sf10
    // doubling is the only committed slope evidence above sf5, and it
    // must cover the whole surface, not a 21-key subset)
    val sidecars = Seq("bench_probe.json", "bench_probe_sf1.json",
        "bench_probe_sf5.json", "bench_probe_sf10.json")
      .map(n => java.nio.file.Paths.get(n))
      .filter(java.nio.file.Files.exists(_))
    assert(sidecars.nonEmpty, "no committed probe sidecar found")
    sidecars.foreach { p =>
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      // keys appear as "name":{"wallS": — extract without a JSON lib.
      // \s* tolerance: r14's python-written sf5 sidecar used spaced
      // separators and the strict regex reported all 197 keys missing
      // (r14 verdict "what's wrong" #1) — belt (tool now emits compact)
      // and braces (gate accepts either).
      val keys = "\"([A-Za-z0-9_]+)\":\\s*\\{\\s*\"wallS\"".r
        .findAllMatchIn(txt).map(_.group(1)).toSet
      val missing = expected -- keys
      assert(missing.isEmpty,
        s"$p missing probe entries for: ${missing.toSeq.sorted.take(10).mkString(", ")}" +
          (if (missing.size > 10) s" (+${missing.size - 10} more)" else ""))
      // r14 verdict #5: committed evidence must carry its own JVM
      // envelope (the sf10 12 GiB heap previously lived only in prose)
      assert(txt.contains("\"driverMemMB\":"), s"$p lacks driverMemMB")
      assert(txt.contains("\"cores\":"), s"$p lacks cores")
    }
  }

  test("headline JSON stays under the driver's tail window even when everything fails") {
    // r6 overflowed with probe objects, r8 overflowed with the 106-entry
    // per-query map — the durable contract is a constant-size line: at
    // most three error entries, messages truncated, never a per-query map
    val manyErrors = (1 to 200).map(i =>
      s"very_long_query_name_number_$i" -> ("SomeExceptionClass: " + "x" * 500))
    // worst-case shape INCLUDING the host-CPU fields main always sends
    val json = Bench.renderJson(
      Bench.headline.map(_ -> 1.23), manyErrors, "/root/testdata/sf0.1",
      Some(ProcStat.Cpu(busyS = 1234567.89, idleS = 0, iowaitS = 0, stealS = 999999.99)))
    assert(json.length < 600, s"line too long: ${json.length}")
    assert(json.contains("\"n_errors\":200"))
    assert(!json.contains("\"queries\":{"))
    // still well-formed despite truncation (quotes/braces balanced)
    assert(json.count(_ == '{') == json.count(_ == '}'))
  }
}
