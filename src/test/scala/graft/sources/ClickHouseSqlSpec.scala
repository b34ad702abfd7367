package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gates for the ClickHouse-SQL dialect front-end: expression translation
  * units, the README scripts end-to-end, dialect == native equality, and
  * the cutover-invariance property the MV + INSERT split depends on. */
class ClickHouseSqlSpec extends SparkSpec {

  private def ch = new ClickHouseSql(spark,
    t => EventsSource.syntheticKafkaFrame(spark, 1000L, 4))

  test("expression translation: the README's dialect constructs map to Spark SQL") {
    val c = ch
    assert(c.translateQuery("SELECT count() FROM t") == "SELECT count(*) FROM t")
    assert(c.translateQuery("SELECT x FROM t GROUP BY (a, b) ORDER BY (a, b)") ==
      "SELECT x FROM t GROUP BY a, b ORDER BY a, b")
    assert(c.translateQuery("SELECT JSONExtractString(message, 'subject') AS s FROM q") ==
      "SELECT from_json(message, '`subject` STRING', map('mode', 'PERMISSIVE')).subject AS s FROM q")
    assert(c.translateQuery("SELECT toInt8(JSONExtractInt(message, 'points')) AS p FROM q") ==
      "SELECT CAST(CAST(from_json(message, '`points` STRING', map('mode', 'PERMISSIVE')).points " +
        "AS BIGINT) AS TINYINT) AS p FROM q")
    assert(c.translateQuery("SELECT fromUnixTimestamp64Milli(JSONExtractUInt(m, 'timestamp')) FROM q") ==
      "SELECT timestamp_millis(CAST(from_json(m, '`timestamp` STRING', map('mode', 'PERMISSIVE'))" +
        ".timestamp AS BIGINT)) FROM q")
    // every extract of one message column reads the same parse
    assert(c.translateQuery("SELECT JSONExtractString(m, 'a'), JSONExtractInt(m, 'b') FROM q") ==
      "SELECT from_json(m, '`a` STRING, `b` STRING', map('mode', 'PERMISSIVE')).a, " +
        "CAST(from_json(m, '`a` STRING, `b` STRING', map('mode', 'PERMISSIVE')).b AS BIGINT) FROM q")
    assert(c.translateQuery("SELECT toStartOfDay(timestamp) AS day FROM t") ==
      "SELECT date_trunc('DAY', timestamp) AS day FROM t")
    assert(c.translateQuery("SELECT maxState(x) AS m FROM t") == "SELECT max(x) AS m FROM t")
    assert(c.translateQuery("SELECT avgState(x) AS a FROM t") ==
      "SELECT named_struct('s', CAST(sum(x) AS BIGINT), 'c', count(x)) AS a FROM t")
    assert(c.translateQuery("SELECT avgMerge(st) AS avg FROM t") ==
      "SELECT (CAST(sum(st.s) AS DOUBLE) / sum(st.c)) AS avg FROM t")
    assert(c.translateQuery("SELECT x FROM default.t2") == "SELECT x FROM t2")
    // word-boundary safety: a column whose name CONTAINS a function name
    assert(c.translateQuery("SELECT mytoInt8(x) FROM t") == "SELECT mytoInt8(x) FROM t")
    // rewrap recursion: same-function nesting and sibling calls both hold
    assert(c.translateQuery("SELECT toInt8(toInt8(x)) FROM t") ==
      "SELECT CAST(CAST(x AS TINYINT) AS TINYINT) FROM t")
    assert(c.translateQuery("SELECT maxState(a), maxState(b) FROM t") ==
      "SELECT max(a), max(b) FROM t")
    // parens inside string literals would break a naive scanner only if
    // unbalanced — balanced-in-practice SQL stays correct; the demo's
    // scripts contain none, and unbalanced args throw loudly
    assertThrows[IllegalArgumentException](
      c.translateQuery("SELECT toInt8(broken FROM t"))
  }

  test("expression translation: the ad-hoc vocabulary (round-11 widening)") {
    val c = ch
    // the -If combinator family composes aggregate + CASE null-skip
    assert(c.translateQuery("SELECT countIf(x < 0) FROM t") ==
      "SELECT count(CASE WHEN x < 0 THEN 1 END) FROM t")
    assert(c.translateQuery("SELECT sumIf(x, y > 1) FROM t") ==
      "SELECT sum(CASE WHEN y > 1 THEN x END) FROM t")
    assert(c.translateQuery("SELECT avgIf(x, y > 1) FROM t") ==
      "SELECT avg(CASE WHEN y > 1 THEN x END) FROM t")
    assert(c.translateQuery("SELECT uniqExactIf(x, y = 2) FROM t") ==
      "SELECT count(DISTINCT CASE WHEN y = 2 THEN x END) FROM t")
    assert(c.translateQuery("SELECT uniqExact(x) FROM t") ==
      "SELECT count(DISTINCT x) FROM t")
    // selector aggregates; nested dialect calls translate inside-out
    assert(c.translateQuery("SELECT argMax(a, b), argMin(a, b) FROM t") ==
      "SELECT max_by(a, b), min_by(a, b) FROM t")
    assert(c.translateQuery("SELECT argMax(a, toHour(ts)) FROM t") ==
      "SELECT max_by(a, hour(ts)) FROM t")
    // multiIf pairs + else — and the odd-arity guard
    assert(c.translateQuery("SELECT multiIf(a < 1, 'x', a < 2, 'y', 'z') FROM t") ==
      "SELECT CASE WHEN a < 1 THEN 'x' WHEN a < 2 THEN 'y' ELSE 'z' END FROM t")
    assertThrows[IllegalArgumentException](
      c.translateQuery("SELECT multiIf(a, b) FROM t"))
    // time dimensions: Date-typed truncations gain to_date; ISO weekday
    assert(c.translateQuery("SELECT toStartOfMonth(ts) FROM t") ==
      "SELECT to_date(date_trunc('MONTH', ts)) FROM t")
    assert(c.translateQuery("SELECT toMonday(ts) FROM t") ==
      "SELECT to_date(date_trunc('WEEK', ts)) FROM t")
    assert(c.translateQuery("SELECT toDayOfWeek(ts) FROM t") ==
      "SELECT (((dayofweek(ts) + 5) % 7) + 1) FROM t")
    // array surface: splitByChar swaps args onto regex split (escaped
    // separator), arrayJoin is Spark's explode, has is array_contains
    assert(c.translateQuery("SELECT arrayJoin(splitByChar(' ', s)) AS tok FROM t") ==
      "SELECT explode(split(s, '\\\\ ')) AS tok FROM t")
    assert(c.translateQuery("SELECT has(xs, 3) FROM t") ==
      "SELECT array_contains(xs, 3) FROM t")
    assert(c.translateQuery("SELECT intDiv(a, 4) FROM t") ==
      "SELECT (a DIV 4) FROM t")
    // LIMIT n BY -> the row_number window rewrite, re-sorted outside
    val lb = c.translateQuery(
      "SELECT g, v FROM t ORDER BY g ASC, v DESC LIMIT 2 BY g")
    assert(lb == "SELECT * EXCEPT (__graft_rn) FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY g ORDER BY g ASC, v DESC) AS __graft_rn FROM " +
      "(SELECT g, v FROM t) __graft_lb) WHERE __graft_rn <= 2 ORDER BY g ASC, v DESC")
  }

  test("parametric syntax: uniqUpTo(N)(x) translates to the saturated distinct count") {
    val c = ch
    assert(c.translateQuery("SELECT uniqUpTo(5)(x) FROM t GROUP BY g") ==
      "SELECT least(count(DISTINCT x), 6) FROM t GROUP BY g")
    // two parametric calls in one select; nested dialect fn in the args
    assert(c.translateQuery("SELECT uniqUpTo(2)(a), uniqUpTo(3)(toHour(ts)) FROM t") ==
      "SELECT least(count(DISTINCT a), 3), least(count(DISTINCT hour(ts)), 4) FROM t")
    // a parametric name without its second arg list must throw, not mangle
    assertThrows[IllegalArgumentException](
      c.translateQuery("SELECT uniqUpTo(5) FROM t"))
  }

  test("WITH FILL synthesizes missing rows with type defaults and keeps out-of-range data rows") {
    val c = ch // 1000-row frame: points -10..10 all present
    c.execute(ClickHouseDemo.queueDdl)
    c.execute(ClickHouseDemo.eventsDdl)
    c.execute(ClickHouseDemo.eventsMv)
    // explicit half-open [12, 15): points 12..14 are synthesized with
    // count's default 0; every DATA row (points -10..10) must survive
    val filled = c.execute(
      """SELECT points, count() AS n FROM student_entry_events
        |GROUP BY points ORDER BY points WITH FILL FROM 12 TO 15""".stripMargin).get
      .collect().map(r => r.getAs[Number]("points").intValue -> r.getLong(1)).toMap
    assert(filled.keySet == ((-10 to 10) ++ (12 to 14)).toSet, filled.keySet.toSeq.sorted)
    assert((12 to 14).forall(filled(_) == 0L))
    assert((-10 to 10).forall(filled(_) > 0L))
    // defaulted FROM/TO = data min/max inclusive: nothing added, nothing lost
    val defaulted = c.execute(
      """SELECT points, count() AS n FROM student_entry_events
        |GROUP BY points ORDER BY points WITH FILL""".stripMargin).get
    assert(defaulted.collect().map(_.getAs[Number]("points").intValue).toSeq ==
      (-10 to 10).toSeq)
    // string fill columns are rejected (CH fills numeric/date sequences)
    assertThrows[Exception](c.execute(
      "SELECT room, count() AS n FROM student_entry_events GROUP BY room " +
        "ORDER BY room WITH FILL").get.collect())
    // the select list's column ORDER survives the rewrite (CH keeps it;
    // only synthesized rows' values differ)
    val ordered = c.execute(
      """SELECT count() AS n, points FROM student_entry_events
        |GROUP BY points ORDER BY points WITH FILL FROM 12 TO 14""".stripMargin).get
    assert(ordered.columns.toSeq == Seq("n", "points"), ordered.columns.toSeq)
  }

  test("FINAL collapses ReplacingMergeTree by version, not insert order, and rejects unsupported engines") {
    val c = ch
    c.execute(
      """CREATE TABLE kv (`k` String, `v` Int64, `ver` UInt32)
        |ENGINE = ReplacingMergeTree(ver) ORDER BY k""".stripMargin)
    // adversarial insert order: highest version first, lowest last
    c.execute("INSERT INTO kv SELECT 'a' AS k, 10 AS v, 3 AS ver")
    c.execute("INSERT INTO kv SELECT 'a' AS k, 99 AS v, 1 AS ver")
    c.execute("INSERT INTO kv SELECT 'b' AS k, 7 AS v, 2 AS ver")
    val rows = c.execute("SELECT k, v, ver FROM kv FINAL ORDER BY k").get
      .collect().map(r => (r.getString(0), r.getLong(1), r.getAs[Number](2).longValue))
    assert(rows.toSeq == Seq(("a", 10L, 3L), ("b", 7L, 2L)))
    // un-FINAL reads still see every generation
    assert(c.execute("SELECT count() AS n FROM kv").get.collect().head.getLong(0) == 3L)
    // mixed raw-vs-collapsed reads of the SAME table in one statement —
    // the classic version-duplication debugging query — must not let the
    // FINAL rebind leak into the raw leg
    val mixed = c.execute(
      "SELECT (SELECT count() FROM kv) AS raw, (SELECT count() FROM kv FINAL) AS collapsed")
      .get.collect().head
    assert(mixed.getLong(0) == 3L && mixed.getLong(1) == 2L, mixed.toString)
    // unsupported FINAL placements (alias form) throw rather than
    // silently returning uncollapsed rows with the keyword stripped
    assertThrows[IllegalArgumentException](
      c.execute("SELECT k FROM kv AS t FINAL"))
    // versionless ReplacingMergeTree FINAL = last-insert-wins, a
    // nondeterministic contract this engine refuses to fake
    c.execute(
      "CREATE TABLE nover (`k` String, `v` Int64) ENGINE = ReplacingMergeTree ORDER BY k")
    assertThrows[IllegalArgumentException](c.execute("SELECT k FROM nover FINAL"))
    c.execute(
      "CREATE TABLE sums (`k` String, `v` Int64) ENGINE = SummingMergeTree ORDER BY k")
    assertThrows[IllegalArgumentException](c.execute("SELECT k FROM sums FINAL"))
  }

  test("ISO weekday translation evaluates to Mon=1..Sun=7") {
    val c = ch
    // 2013-09-01 was a Sunday, 2013-09-02 a Monday
    val sql = c.translateQuery(
      "SELECT toDayOfWeek(TIMESTAMP '2013-09-01 10:00:00') AS sun, " +
        "toDayOfWeek(TIMESTAMP '2013-09-02 10:00:00') AS mon")
    val r = spark.sql(sql).collect().head
    assert(r.getInt(0) == 7 && r.getInt(1) == 1)
  }

  test("LIMIT BY keeps the first n rows per group in ORDER BY order") {
    val top = ClickHouseDemo.refChTopRooms(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(top.length == 8, s"expected 2 rows x 4 houses, got ${top.length}")
    val byHouse = top.groupBy(_._1)
    assert(byHouse.keySet.size == 4 && byHouse.values.forall(_.length == 2))
    // within a house: entries descending, room ascending on ties — and the
    // corpus really exercises the tie-break (equal-count rooms exist)
    byHouse.values.foreach { rs =>
      val Seq(a, b) = rs.sortBy(r => (-r._3, r._2)).toSeq
      assert(rs.toSeq == Seq(a, b))
    }
    assert(byHouse.values.exists(rs => rs.map(_._3).distinct.length == 1),
      "expected at least one house whose top-2 rooms tie on entries")
  }

  test("conditional/selector vocabulary: dialect equals the native DataFrame computation") {
    val dialect = ClickHouseDemo.refChConditional(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getString(5), r.getString(6))).toSet
    val native = EventsSource.parseReference(
      EventsSource.syntheticKafkaFrame(spark, 100000L, 16)
        .select(col("value").cast("string").as("message")))
      .groupBy(col("student.house").as("house"))
      .agg(
        count_if(col("points") < 0).as("penalties"),
        sum(when(col("points") > 0, col("points"))).as("awarded"),
        avg(when(col("points") > 0, col("points"))).as("avg_award"),
        countDistinct(col("teacher")).as("n_teachers"),
        max_by(col("teacher"), col("timestamp")).as("last_teacher"),
        min_by(col("room"), col("timestamp")).as("first_room"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getString(5), r.getString(6))).toSet
    assert(dialect == native,
      s"dialect diverged: ${dialect.diff(native)} / ${native.diff(dialect)}")
  }

  test("README Step 2 end-to-end: dialect result equals the native pipeline") {
    val viaDialect = ClickHouseDemo.refChPointsByHouse(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val native = EventsSource.refPointsByHouse(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaDialect == native,
      s"dialect diverged from native: ${viaDialect.diff(native)} / ${native.diff(viaDialect)}")
  }

  test("Step 2 queue: the typed extraction preserves the wire schema") {
    val c = ch
    c.execute(ClickHouseDemo.queueDdl)
    c.execute(ClickHouseDemo.eventsDdl)
    c.execute(ClickHouseDemo.eventsMv)
    val df = c.execute("SELECT count() AS n FROM student_entry_events").get
    assert(df.collect().head.getLong(0) == 1000L)
    val row = c.execute(
      "SELECT timestamp, subject, points, student.house AS house " +
        "FROM student_entry_events ORDER BY timestamp LIMIT 1").get.collect().head
    assert(row.getAs[java.sql.Timestamp]("timestamp").getTime == 1378022400000L)
    assert(row.getAs[String]("subject") == "Potions")
    assert(row.getAs[Byte]("points") == -10) // i=0: 0 % 21 - 10, through toInt8
    assert(row.getAs[String]("house") == "Gryffindor")
    // the README's other ad-hoc statements run as-is
    assert(c.execute("SHOW TABLES").get.collect().map(_.getString(0)).toSet ==
      Set("entry_events_queue", "student_entry_events"))
    val latest = c.execute(
      """SELECT timestamp
        |FROM default.student_entry_events
        |ORDER BY timestamp DESC
        |LIMIT 1""".stripMargin).get.collect().head
    assert(latest.getTimestamp(0).getTime == 1378022400000L + 999L * 3600000L)
    assert(c.execute("SELECT * FROM default.student_entry_events LIMIT 20").get.count() == 20)
  }

  test("stored parts: a MergeTree table is read from its stored parts until a sweep frees them") {
    val cutoff = "2013-09-02 12:00:00"
    val c = new ClickHouseSql(spark,
      _ => EventsSource.syntheticKafkaFrameCoarse(spark, 2000L, 37, 4))
    c.executeAll(Seq(
      ClickHouseDemo.queueDdl, ClickHouseDemo.eventsDdl, ClickHouseDemo.eventsMv,
      ClickHouseDemo.granularDdl, ClickHouseDemo.granularMv(cutoff),
      ClickHouseDemo.granularBackfill(cutoff),
      ClickHouseDemo.dailyDdl, ClickHouseDemo.dailyMv(cutoff),
      ClickHouseDemo.dailyBackfill(cutoff)))
    val q = "SELECT count() AS n, sum(points) AS p FROM student_entry_events"
    val first = answer(c.execute(q).get)
    // the next statement reads the part the first one computed: the
    // statement's own view bookkeeping must not drop it
    val second = c.execute(q).get
    assert(stored(second), "the second read re-ran the extraction instead of scanning the stored part")
    assert(answer(second) == first)
    val merge = c.execute(ClickHouseDemo.dailyMergeQuery).get
    val merged = answer(merge)
    assert(stored(merge), "the *Merge select re-ran the MV/backfill legs")
    // the shared sweep frees every part; reads recompute the same rows
    graft.GraftSession.sweepCaches(spark)
    val after = c.execute(q).get
    assert(!stored(after), "the sweep left a part stored")
    assert(answer(after) == first)
    assert(answer(c.execute(ClickHouseDemo.dailyMergeQuery).get) == merged)
    graft.GraftSession.sweepCaches(spark)
  }

  test("stored parts: a table is stored from its second reading statement on") {
    val c = new ClickHouseSql(spark, _ => EventsSource.syntheticKafkaFrame(spark, 2000L, 4))
    c.executeAll(Seq(ClickHouseDemo.queueDdl, ClickHouseDemo.eventsDdl, ClickHouseDemo.eventsMv))
    val q = "SELECT room, count() AS n FROM student_entry_events GROUP BY room"
    val first = c.execute(q).get
    assert(!stored(first), "the table's only reader paid for storing every column")
    val rows = answer(first)
    val second = c.execute(q).get
    assert(stored(second), "the second reader left the part unstored")
    assert(answer(second) == rows)
    graft.GraftSession.sweepCaches(spark)
  }

  test("appended parts: an ORDER BY without LIMIT is dropped, an ORDER BY ... LIMIT is kept") {
    val cutoff = "2013-09-02 12:00:00"
    val c = new ClickHouseSql(spark,
      _ => EventsSource.syntheticKafkaFrameCoarse(spark, 2000L, 37, 4))
    c.executeAll(Seq(ClickHouseDemo.queueDdl, ClickHouseDemo.eventsDdl, ClickHouseDemo.eventsMv,
      ClickHouseDemo.granularDdl, ClickHouseDemo.granularMv(cutoff)))
    def sorts(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
    }
    // the MV select ends in `ORDER BY timestamp`: its part is not sorted
    val mv = c.execute("SELECT * FROM class_attendance_granular").get
    assert(sorts(mv).isEmpty, "the stored part still sorts its rows")
    val mvRows = answer(mv)
    val groups = "SELECT timestamp, subject, count(student) AS studentCount " +
      s"FROM student_entry_events WHERE timestamp < '$cutoff' GROUP BY timestamp, subject"
    assert(mvRows == answer(c.execute(groups.replace("<", ">=")).get))
    // a sort under a LIMIT picks the rows: it stays, and the part holds
    // the three latest slots before the cutoff
    c.execute(s"INSERT INTO class_attendance_granular $groups ORDER BY timestamp DESC LIMIT 3")
    val all = c.execute("SELECT * FROM class_attendance_granular").get
    assert(sorts(all).size == 1)
    val latest = answer(c.execute(groups).get).toSeq.map(_.head.asInstanceOf[java.sql.Timestamp])
      .sortBy(-_.getTime).take(3)
    val limited = (answer(all) -- mvRows).toSeq.map(_.head.asInstanceOf[java.sql.Timestamp])
    assert(limited.size == 3 && limited.sortBy(-_.getTime) == latest)
    graft.GraftSession.sweepCaches(spark)
  }

  private def stored(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.withCachedData.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])

  private def answer(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet

  test("the Step-2.3 extraction parses each message once") {
    val records = EventsSource.syntheticKafkaFrame(spark, 100L, 2)
    val c = new ClickHouseSql(spark, _ => records)
    c.execute(ClickHouseDemo.queueDdl)
    c.execute(ClickHouseDemo.eventsDdl)
    val select = "(?s)AS\\s+(SELECT.*)".r.findFirstMatchIn(ClickHouseDemo.eventsMv).get.group(1)
    val view = "entry_events_queue"
    records.select(col("value").cast("string").as("message")).createOrReplaceTempView(view)
    try {
      val plan = spark.sql(c.translateQuery(select, tupleOwner = Some("student_entry_events")))
        .queryExecution.optimizedPlan
      val parses = plan.expressions.flatMap(_.collect {
        case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j.canonicalized
      }).distinct
      assert(parses.size == 1, s"${parses.size} distinct JSON parses of one message")
    } finally spark.catalog.dropTempView(view)
  }

  test("the Kafka-engine MV is continuous: streaming the queue through the translated MV equals the dialect table") {
    // a CH Kafka-engine MV consumes the topic in batches, continuously;
    // the dialect applies it one-shot over the replayed topic. This test
    // closes the triangle: the SAME translated MV select, run as a
    // Structured Streaming projection over the staged queue in two
    // micro-batches, must converge to the dialect's one-shot table.
    val records = EventsSource.syntheticKafkaFrame(spark, 2000L, 4)
    val frame = records.select(col("value").cast("string").as("message"))
    // translate the MV's select with the destination's tuple declared
    // (the executor takes the RAW record frame; JSONAsString is its job)
    val c = new ClickHouseSql(spark, _ => records)
    c.execute(ClickHouseDemo.queueDdl)
    c.execute(ClickHouseDemo.eventsDdl)
    c.execute(ClickHouseDemo.eventsMv)
    val dialect = c.execute("SELECT * FROM default.student_entry_events").get
    val selectPart = "(?s)AS\\s+(SELECT.*)".r.findFirstMatchIn(ClickHouseDemo.eventsMv)
      .get.group(1)
    val translated = c.translateQuery(selectPart, tupleOwner = Some("student_entry_events"))
    // stage the queue as two files -> two micro-batches
    val stage = java.nio.file.Files.createTempDirectory("graft-ch-stream")
    graft.TempSweep.register(stage)
    frame.repartition(2).write.mode("overwrite").parquet(stage.toString)
    spark.readStream.schema(frame.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      .createOrReplaceTempView("entry_events_queue")
    val sink = "graft_ch_stream_mv"
    spark.catalog.dropTempView(sink)
    val q = spark.sql(translated).writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("timestamp", "subject", "teacher", "room", "points",
        "student.name AS sn", "student.house AS sh")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getString(2),
        r.getString(3), r.getByte(4), r.getString(5), r.getString(6)))
      .toSet
    val streamed = rows(spark.table(sink))
    assert(streamed == rows(dialect),
      s"streamed MV diverged from the one-shot dialect table (${streamed.size} rows)")
    assert(streamed.size == 2000)
  }

  test("JSONEachRow queue: typed columns parse straight off the wire; the chain equals JSONAsString's") {
    // end-to-end: the README's alternative format lands on the SAME
    // Step-2.4 answer as the JSONAsString chain (which the Step-2 test
    // above already pins to the native pipeline)
    val eachRow = ClickHouseDemo.refChEachRow(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val asString = ClickHouseDemo.refChPointsByHouse(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(eachRow == asString,
      s"JSONEachRow diverged from JSONAsString: ${eachRow.diff(asString)}")
    // the format branch itself: declared columns (incl. the nested Tuple)
    // are REAL typed columns on the queue — no extraction MV in the path
    val c = ch
    c.execute(ClickHouseDemo.queueEachRowDdl)
    val row = c.execute(
      "SELECT timestamp, subject, points, student.house AS house " +
        "FROM entry_events_queue_rows ORDER BY timestamp LIMIT 1").get.collect().head
    assert(row.getLong(0) == 1378022400000L) // epoch ms rides the declared UInt64
    assert(row.getString(1) == "Potions")
    assert(row.getAs[Byte]("points") == -10) // Int8 -> TINYINT straight off JSON
    assert(row.getAs[String]("house") == "Gryffindor")
    // an unsupported kafka_format is rejected loudly, never half-bound
    assertThrows[IllegalArgumentException](c.execute(
      ClickHouseDemo.queueEachRowDdl
        .replace("entry_events_queue_rows", "q_bad")
        .replace("JSONEachRow", "Avro")))
  }

  test("dialect subset violations fail loudly with named errors (round-12 hardening)") {
    val c = ch
    // LIMIT n BY with no top-level ORDER BY: a dialect error with the
    // clause named, never a fall-through Spark ParseException
    val e1 = intercept[IllegalArgumentException](
      c.translateQuery("SELECT house, room FROM t LIMIT 2 BY house"))
    assert(e1.getMessage.contains("LIMIT n BY"))
    // the only ORDER BY sits inside an OVER(...) clause: rejected up
    // front (the greedy prefix split would otherwise emit mangled SQL)
    val e2 = intercept[IllegalArgumentException](
      c.translateQuery("SELECT x, row_number() OVER (ORDER BY x) AS rn FROM t LIMIT 2 BY g"))
    assert(e2.getMessage.contains("top-level ORDER BY"))
    // wrong arity on a multi-arg rewrite names the function and the
    // received args — never a raw scala.MatchError
    val e3 = intercept[IllegalArgumentException](
      c.translateQuery("SELECT sumIf(x) FROM t"))
    assert(e3.getMessage.contains("sumIf"))
    // splitByChar is single-character by CH contract (multi-char is
    // splitByString, outside the subset)
    val e4 = intercept[IllegalArgumentException](
      c.translateQuery("SELECT splitByChar('ab', s) FROM t"))
    assert(e4.getMessage.contains("single character"))
    // ...but a CH escape SEQUENCE ('\t' et al.) is a single character in
    // CH semantics even though it spells as two source chars
    assert(c.translateQuery("SELECT splitByChar('\\t', s) FROM t") ==
      "SELECT split(s, '\\\\t') FROM t")
  }

  test("the future-timestamp cutover is invisible: any cutoff yields the identical final table") {
    // the README's Step 3/4 correctness hinges on MV (>= t) + backfill
    // (< t) composing seamlessly; the *Merge select must collapse the
    // split state rows — so the result must be independent of t
    def runAt(cutoff: String): Set[(java.sql.Date, String, Int, Int, Double)] = {
      val c = new ClickHouseSql(spark,
        _ => EventsSource.syntheticKafkaFrameCoarse(spark, 5000L, 37, 4))
      c.executeAll(Seq(
        ClickHouseDemo.queueDdl, ClickHouseDemo.eventsDdl, ClickHouseDemo.eventsMv,
        ClickHouseDemo.granularDdl, ClickHouseDemo.granularMv(cutoff),
        ClickHouseDemo.granularBackfill(cutoff),
        ClickHouseDemo.dailyDdl, ClickHouseDemo.dailyMv(cutoff),
        ClickHouseDemo.dailyBackfill(cutoff),
        ClickHouseDemo.dailyMergeQuery)).get
        .withColumn("day", to_date(col("day")))
        .collect()
        .map(r => (r.getDate(0), r.getString(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
        .toSet
    }
    val mid = runAt("2013-09-03 07:00:00") // mid-corpus, mid-day
    val early = runAt("2013-01-01 00:00:00") // everything through the MV leg
    val late = runAt("2030-01-01 00:00:00") // everything through the backfill
    assert(mid == early && mid == late,
      s"cutover leaked into the final table: mid/early diff ${mid.diff(early).take(3)}")
    assert(mid.nonEmpty)
    // the coarse frame really is non-degenerate: counts above 1 exist,
    // AND max != min on some day — a swapped maxMerge/minMerge (or an
    // avgMerge that averaged per-leg averages) cannot pass this corpus
    assert(mid.exists(_._3 > 1), "expected class slots with >1 student")
    assert(mid.exists(r => r._3 != r._4),
      "expected days where max != min — the frame lost its checking power")
  }
}
