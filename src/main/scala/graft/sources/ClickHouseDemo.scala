package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference README's literal SQL scripts (README.rst Steps 2-4), run
  * end-to-end through [[ClickHouseSql]] as CHECKED keys: the porting story
  * is not "equivalent capabilities exist" but "the demo's own statements
  * execute and produce the oracle-verified numbers".
  *
  * The statements below are the README's text verbatim, with exactly two
  * parameterizations the README itself instructs the reader to make:
  * the broker address (irrelevant here — the topic binds to the simulated
  * wire frame; a cluster with the connector jar would bind
  * `format("kafka")` instead) and the Step-3/4 future-timestamp cutover
  * placeholder `'use-your-future-time-stamp-here'`, for which the README
  * says "select a timestamp a bit farther in the future" — both the MV leg
  * (`>= cutoff`) and the INSERT backfill (`< cutoff`) run, and the
  * SummingMergeTree-style final merge must make the split invisible
  * (ClickHouseSqlSpec asserts cutoff-invariance explicitly). */
object ClickHouseDemo {

  /** README.rst Step 2.1 — the Kafka engine queue. */
  val queueDdl: String =
    """CREATE TABLE entry_events_queue
      |(
      |    `message` String
      |)
      |ENGINE = Kafka
      |SETTINGS
      |    kafka_broker_list = 'host.docker.internal:9092',
      |    kafka_topic_list = 'entry-events',
      |    kafka_group_name = 'group1',
      |    kafka_format = 'JSONAsString'""".stripMargin

  /** README.rst Step 2.2 — the typed destination table. */
  val eventsDdl: String =
    """CREATE TABLE student_entry_events
      |(
      |    `timestamp` DateTime,
      |    `subject` String,
      |    `teacher` String,
      |    `room` String,
      |    `points` Int8,
      |    `student` Tuple(name String, house String)
      |)
      |ENGINE = MergeTree
      |ORDER BY timestamp""".stripMargin

  /** README.rst Step 2.3 — the extraction materialized view. */
  val eventsMv: String =
    """CREATE MATERIALIZED VIEW materialized_view TO student_entry_events
      |AS SELECT
      |    fromUnixTimestamp64Milli(JSONExtractUInt(message, 'timestamp')) AS timestamp,
      |    JSONExtractString(message, 'subject') AS subject,
      |    JSONExtractString(message, 'teacher') AS teacher,
      |    JSONExtractString(message, 'room') AS room,
      |    toInt8(JSONExtractInt(message, 'points')) AS points,
      |    JSONExtract(message, 'student', 'Tuple(String,String)') AS student
      |FROM entry_events_queue""".stripMargin

  /** README.rst Step 2.4 — the house aggregate, verbatim. */
  val pointsByHouseQuery: String =
    """SELECT student.house as house, sum(points)
      |FROM default.student_entry_events
      |GROUP BY student.house""".stripMargin

  /** The README's alternative queue format (README.rst: "Alternatively
    * you can try JSONEachRow ... In this case the JSON properties will be
    * parsed into columns"): the queue table declares TYPED columns parsed
    * straight off each record's JSON by name — no JSONExtract MV. The
    * wire `timestamp` is epoch milliseconds, so it is declared UInt64
    * here and converted by the (now trivial) MV select — the same
    * fromUnixTimestamp64Milli a porting user keeps from Step 2.3; the
    * nested student object parses directly as the declared Tuple. */
  val queueEachRowDdl: String =
    """CREATE TABLE entry_events_queue_rows
      |(
      |    `timestamp` UInt64,
      |    `subject` String,
      |    `teacher` String,
      |    `room` String,
      |    `points` Int8,
      |    `student` Tuple(name String, house String)
      |)
      |ENGINE = Kafka
      |SETTINGS
      |    kafka_broker_list = 'host.docker.internal:9092',
      |    kafka_topic_list = 'entry-events',
      |    kafka_group_name = 'group1',
      |    kafka_format = 'JSONEachRow'""".stripMargin

  /** The Step-2.3 MV reduced to what JSONEachRow leaves to do: the epoch
    * conversion. Every other column is already typed on the queue. */
  val eventsMvEachRow: String =
    """CREATE MATERIALIZED VIEW materialized_view_rows TO student_entry_events
      |AS SELECT
      |    fromUnixTimestamp64Milli(timestamp) AS timestamp,
      |    subject,
      |    teacher,
      |    room,
      |    points,
      |    student
      |FROM entry_events_queue_rows""".stripMargin

  /** README.rst Step 3.1 / 3.4 / 3.7 and Step 4.1 / 4.2 / 4.3 / 4.4,
    * with the future-timestamp placeholder bound to `cutoff`. */
  def granularDdl: String =
    """CREATE TABLE class_attendance_granular
      |(
      |    `timestamp` DateTime,
      |    `subject` String,
      |    `studentCount` UInt16
      |)
      |ENGINE = MergeTree
      |ORDER BY timestamp""".stripMargin

  def granularMv(cutoff: String): String =
    s"""CREATE MATERIALIZED VIEW default.materialized_view_class_attendance_granular TO default.class_attendance_granular
       |AS SELECT
       |  timestamp,
       |  subject,
       |  count(student) as studentCount
       |FROM default.student_entry_events
       |WHERE timestamp >= '$cutoff'
       |Group by (timestamp, subject)
       |ORDER BY timestamp;""".stripMargin

  def granularBackfill(cutoff: String): String =
    s"""INSERT INTO default.class_attendance_granular
       |SELECT
       |  timestamp,
       |  subject,
       |  count(student) as studentCount
       |FROM default.student_entry_events
       |WHERE timestamp < '$cutoff'
       |GROUP BY (timestamp, subject)""".stripMargin

  def dailyDdl: String =
    """CREATE TABLE class_attendance_daily
      |(
      |    `day` DateTime,
      |    `subject` String,
      |    `max_intermediate_state` AggregateFunction(max, UInt16),
      |    `min_intermediate_state` AggregateFunction(min, UInt16),
      |    `avg_intermediate_state` AggregateFunction(avg, UInt16)
      |)
      |ENGINE = SummingMergeTree
      |PARTITION BY tuple()
      |ORDER BY (day, subject)""".stripMargin

  def dailyMv(cutoff: String): String =
    s"""CREATE MATERIALIZED VIEW class_attendance_daily_mv TO class_attendance_daily AS
       |SELECT
       |    toStartOfDay(timestamp) AS day,
       |    subject,
       |    maxState(studentCount) AS max_intermediate_state,
       |    minState(studentCount) AS min_intermediate_state,
       |    avgState(studentCount) AS avg_intermediate_state
       |FROM default.class_attendance_granular
       |WHERE timestamp >= '$cutoff'
       |GROUP BY
       |    day,
       |    subject
       |ORDER BY
       |    day ASC,
       |    subject ASC""".stripMargin

  def dailyBackfill(cutoff: String): String =
    s"""INSERT INTO class_attendance_daily
       |SELECT
       |  toStartOfDay(timestamp) as day,
       |  subject,
       |  maxState(studentCount) AS max_intermediate_state,
       |  minState(studentCount) AS min_intermediate_state,
       |  avgState(studentCount) AS avg_intermediate_state
       |FROM default.class_attendance_granular
       |WHERE timestamp < '$cutoff'
       |GROUP BY day, subject
       |ORDER BY day, subject""".stripMargin

  /** README.rst Step 4 final merge select, verbatim. */
  val dailyMergeQuery: String =
    """SELECT
      |  day,
      |  subject,
      |  maxMerge(max_intermediate_state) AS max,
      |  minMerge(min_intermediate_state) AS min,
      |  avgMerge(avg_intermediate_state) AS avg
      |FROM class_attendance_daily
      |GROUP BY (day, subject)
      |ORDER BY (day, subject)""".stripMargin

  /** A dialect session bound to the simulated `entry-events` topic. */
  private def session(spark: SparkSession, frame: DataFrame): ClickHouseSql =
    new ClickHouseSql(spark, {
      case "entry-events" => frame
      case other => throw new IllegalArgumentException(s"unknown topic $other")
    })

  /** `ref_ch_points_by_house`: Step 2 end-to-end through the dialect —
    * queue DDL, typed table, extraction MV, then the literal Step-2.4
    * query. Shares `ref_points_by_house`'s oracle (same wire arithmetic,
    * same aggregate), so dialect == native is DRIVER-checked; the
    * unaliased `sum(points)` column is renamed for the name-matching
    * harness only. `dir` unused by design — the input is the reference's
    * own wire format. */
  def refChPointsByHouse(spark: SparkSession, dir: String): DataFrame = {
    val ch = session(spark, EventsSource.syntheticKafkaFrame(spark, 100000L, 16))
    ch.executeAll(Seq(queueDdl, eventsDdl, eventsMv, pointsByHouseQuery)).get
      .withColumnRenamed("sum(points)", "total_points")
  }

  /** `ref_ch_each_row`: the README's `JSONEachRow` queue alternative end
    * to end — typed queue DDL, the SAME typed destination table, the
    * reduced MV (epoch conversion only), and the literal Step-2.4 query.
    * Shares `ref_points_by_house`'s oracle, so JSONEachRow == JSONAsString
    * == native is DRIVER-checked three ways on one answer. */
  def refChEachRow(spark: SparkSession, dir: String): DataFrame = {
    val ch = session(spark, EventsSource.syntheticKafkaFrame(spark, 100000L, 16))
    ch.executeAll(Seq(queueEachRowDdl, eventsDdl, eventsMvEachRow, pointsByHouseQuery)).get
      .withColumnRenamed("sum(points)", "total_points")
  }

  /** The Step-2 catalog (queue → typed table → extraction MV) that every
    * ad-hoc dialect key queries against — the state a demo user is left
    * with after the README's ingestion steps. */
  private def step2Session(spark: SparkSession): ClickHouseSql = {
    val ch = session(spark, EventsSource.syntheticKafkaFrame(spark, 100000L, 16))
    ch.executeAll(Seq(queueDdl, eventsDdl, eventsMv))
    ch
  }

  /** `ref_ch_conditional`: the ad-hoc vocabulary a ClickHouse user reaches
    * for right after the README's own queries — the `-If` combinator
    * (countIf/sumIf/avgIf), `uniqExact`, and the argMax/argMin selector
    * aggregates — in one house-level scorecard. The argMax/argMin ordering
    * column is the event timestamp, unique per event on the default wire
    * frame, so the selectors are deterministic. avgIf is one IEEE division
    * of exact integer sums (the avgMerge contract), bit-reproducible
    * cross-engine. */
  def refChConditional(spark: SparkSession, dir: String): DataFrame =
    step2Session(spark).execute(
      """SELECT
        |    student.house AS house,
        |    countIf(points < 0) AS penalties,
        |    sumIf(points, points > 0) AS awarded,
        |    avgIf(points, points > 0) AS avg_award,
        |    uniqExact(teacher) AS n_teachers,
        |    argMax(teacher, timestamp) AS last_teacher,
        |    argMin(room, timestamp) AS first_room
        |FROM student_entry_events
        |GROUP BY student.house""".stripMargin).get
      .selectExpr("house", "CAST(penalties AS BIGINT) AS penalties",
        "CAST(awarded AS BIGINT) AS awarded", "avg_award",
        "CAST(n_teachers AS BIGINT) AS n_teachers", "last_teacher", "first_room")

  /** `ref_ch_top_rooms`: ClickHouse's `LIMIT n BY` clause (first n rows
    * per group in the query's ORDER BY order — a clause Spark does not
    * have) translated into the row_number window that expresses the same
    * thing. The (entries DESC, room) sort breaks count ties
    * deterministically — rooms tie on purpose here: 100000 events mod the
    * 36 (house, room) residues leaves 28 cells at 2778 and 8 at 2777. */
  def refChTopRooms(spark: SparkSession, dir: String): DataFrame =
    step2Session(spark).execute(
      """SELECT student.house AS house, room, count() AS entries
        |FROM student_entry_events
        |GROUP BY (student.house, room)
        |ORDER BY house ASC, entries DESC, room ASC
        |LIMIT 2 BY house""".stripMargin).get
      .selectExpr("house", "room", "CAST(entries AS BIGINT) AS entries")

  /** `ref_ch_daypart`: the time-dimension vocabulary — `toStartOfMonth`
    * (Date-typed in CH, hence the to_date in the translation), `toHour`,
    * ISO `toDayOfWeek`, and a `multiIf` day-part bucketing — over the
    * hourly event stream. Pure epoch arithmetic under the session's UTC
    * zone on both engines. */
  def refChDaypart(spark: SparkSession, dir: String): DataFrame =
    step2Session(spark).execute(
      """SELECT
        |    toStartOfMonth(timestamp) AS month,
        |    multiIf(toHour(timestamp) < 6, 'night',
        |            toHour(timestamp) < 12, 'morning',
        |            toHour(timestamp) < 18, 'afternoon', 'evening') AS daypart,
        |    count() AS entries,
        |    uniqExact(toDayOfWeek(timestamp)) AS active_weekdays,
        |    sum(points) AS net_points
        |FROM student_entry_events
        |GROUP BY (month, daypart)""".stripMargin).get
      .selectExpr("month", "daypart", "CAST(entries AS BIGINT) AS entries",
        "CAST(active_weekdays AS BIGINT) AS active_weekdays",
        "CAST(net_points AS BIGINT) AS net_points")

  /** `ref_ch_tokens`: the array surface — `splitByChar` (argument order
    * swapped onto Spark's regex `split`, separator regex-escaped) and
    * `arrayJoin`, CH's row-exploding function, which is Spark's `explode`
    * generator — token frequencies over the concatenated text columns. */
  def refChTokens(spark: SparkSession, dir: String): DataFrame =
    step2Session(spark).execute(
      """SELECT token, count() AS n
        |FROM (SELECT arrayJoin(splitByChar(' ', concat(subject, ' ', teacher, ' ', room))) AS token
        |      FROM student_entry_events)
        |GROUP BY token""".stripMargin).get
      .selectExpr("token", "CAST(n AS BIGINT) AS n")

  /** `ref_ch_with_fill`: ClickHouse's `ORDER BY ... WITH FILL FROM a TO b`
    * gap-filling modifier over a sparse aggregate — the (Potions, T0)
    * slice only ever produces points {−10, −3, 4} (i ≡ 0 mod 28 ⇒ points
    * = 7·(k mod 3) − 10), so 18 of the 21 fill rows are genuinely
    * synthesized with the count's type default 0. */
  def refChWithFill(spark: SparkSession, dir: String): DataFrame =
    step2Session(spark).execute(
      """SELECT points, count() AS n
        |FROM student_entry_events
        |WHERE subject = 'Potions' AND teacher = 'T0'
        |GROUP BY points
        |ORDER BY points WITH FILL FROM -10 TO 11""".stripMargin).get
      .selectExpr("CAST(points AS INT) AS points", "CAST(n AS BIGINT) AS n")

  /** `ref_ch_uniq_upto`: the parametric-aggregate syntax `fn(params)(args)`
    * — `uniqUpTo(N)(x)` counts distinct exactly while ≤ N and saturates at
    * N+1. The points grouping makes the caps structure-sensitive: each
    * points class pins i mod 21, so rooms collapse to 3 of 9 (gcd 3,
    * hitting the N=2 cap exactly at its boundary), teachers to 1 of 7
    * (7 | 21), while all 50 student names survive and saturate N=10. */
  def refChUniqUpTo(spark: SparkSession, dir: String): DataFrame =
    step2Session(spark).execute(
      """SELECT points,
        |    uniqUpTo(2)(room) AS rooms_capped,
        |    uniqExact(room) AS rooms_exact,
        |    uniqUpTo(5)(teacher) AS teachers_capped,
        |    uniqUpTo(10)(student.name) AS names_capped
        |FROM student_entry_events
        |GROUP BY points""".stripMargin).get
      .selectExpr("CAST(points AS INT) AS points",
        "CAST(rooms_capped AS BIGINT) AS rooms_capped",
        "CAST(rooms_exact AS BIGINT) AS rooms_exact",
        "CAST(teachers_capped AS BIGINT) AS teachers_capped",
        "CAST(names_capped AS BIGINT) AS names_capped")

  /** `ref_ch_final`: `ReplacingMergeTree(version)` + `SELECT ... FROM t
    * FINAL` — the manual row-versioning pattern every CH deployment leans
    * on. Three generations of per-student rows are inserted in an
    * ADVERSARIAL order (v2 first, v0 last), so a FINAL that picked the
    * last insert, the first insert, or the largest payload would all
    * produce wrong tables; only version-wins per ORDER-BY key (what
    * [[ClickHouseSql.finalView]] computes as a max_by(struct, version)
    * collapse — the native `wh_replacing_merge` plan) matches the oracle.
    * The student key spans two houses on this frame (i%4 walks {s, s+2}
    * mod 4), so `house` must ride the WINNING version's payload, with
    * min() making each insert's house deterministic. */
  val latestDdl: String =
    """CREATE TABLE student_points_latest
      |(
      |    `student` String,
      |    `house` String,
      |    `points` Int64,
      |    `version` UInt32
      |)
      |ENGINE = ReplacingMergeTree(version)
      |ORDER BY student""".stripMargin

  def refChFinal(spark: SparkSession, dir: String): DataFrame = {
    val ch = step2Session(spark)
    ch.execute(latestDdl)
    def gen(select: String, version: Int): String =
      s"""INSERT INTO student_points_latest
         |SELECT student.name AS student, min(student.house) AS house,
         |       $select AS points, $version AS version
         |FROM student_entry_events GROUP BY student.name""".stripMargin
    ch.execute(gen("sumIf(points, points > 0)", 2)) // the winner, inserted FIRST
    ch.execute(gen("sum(points)", 1))
    ch.execute(gen("countIf(points < 0)", 0)) // inserted LAST, must lose
    ch.execute(
      "SELECT student, house, points, version FROM student_points_latest FINAL").get
      .selectExpr("student", "house", "CAST(points AS BIGINT) AS points",
        "CAST(version AS BIGINT) AS version")
  }

  /** `ref_ch_attendance_daily`: Steps 2-4 end-to-end through the dialect —
    * extraction MV, the granular attendance MV + its INSERT backfill split
    * at the README's future-timestamp cutover, the SummingMergeTree-style
    * daily state table (maxState/minState/avgState), and the final
    * *Merge select. Runs on the COARSE wire frame — 37 students per
    * class slot: coarse because the default frame's unique-per-event
    * timestamps would make Step 3's per-(timestamp, subject) counts
    * degenerate to 1, and 37 because it is NOT divisible by the
    * 4-subject cycle, so slot counts VARY ({10, 9, 9, 9} rotating with
    * slot phase) and the daily max/min/avg genuinely discriminate — at
    * perSlot 40 every count is the constant 10 and a swapped
    * maxMerge/minMerge translation would pass every check. The `day`
    * column is date-normalized for the cross-engine harness (timestamp
    * hashing is timezone-fragile between engines; ClickHouseSqlSpec
    * asserts the verbatim select in-engine instead). */
  def refChAttendanceDaily(spark: SparkSession, dir: String): DataFrame = {
    // midday on purpose: the cutover day gets state rows from BOTH legs,
    // so the final *Merge select must really merge two partial states
    val cutoff = "2013-10-15 12:00:00"
    val ch = session(spark, EventsSource.syntheticKafkaFrameCoarse(spark, 100000L, 37, 16))
    ch.executeAll(Seq(
      queueDdl, eventsDdl, eventsMv,
      granularDdl, granularMv(cutoff), granularBackfill(cutoff),
      dailyDdl, dailyMv(cutoff), dailyBackfill(cutoff),
      dailyMergeQuery)).get
      .withColumn("day", to_date(col("day")))
  }
}
