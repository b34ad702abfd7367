package graftbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import graft.{Sql, SparkEntry}
import graft.sources.{ClickHouseDemo, ClickHouseSql}

/** `adhoc`: one closed-loop client runs a fixed statement mix against warm
  * tables and collects every result. `stream` reuses the set-up and
  * [[run]] with the mix's source statements only. */
final class Adhoc(ctx: Ctx, statements: Seq[Adhoc.Statement] = Adhoc.mix) extends Workload {
  import Adhoc._

  private var ch: ClickHouseSql = _
  /** Reference digest of each operator key, from its first execution. */
  private val digests = mutable.Map.empty[String, String]

  private def cutoff: String = {
    val ms = ctx.expected.get("ch").get("cutoff").asLong
    java.time.Instant.ofEpochMilli(ms).toString.replace("T", " ").stripSuffix("Z")
  }

  def setup(): Unit = {
    val spark = ctx.spark
    ctx.span("sources", "Sql.registerTables") { Sql.registerTables(spark, ctx.tablesDir) }
    val wire = new File(ctx.dataDir, "wire/kafka.parquet").getAbsolutePath
    ch = new ClickHouseSql(spark, {
      case "entry-events" => spark.read.parquet(wire)
      case other => throw new IllegalArgumentException(s"unknown topic $other")
    })
    ctx.span("sources", "ClickHouseSql.catalog") {
      ch.executeAll(Seq(
        ClickHouseDemo.queueDdl, ClickHouseDemo.eventsDdl, ClickHouseDemo.eventsMv,
        ClickHouseDemo.granularDdl, ClickHouseDemo.granularMv(cutoff),
        ClickHouseDemo.granularBackfill(cutoff),
        ClickHouseDemo.dailyDdl, ClickHouseDemo.dailyMv(cutoff),
        ClickHouseDemo.dailyBackfill(cutoff)))
    }
    // warm-up: one statement through each front-end
    ctx.span("client", "warm-up") {
      ch.execute("SELECT count(*) FROM student_entry_events").get.collect()
      spark.sql(Sql.referenceQueries("count_all")).collect()
    }
  }

  /** One unmeasured pass of the mix: JIT and codegen warm-up, and the
    * reference digests of the operator keys. */
  override def prime(out: Outcome): Unit = {
    val warm = new Outcome
    statements.foreach(st => run(st, warm, null))
    out.countChecks(warm)
  }

  /** Complete passes of the mix: at least one, and another only while it
    * is expected to end inside the window. */
  def measure(out: Outcome, layer: LayerClock): Unit = {
    val t0 = System.nanoTime()
    var done = 0L
    while (out.units.isEmpty || (System.nanoTime() - t0) / 1e9 + out.units.last <= ctx.seconds) {
      val p0 = System.nanoTime()
      statements.foreach { st =>
        run(st, out, layer)
        done += 1
        out.freshMs += (System.nanoTime() - p0) / 1e6
      }
      out.units += (System.nanoTime() - p0) / 1e9
    }
    out.queriesPerS = done / ((System.nanoTime() - t0) / 1e9)
    out.operations = done
    val m = ctx.meta
    out.events = m.get("wire_rows").asDouble + m.get("table_rows").get("events").asDouble
    out.layer("sources.wire_rows") = m.get("wire_rows").asDouble
  }

  /** One statement: build (dialect, SQL or operator call), collect, check;
    * its latency goes to `out.queryMs`. A null `layer` records no layer times. */
  def run(st: Statement, out: Outcome, layer: LayerClock): Unit = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    out.attempt(st.name) {
      ctx.span("client", st.name) {
        val df: DataFrame = st.kind match {
          case Dialect =>
            val b0 = System.nanoTime()
            val d = ctx.span("sources", "ClickHouseSql.execute")(ch.execute(st.text).get)
            if (layer != null) layer.dialect += (System.nanoTime() - b0) / 1e6
            d
          case Reference => ctx.span("sources", "spark.sql")(spark.sql(st.text))
          case Operator =>
            val b0 = System.nanoTime()
            val d = ctx.span("operators", st.name)(SparkEntry.queries(st.name)(spark, ctx.tablesDir))
            if (layer != null) layer.build += (System.nanoTime() - b0) / 1e6
            d
        }
        val rows = ctx.span("spark", "collect")(df.collect())
        val ms = (System.nanoTime() - t0) / 1e6
        if (layer != null && st.kind == Operator) layer.wall(st.name, ms / 1e3)
        out.queryMs += ms
        check(st, rows)
      }
    }
  }

  private def check(st: Statement, rows: Array[Row]): Boolean = {
    val e = ctx.expected
    st.name match {
      case "ch_points_by_house" =>
        rows.map(r => r.getString(0) -> r.getLong(1)).toMap ==
          e.get("ch").get("points_by_house").fields().asScala.map(f => f.getKey -> f.getValue.asLong).toMap
      case "ch_count" => rows.length == 1 && rows(0).getLong(0) == e.get("ch").get("count").asLong
      case "ch_latest" =>
        val x = e.get("ch").get("latest")
        rows.length == 1 && rows(0).getTimestamp(0).getTime == x.get(0).asLong &&
          rows(0).getString(1) == x.get(1).asText && rows(0).getString(2) == x.get(2).asText &&
          rows(0).getAs[Number](3).longValue == x.get(3).asLong
      case "ch_limit" => rows.length == 10
      case "ch_daily_merge" =>
        val want = e.get("ch").get("daily_merge").elements().asScala.map(x =>
          (x.get(0).asLong, x.get(1).asText) ->
            (x.get(2).asLong, x.get(3).asLong, x.get(4).asDouble)).toMap
        rows.length == want.size && rows.forall { r =>
          want.get((r.getTimestamp(0).getTime, r.getString(1))).exists { case (mx, mn, avg) =>
            r.getAs[Number](2).longValue == mx && r.getAs[Number](3).longValue == mn &&
              close(r.getAs[Number](4).doubleValue, avg)
          }
        }
      case "count_all" => rows(0).getLong(0) == e.get("sql").get("count_all").asLong
      case "points_by_house" =>
        val want = e.get("sql").get("points_by_house")
        rows.length == want.size && rows.forall(r => close(r.getDouble(1), want.get(r.getString(0)).asDouble))
      case "latest_event" => rows.length == 1 && rows(0).getLong(0) == e.get("sql").get("latest_event").asLong
      case "attendance_granular" =>
        val want = e.get("sql").get("attendance_granular").elements().asScala.map(x =>
          (x.get(0).asLong, x.get(1).asInt, x.get(2).asText, x.get(3).asLong)).toSet
        val got = rows.map(r => (r.getDate(0).toLocalDate.toEpochDay * 86400000L,
          r.getInt(1), r.getString(2), r.getLong(3))).toSet
        rows.length == want.size && got == want
      case key =>
        val d = Digest.ofRows(rows)
        digests.getOrElseUpdate(key, d) == d
    }
  }
}

object Adhoc {
  sealed trait Kind
  case object Dialect extends Kind
  case object Reference extends Kind
  case object Operator extends Kind
  final case class Statement(name: String, kind: Kind, text: String = "")

  /** The fixed mix, in the order one pass runs it. */
  val mix: Seq[Statement] = Seq(
    Statement("ch_points_by_house", Dialect, ClickHouseDemo.pointsByHouseQuery),
    Statement("ch_count", Dialect, "SELECT count(*) FROM student_entry_events"),
    Statement("ch_latest", Dialect,
      """SELECT timestamp, subject, student.name AS name, points
        |FROM student_entry_events
        |ORDER BY timestamp DESC, name DESC
        |LIMIT 1""".stripMargin),
    Statement("ch_limit", Dialect, "SELECT * FROM student_entry_events LIMIT 10"),
    Statement("ch_daily_merge", Dialect, ClickHouseDemo.dailyMergeQuery)) ++
    Seq("count_all", "points_by_house", "latest_event", "attendance_granular")
      .map(n => Statement(n, Reference, Sql.referenceQueries(n))) ++
    Seq("q1_pricing", "q3_shipping", "q5_region_revenue", "q_top_customers", "q_limit_by")
      .map(n => Statement(n, Operator))

  /** The mix's statements that enter graft's sources layer: the README's
    * ClickHouse-dialect statements and `Sql.referenceQueries`. */
  val sourceStatements: Seq[Statement] = mix.filter(_.kind != Operator)

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
}
