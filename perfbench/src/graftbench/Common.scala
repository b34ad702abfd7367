package graftbench

import java.io.File
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Everything one run shares between its setup and its measured window. */
final class Ctx(
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val cores: Int,
    val dataDir: String,
    val workDir: String,
    val tracer: Tracer) {
  val tablesDir: String = new File(dataDir, "tables").getAbsolutePath
  val expected: JsonNode = Json.read(new File(dataDir, "expected.json"))
  val meta: JsonNode = Json.read(new File(dataDir, "meta.json"))
  var spark: SparkSession = _
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
}

/** What a workload's measured window produced. `units` holds the wall time
  * of each complete unit of work (an ad-hoc pass, a backlog drain, a batch
  * pass); `events` is the input events one unit consumes. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val queryMs = mutable.ArrayBuffer.empty[Double]
  val freshMs = mutable.ArrayBuffer.empty[Double]
  val units = mutable.ArrayBuffer.empty[Double]
  var events = 0.0
  var queriesPerS = 0.0
  /** Operations the per-layer counts are normalised by. */
  var operations = 0L
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Counts another outcome's operations and failures (not its timings). */
  def countChecks(o: Outcome): Unit = {
    attempted += o.attempted
    failed += o.failed
    failures ++= o.failures
  }

  def fail(what: String): Unit = {
    failed += 1
    failures += what
  }

  /** Runs one operation; an exception or a false result is a failure. */
  def attempt(name: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch {
        case e: Throwable =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          failed += 1
          return false
      }
    if (!ok) fail(s"$name: wrong answer")
    ok
  }
}

object Stats {
  /** Linear-interpolation percentile, q in [0, 1]. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  private val mapper = new ObjectMapper()
  def read(f: File): JsonNode = mapper.readTree(f)
  def str(s: String): String = mapper.writeValueAsString(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d).replace("E", "e")
}

/** Order-insensitive result digests. Doubles are compared at nine
  * significant digits, so a float sum whose last bits depend on task order
  * does not count as a different answer. */
object Digest {
  private def norm(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => f"$d%.9e"
    case f: Float => f"${f.toDouble}%.9e"
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b", ".", "")
    case x => x.toString
  }

  def ofRows(rows: Array[Row]): String = {
    val lines = rows.map(norm).sorted
    s"${rows.length}:${scala.util.hashing.MurmurHash3.seqHash(lines.toSeq)}"
  }

  /** Columns renamed by position (outputs may repeat a name) and the
    * aggregate expressions [[DataFrame.observe]] computes over every row
    * while the frame is written. */
  def observed(df: DataFrame, obs: org.apache.spark.sql.Observation): DataFrame = {
    val r = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val parts = r.schema.fields.toSeq.map(f => coalesce(normCol(col(f.name), f.dataType), lit("\u0000")))
    val h = xxhash64(concat_ws("\u0001", parts: _*))
    r.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"), sum(h % 1000003L).as("s"))
  }

  def ofObservation(obs: org.apache.spark.sql.Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("x")}:${m("s")}"
  }

  private def normCol(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) if hasFloat(et) => to_json(transform(c, x => normCol(x, et)))
    case st: StructType if hasFloat(st) =>
      to_json(struct(st.fields.toSeq.map(f => normCol(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: ArrayType | _: StructType | _: MapType => to_json(struct(c))
    case _ => c.cast(StringType)
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case st: StructType => st.fields.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }
}
