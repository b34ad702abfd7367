package graftbench

import org.apache.spark.sql.Observation
import graft.{Sql, SparkEntry}
import graft.operators.Warehouse

/** `batch`: a fixed list of heavy keys, each materialised in full to the
  * `noop` sink, on tables with the shingle layout built. */
final class Batch(ctx: Ctx) extends Workload {
  import Batch._

  /** Digest of each key's output on the priming pass. */
  private val reference = scala.collection.mutable.Map.empty[String, String]

  def setup(): Unit = {
    val spark = ctx.spark
    ctx.span("sources", "Sql.registerTables")(Sql.registerTables(spark, ctx.tablesDir))
    ctx.span("operators", "Warehouse.materializeShingles") {
      Warehouse.materializeShingles(spark, ctx.tablesDir, buckets = ctx.cores)
    }
    ctx.span("client", "warm-up")(spark.table("lineitem").count())
  }

  /** One unmeasured pass: JIT and codegen warm-up, and the reference
    * digests the measured passes must reproduce. */
  override def prime(out: Outcome): Unit = {
    val warm = new Outcome
    pass(warm, null)
    out.countChecks(warm)
  }

  def measure(out: Outcome, layer: LayerClock): Unit = {
    val t0 = System.nanoTime()
    // complete passes: at least one, another only while it should end in the window
    do pass(out, layer)
    while ((System.nanoTime() - t0) / 1e9 + out.units.last <= ctx.seconds)
    out.queriesPerS = out.queryMs.size / ((System.nanoTime() - t0) / 1e9)
    out.operations = out.queryMs.size
    val rows = ctx.meta.get("table_rows")
    out.events = Inputs.map(t => rows.get(t).asDouble).sum
    out.layer("sources.wire_rows") = out.events
  }

  private def pass(out: Outcome, layer: LayerClock): Unit = {
    val p0 = System.nanoTime()
    Keys.foreach { key =>
      val k0 = System.nanoTime()
      out.attempt(key) {
        ctx.span("client", key) {
          val obs = Observation(s"digest_$key")
          val df = ctx.span("operators", key)(SparkEntry.queries(key)(ctx.spark, ctx.tablesDir))
          if (layer != null) layer.build += (System.nanoTime() - k0) / 1e6
          ctx.span("spark", "write.noop") {
            Digest.observed(df, obs).write.format("noop").mode("overwrite").save()
          }
          val done = System.nanoTime()
          if (layer != null) {
            out.queryMs += (done - k0) / 1e6
            out.freshMs += (done - p0) / 1e6
            layer.wall(key, (done - k0) / 1e9)
          }
          val d = Digest.ofObservation(obs)
          reference.getOrElseUpdate(key, d) == d
        }
      }
    }
    if (layer != null) out.units += (System.nanoTime() - p0) / 1e9
  }
}

object Batch {
  val Keys: Seq[String] = Seq(
    "q_components", "q_kcore",
    "pipeline_keep_best", "pipeline_dsir",
    "dedup_minhash_lsh", "dedup_clusters",
    "ref_ch_attendance_daily", "wh_summing_merge",
    "sessionize", "q3_shipping")

  /** Tables whose rows the key list reads (events_per_s counts them). */
  val Inputs: Seq[String] = Seq("customer", "supplier", "orders", "lineitem", "events", "documents")
}
