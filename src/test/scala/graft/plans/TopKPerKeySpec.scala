package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerKeySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def topkQuery(): DataFrame = {
    import spark.implicits._
    val df = spark.range(10000)
      .select(
        (col("id") % 37).as("key"),
        (col("id") * 2654435761L % 1000003L).as("score"),
        col("id"))
    df.withColumn("rnk", row_number().over(
        Window.partitionBy("key").orderBy(col("score").desc, col("id"))))
      .filter(col("rnk") <= 5)
  }

  test("the row_number<=k pattern is planned as TopKPerKeyExec") {
    // physical nodeName strips the Exec suffix; assert on the exec class
    val exec = topkQuery().queryExecution.executedPlan
    val planned = exec.toString.contains("TopKPerKey")
    assert(planned, s"rewrite did not fire:\n$exec")
    assert(!exec.toString.contains("Window "), s"WindowExec still present:\n$exec")
  }

  test("TopKPerKeyExec output equals the WindowExec baseline") {
    val fast = topkQuery().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

    // baseline: same query with the rewrite disabled
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == TopKPerKeyRewrite)
    try {
      val slowDf = topkQuery()
      val slowPlan = slowDf.queryExecution.executedPlan.toString
      assert(!slowPlan.contains("TopKPerKeyExec"))
      val slow = slowDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(fast == slow,
        s"mismatch: onlyFast=${(fast -- slow).take(3)} onlySlow=${(slow -- fast).take(3)}")
    } finally {
      spark.experimental.extraOptimizations = saved
    }
  }

  test("k above MaxK keeps the spill-capable WindowExec plan") {
    import spark.implicits._
    val df = spark.range(1000)
      .select((col("id") % 7).as("key"), col("id"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("key").orderBy(col("id"))))
      .filter(col("rnk") <= TopKPerKeyRewrite.MaxK + 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerKey"), s"rewrite must not fire above MaxK:\n$plan")
    assert(df.count() == 1000L)
  }

  test("the engine's production rankers keep compiling to the bounded-heap operator") {
    // the real filter-on-row_number call sites; if any regresses to
    // WindowExec, its per-key group gets fully sorted in one task at scale
    val rankers = Seq(
      "topSpenders" -> graft.operators.Analytics.topSpenders(spark, sf),
      "ann_topk" -> graft.operators.Similarity.topK(spark, sf),
      "ann_pq rerank" -> graft.operators.Similarity.pqTopK(spark, sf))
    rankers.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), s"$name: rewrite did not fire:\n$plan")
      assert(!plan.contains("Window "), s"$name: WindowExec still present:\n$plan")
    }
  }

  test("TopKPerKeyExec reports its output rows as the numOutputRows metric") {
    val df = topkQuery()
    val n = df.collect().length
    val execs = collect(df.queryExecution.executedPlan) { case e: TopKPerKeyExec => e }
    assert(execs.size == 1, df.queryExecution.executedPlan)
    assert(execs.head.metrics("numOutputRows").value == n.toLong)
  }

  test("every key yields exactly min(k, group size) ranked rows") {
    val rows = topkQuery().collect()
    val byKey = rows.groupBy(_.getLong(0))
    assert(byKey.size == 37)
    byKey.values.foreach { rs =>
      assert(rs.length == 5)
      assert(rs.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    }
  }
}
