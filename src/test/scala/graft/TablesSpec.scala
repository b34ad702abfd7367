package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `Tables` infers each table's schema once, keyed by the table's files,
  * so a rewritten table is read with its new schema and an unchanged one
  * costs no inference job. */
class TablesSpec extends SparkSpec {

  test("a table rewritten under the same path is read back with its new schema") {
    import spark.implicits._
    val dir = GraftSession.scratchDir("graft-tables-spec").toString
    Seq((1L, "a")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    assert(Tables(spark, dir).region.columns.toSeq == Seq("r_regionkey", "r_name"))
    Seq((1L, "a", "c"), (2L, "b", "d")).toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val again = Tables(spark, dir).region
    assert(again.columns.toSeq == Seq("r_regionkey", "r_name", "r_comment"))
    assert(again.where($"r_comment" === "d").count() == 1L)
  }

  test("a second read of an unchanged table launches no Spark job") {
    val sc = spark.sparkContext
    // the first reads may infer
    Tables(spark, sf).lineitem.schema
    Tables(spark, sf).documents.schema
    val jobs = new AtomicInteger
    val marker = "tables-spec-marker"
    val markerSeen = new AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.set(true)
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val t = Tables(spark, sf)
      t.lineitem.schema
      t.documents.schema
      // a marker job: the listener bus delivers in order, so once the
      // marker is seen every job the reads launched has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen.get, "the marker job never reached the listener")
      assert(jobs.get == 0, s"${jobs.get} Spark job(s) launched by a memoized read")
    } finally sc.removeSparkListener(listener)
  }
}
