package graft.operators

import graft.SparkSpec

/** Round-17 gates: the streaming reservoir against its batch sibling
  * (key-level equality at the driver fixture AND a planted multi-file
  * corpus forcing cross-micro-batch admit/evict, with the τ-absent
  * branch), and the bpeApply materialization boundary (R > BpeMatEvery =
  * 32 via the segmented chain, the apply-side twin of Round16Spec's train
  * boundary gate).
  */
class Round17Spec extends SparkSpec {

  // ---------- streaming_reservoir ----------

  test("streamingReservoir equals the batch reservoir on the driver fixture (the batch-equality oracle contract)") {
    val toRows = (df: org.apache.spark.sql.DataFrame) => df
      .select("lang", "doc_id", "n_chars", "priority", "w_est").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val streamed = toRows(RefPipeline.streamingReservoir(spark, sf))
    val batch = toRows(Pipeline.reservoir(spark, sf))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streamingReservoir admit/evict survives micro-batch boundaries (3-file corpus, one batch each) incl. the τ-absent stratum") {
    import spark.implicits._
    val k = Pipeline.ReservoirK
    val dirPath = java.nio.file.Files.createTempDirectory("graft-rsv-stream")
    val dir = dirPath.toString
    try {
      // stratum yy: 3·(k+1) docs split across three files so every batch
      // must evict state admitted by an earlier one; stratum xx: 3 docs
      // (≤ k, τ-absent), all in different files
      val slices = Seq(0, 1, 2).map { s =>
        val yy = (0 until (k + 1)).map(i =>
          (s * (k + 1) + i.toLong, "yy", 100L + s * (k + 1) + i))
        val xx = Seq((1000L + s, "xx", 10L * (s + 1)))
        (yy ++ xx).toDF("doc_id", "lang", "n_chars")
      }
      slices.foreach(_.coalesce(1).write.mode("append").parquet(dir))
      val schema = spark.read.parquet(dir).schema
      val streamed = RefPipeline
        .streamingReservoirFrom(spark, s"$dir/*.parquet", dir, schema, k)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      // the query genuinely ran more than one micro-batch: the yy stratum
      // appears in all three files, so the Update-mode sink must hold
      // multiple emissions for it (maxFilesPerTrigger=1 — one per file)
      val emissions = spark.table("graft_streaming_reservoir")
        .groupBy("lang").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(emissions("yy") === 3L, s"expected one yy emission per file, got $emissions")
      val batch = Pipeline.reservoirCore(
        slices.reduce(_ union _), k).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(streamed === batch)
      val xs = streamed.filter(_._1 == "xx")
      assert(xs.length === 3, "the ≤ k stratum must report every member")
      assert(xs.forall { case (_, _, w, _, est) => est == w },
        "τ-absent estimates must equal the raw weights exactly")
      assert(streamed.count(_._1 == "yy") === k, "the > k stratum must report exactly k members")
    } finally {
      // delete the fixture parquet (the streaming side's checkpoint sits
      // in a GraftSession scratch dir, swept at exit) — without this
      // every spec run leaks the fixture in /tmp. The walk stream
      // must be closed (it holds a directory handle), and one failed
      // delete must not abandon the rest of the cleanup.
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(dirPath)) { w =>
        w.iterator().asScala.toSeq.reverse.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
      }
    }
  }

  // ---------- bpeApply across the BpeMatEvery boundary ----------

  test("bpeApply crosses the 32-round materialization boundary unchanged (R=40 via the segmented chain)") {
    import spark.implicits._
    // Round16Spec's train-boundary fixture verbatim: 105+ merge capacity
    // guarantees 40 productive rounds, and R=40 > BpeMatEvery=32 forces
    // bpeChainSegmented's localCheckpoint path on the APPLY side too
    val w1 = "abcdefghijklmnopqrstuvwxyz0123456789"
    val w2 = "9876543210zyxwvutsrqponmlkjihgfedcba"
    val w3 = "a0b1c2d3e4f5g6h7i8j9kalbmcndoepfqgrhsitju"
    val docs = Seq(("d1", s"$w1 $w2 $w3")).toDF("doc_id", "text")
    val words = Seq((w1, 1L), (w2, 1L), (w3, 1L))
    // independent final state: replay Round16Spec's reference trainer
    var state: Seq[(Vector[String], Long)] =
      words.map { case (w, c) => (w.toVector.map(_.toString), c) }
    for (k <- 1 to 40) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((sy, c) <- state; i <- 0 until sy.length - 1)
        counts((sy(i), sy(i + 1))) = counts.getOrElse((sy(i), sy(i + 1)), 0L) + c
      assert(counts.nonEmpty, s"reference trainer out of pairs at round $k")
      val ((a, b), _) = counts.minBy { case ((x, y), m) => (-m, x, y) }
      state = state.map { case (sy, c) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < sy.length) {
          if (i + 1 < sy.length && sy(i) == a && sy(i + 1) == b) { out += a + b; i += 2 }
          else { out += sy(i); i += 1 }
        }
        (out.result(), c)
      }
    }
    val byTok = collection.mutable.Map.empty[String, (Long, Set[String])]
    for (((sy, c), (w, _)) <- state.zip(words); t <- sy) {
      val (n, ws) = byTok.getOrElse(t, (0L, Set.empty[String]))
      byTok(t) = (n + c, ws + w)
    }
    val expected = byTok.toSeq
      .map { case (t, (n, ws)) => (t, n, ws.size.toLong) }
      .sortBy { case (t, n, _) => (-n, t) }.take(30)
    val got = TextAnalysis.bpeApplyCore(docs, rounds = 40).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
  }
}
