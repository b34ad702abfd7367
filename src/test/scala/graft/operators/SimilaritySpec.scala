package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class SimilaritySpec extends SparkSpec {

  private def topMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("q_id", "n_id", "rnk").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("brute-force topK returns 5 ranked neighbors for each of the 10 queries") {
    val t = topMap(Similarity.topK(spark, sf))
    assert(t.keySet == (0L until 10L).toSet)
    t.values.foreach(ns => assert(ns.size == 5))
  }

  test("IVF with nprobe=2 finds the true nearest neighbor for most queries") {
    val exact = topMap(Similarity.topK(spark, sf))
    val ivf = topMap(Similarity.ivfTopK(spark, sf))
    // recall@1 across 10 queries: IVF probes 2/8 partitions, expect >= 5 hits
    val hits = exact.count { case (q, ns) => ivf.get(q).exists(_.headOption == ns.headOption) }
    assert(hits >= 5, s"IVF recall@1 too low: $hits/10")
  }

  test("IVF knobs work: k=16 cells, nprobe=3, 2 Lloyd iterations") {
    val exact = topMap(Similarity.topK(spark, sf))
    val ivf = topMap(Similarity.ivfTopK(spark, sf, k = 16, nprobe = 3, iters = 2))
    assert(ivf.keySet == (0L until 10L).toSet)
    ivf.values.foreach(ns => assert(ns.size == 5))
    // finer quantizer (16 cells), 3/16 of the corpus probed: still expect a
    // solid fraction of true nearest neighbors (near-dups share cells)
    val hits = exact.count { case (q, ns) => ivf.get(q).exists(_.headOption == ns.headOption) }
    assert(hits >= 3, s"IVF(k=16, nprobe=3) recall@1 too low: $hits/10")
  }

  test("PQ with exact re-rank recovers most true top-5 sets") {
    val exact = topMap(Similarity.topK(spark, sf))
    val pq = topMap(Similarity.pqTopK(spark, sf))
    assert(pq.keySet == (0L until 10L).toSet)
    pq.values.foreach(ns => assert(ns.size == 5))
    // ADC over 8x16 codebooks keeps near neighbors in the top-32 shortlist
    // and the exact re-rank restores their order: expect recall@1 >= 6/10
    // and substantial top-5 overlap on every query
    val hits = exact.count { case (q, ns) => pq.get(q).exists(_.headOption == ns.headOption) }
    assert(hits >= 6, s"PQ recall@1 too low: $hits/10")
    val overlap = exact.map { case (q, ns) => pq(q).toSet.intersect(ns.toSet).size }.sum
    assert(overlap >= 30, s"PQ top-5 overlap too low: $overlap/50")
  }

  test("PQ knobs work: 16 subspaces, 8 codewords, tighter shortlist") {
    val pq = topMap(Similarity.pqTopK(spark, sf, m = 16, k = 8, iters = 1, rerank = 16))
    assert(pq.keySet == (0L until 10L).toSet)
    pq.values.foreach(ns => assert(ns.size == 5))
  }

  test("IVF-PQ composes pruning and compression, still finding true neighbors") {
    val exact = topMap(Similarity.topK(spark, sf))
    val ivfpq = topMap(Similarity.ivfPqTopK(spark, sf))
    assert(ivfpq.keySet == (0L until 10L).toSet)
    ivfpq.values.foreach(ns => assert(ns.size == 5))
    ivfpq.values.flatten.foreach(n => assert(n >= 10))
    // recall is bounded above by the IVF probe (2/8 cells) and below-noised
    // by the ADC approximation; the exact re-rank restores order within the
    // shortlist — expect at least the IVF floor minus one
    val hits = exact.count { case (q, ns) => ivfpq.get(q).exists(_.headOption == ns.headOption) }
    assert(hits >= 4, s"IVF-PQ recall@1 too low: $hits/10")
  }

  test("LSH results, when present, agree with exact cosine ordering") {
    val lsh = topMap(Similarity.lshTopK(spark, sf))
    lsh.foreach { case (q, ns) =>
      assert(q < 10)
      ns.foreach(n => assert(n >= 10)) // neighbors only from the corpus side
      assert(ns.size <= 5)
    }
  }

  // emb_pca is rows-only (no DuckDB hash), so the posexplode_outer rewrite
  // (r20) has no oracle pinning it — this spec is the regression net: the
  // rotation literal is k non-null rows per vector, so outer and inner
  // explode must emit identical rows (exactly k per vec_id, no nulls).
  test("pcaProject emits exactly k non-null component rows per vector") {
    val k = 8
    val pca = Similarity.pcaProject(spark, sf, k)
    val nVecs = graft.Tables(spark, sf).embeddings.count()
    import org.apache.spark.sql.functions._
    val counts = pca.groupBy("vec_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("component").isNull || col("value").isNull, 1)
          .otherwise(0)).as("nulls"))
      .agg(count(lit(1)).as("vecs"),
        min("n").as("mn"), max("n").as("mx"), sum("nulls").as("nulls"))
      .head()
    assert(counts.getLong(0) == nVecs, "one group per corpus vector")
    assert(counts.getLong(1) == k && counts.getLong(2) == k,
      s"every vector must emit exactly $k component rows")
    assert(counts.getLong(3) == 0L, "no null component/value rows")
  }

  // ---------- ann_recall_curve ----------

  test("ivfRecallCurve: recall is monotone in nprobe, candidates nest, and the full probe reproduces brute force") {
    val rows = Similarity.ivfRecallCurve(spark, sf).orderBy("nprobe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === (1L to 8L))
    assert(rows.forall(_._4 == 50L), "10 queries x top-5 exact baseline")
    val recalls = rows.map(_._5)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone: ${recalls.mkString(", ")}")
    val cands = rows.map(_._2)
    assert(cands.zip(cands.tail).forall { case (a, b) => b >= a },
      s"candidate counts not nested: ${cands.mkString(", ")}")
    assert(recalls.last === 1.0, s"full probe must reproduce brute force, got ${recalls.last}")
    assert(recalls.head < 1.0 || cands.head == cands.last,
      "sweep is vacuous: nprobe=1 already at full recall with fewer candidates")
    info(s"curve: ${rows.map(r => s"np=${r._1} cand=${r._2} r@5=${r._5}").mkString("; ")}")
  }

  // ---------- ann_ivfpq_rerank_curve ----------

  test("ivfpqRerankCurve: recall monotone in depth, ∞ endpoint = IVF-exact at the same nprobe, depth-8 point = a literal ivfPqTopK run") {
    val rows = Similarity.ivfpqRerankCurve(spark, sf).orderBy("rerank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Seq(8L, 16L, 32L, 64L, Long.MaxValue))
    assert(rows.forall(_._4 == 50L), "10 queries x top-5 exact baseline")
    val recalls = rows.map(_._5)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone in rerank: ${recalls.mkString(", ")}")
    val rer = rows.map(_._2)
    assert(rer.zip(rer.tail).forall { case (a, b) => b >= a },
      s"re-rank volumes not monotone: ${rer.mkString(", ")}")
    val exact5 = pairs(Similarity.topK(spark, sf))
    // the ∞ endpoint: re-ranking EVERY probed candidate exactly is IVF
    // with exact scoring — the matching nprobe-only point (cells=8,
    // nprobe=2, iters=2, the curve's build parameters)
    val ivf5 = pairs(Similarity.ivfTopK(spark, sf, k = 8, nprobe = 2, iters = 2))
    val infHits = ivf5.intersect(exact5).size.toLong
    assert(rows.last._3 === infHits,
      s"∞ hits ${rows.last._3} != IVF-exact hits $infHits at the same nprobe")
    // the curve's single-plan algebra equals the production composition
    // at an interior depth: hits(8) = |ivfPqTopK(rerank=8) ∩ exact top-5|
    val pq8 = pairs(Similarity.ivfPqTopK(spark, sf, rerank = 8))
    assert(rows.head._3 === pq8.intersect(exact5).size.toLong,
      "depth-8 hits diverge from a literal ivfPqTopK(rerank=8) run")
    // non-vacuity: the sweep must actually move (otherwise the fixture
    // stopped exercising the refinement axis)
    assert(rows.head._2 < rows.last._2,
      "depth 8 already re-ranks every candidate — the sweep is vacuous")
    info(s"curve: ${rows.map(r => s"d=${if (r._1 == Long.MaxValue) "inf" else r._1} " +
      s"rer=${r._2} r@5=${r._5}").mkString("; ")}")
  }

  // ---------- ann_ivfpq_m_curve ----------

  test("ivfpqMCurve: recall monotone in m, m=8 row = rerank curve's rerank=32 row, m=8 = a literal ivfPqTopK run") {
    val rows = Similarity.ivfpqMCurve(spark, sf).orderBy("m").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq === Seq(4, 8, 16))
    assert(rows.forall(_._5 == 50L), "10 queries x top-5 exact baseline")
    // code bytes per vector IS the swept knob
    assert(rows.map(_._2).toSeq === Seq(4L, 8L, 16L))
    // the rerank cost column is m-independent by construction (identical
    // IVF candidate sets — compression never changes what is probed)
    assert(rows.map(_._3).distinct.length === 1,
      s"n_reranked must not vary with m: ${rows.map(_._3).mkString(", ")}")
    val recalls = rows.map(_._6)
    // FIXTURE-PINNED (like the recall-floor specs), not a structural
    // invariant: unlike the nprobe curve (candidate supersets) and the
    // rerank curve (depth nesting), nothing guarantees ADC quality is
    // non-decreasing in m at fixed rerank — finer codes merely tend to
    // rank better. On THIS fixture (seed-pinned data, deterministic
    // k-means inits) the observed recalls are 0.2/0.34/0.36; if a
    // legitimate fixture or codebook-training change reorders them,
    // re-pin rather than suspect the curve.
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone in m on the pinned fixture: ${recalls.mkString(", ")}")
    // the m = 8 row is the SAME point as the rerank curve's rerank = 32
    // row (shared defaults: cells=8, nprobe=2, k=16, iters=2, m=8) — the
    // two sweeps must agree where their axes cross
    val rer32 = Similarity.ivfpqRerankCurve(spark, sf)
      .filter(col("rerank") === 32L).collect().head
    val m8 = rows.find(_._1 == 8).get
    assert(m8._4 === rer32.getLong(2),
      s"m=8 n_hits ${m8._4} != rerank-curve rerank=32 n_hits ${rer32.getLong(2)}")
    assert(m8._3 === rer32.getLong(1),
      s"m=8 n_reranked ${m8._3} != rerank-curve rerank=32 n_reranked ${rer32.getLong(1)}")
    // and both equal the production composition run literally
    val exact5 = pairs(Similarity.topK(spark, sf))
    val pqM8 = pairs(Similarity.ivfPqTopK(spark, sf))
    assert(m8._4 === pqM8.intersect(exact5).size.toLong,
      "m=8 hits diverge from a literal ivfPqTopK() run at the defaults")
    info(s"curve: ${rows.map(r => s"m=${r._1} r@5=${r._6}").mkString("; ")}")
  }

  // ---------- ann_ivfpq_cells_curve ----------

  test("ivfpqCellsCurve: cost column honest, cells=8 row = m-curve m=8 row = rerank-curve rerank=32 row = a literal ivfPqTopK run") {
    val rows = Similarity.ivfpqCellsCurve(spark, sf).orderBy("cells").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq === Seq(4, 8, 16))
    assert(rows.forall(_._5 == 50L), "10 queries x top-5 exact baseline")
    // cost honesty: n_reranked = sum_q min(rerank, ncand) can never
    // exceed the probed candidate volume, and a probed leg reports it
    rows.foreach { r =>
      assert(r._3 <= r._2, s"cells=${r._1}: n_reranked ${r._3} > n_cand ${r._2}")
      assert(r._2 > 0L, s"cells=${r._1}: empty candidate leg")
    }
    // the TRIPLE crossing point: at the shared defaults (cells=8,
    // nprobe=2, m=8, rerank=32, k=16, iters=2) all three sweeps describe
    // the identical configuration — the same coarse build, candidates,
    // codes and admission order — so their rows must agree exactly
    val c8 = rows.find(_._1 == 8).get
    val m8 = Similarity.ivfpqMCurve(spark, sf)
      .filter(col("m") === 8).collect().head
    assert(c8._4 === m8.getLong(3),
      s"cells=8 n_hits ${c8._4} != m-curve m=8 n_hits ${m8.getLong(3)}")
    assert(c8._3 === m8.getLong(2),
      s"cells=8 n_reranked ${c8._3} != m-curve m=8 n_reranked ${m8.getLong(2)}")
    val rer32 = Similarity.ivfpqRerankCurve(spark, sf)
      .filter(col("rerank") === 32L).collect().head
    assert(c8._4 === rer32.getLong(2),
      s"cells=8 n_hits ${c8._4} != rerank-curve rerank=32 n_hits ${rer32.getLong(2)}")
    assert(c8._3 === rer32.getLong(1),
      s"cells=8 n_reranked ${c8._3} != rerank-curve rerank=32 n_reranked ${rer32.getLong(1)}")
    // and the crossing point equals the production composition literally
    val exact5 = pairs(Similarity.topK(spark, sf))
    val pq = pairs(Similarity.ivfPqTopK(spark, sf))
    assert(c8._4 === pq.intersect(exact5).size.toLong,
      "cells=8 hits diverge from a literal ivfPqTopK() run at the defaults")
    info(s"curve: ${rows.map(r =>
      s"cells=${r._1} n_cand=${r._2} r@5=${r._6}").mkString("; ")}")
  }
}
