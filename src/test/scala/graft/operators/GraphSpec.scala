package graft.operators

import graft.SparkSpec

/** The Graph family's gates: each key against a brute-force replay of
  * [[TradeGraphRef]], the trade graph collected driver-side, plus the
  * declared caps and overrides the keys expose. */
class GraphSpec extends SparkSpec {

  private lazy val tradeRef = TradeGraphRef(spark, sf)
  /** The co-trade projection edge set (a < b) at the default smax — the
    * brute-force ground truth for q_transitivity and q_link_predict. */
  private lazy val projEdges: Set[(Long, Long)] = tradeRef.cotrade()

  test("q_transitivity matches a driver-side brute-force 3T/W on the fixture") {
    val deg = projEdges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val tri = projEdges.toSeq.map { case (a, b) =>
      projEdges.count(e => e._1 == a && projEdges((b, e._2)))
    }.sum.toLong // for each edge (a,b): closures via c > b with (a,c),(b,c)
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val row = Graph.transitivity(spark, sf).collect().head
    assert(row.getLong(0) == deg.size, "n_nodes")
    assert(row.getLong(1) == projEdges.size.toLong, "n_edges")
    assert(row.getLong(2) == tri, s"n_triangles: got ${row.getLong(2)}, want $tri")
    assert(row.getLong(3) == wedges, "n_wedges")
    assert(tri > 0 && wedges > 0, "fixture must exercise the non-trivial branch")
    val want = BigDecimal(3.0 * tri.toDouble / wedges.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(row.getDouble(4) - want) < 1e-9, "transitivity chain")
  }

  test("q_link_predict matches brute-force Resource Allocation; cap contract is real") {
    def brute(dmax: Int): Seq[(Long, Long, Long)] = {
      val deg = projEdges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
      val nbrs = projEdges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (z, xs) => z -> xs.map(_._2).toSet }
      val scores = collection.mutable.Map.empty[(Long, Long), Long]
      for ((z, xs) <- nbrs if deg(z) <= dmax; u <- xs; v <- xs if u < v)
        scores((u, v)) = scores.getOrElse((u, v), 0L) + 1000000L / deg(z)
      scores.toSeq.collect { case ((u, v), s) if !projEdges((u, v)) => (u, v, s) }
        .sortBy { case (u, v, s) => (-s, u, v) }.take(20)
    }
    val got = Graph.linkPredict(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty, "fixture has no distance-2 non-edges")
    assert(got == brute(256), "default config vs brute force")
    // soundness: predicted pairs are distance-2 NON-edges
    got.foreach { case (u, v, _) => assert(!projEdges((u, v)), s"($u,$v) is an edge") }
    // the hub cap is a real contract, not dead code: a tight cap must
    // change the answer on the fixture AND still match the capped brute
    // force (so the declared semantics hold at any dmax, and the spec
    // would catch a cap applied after the weight sum instead of before)
    val capped = Graph.linkPredict(spark, sf, dmax = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(capped == brute(3), "dmax=3 vs capped brute force")
    assert(capped != got, "dmax=3 must bind on the fixture (else the cap test is vacuous)")
  }

  test("the smax ubiquitous-supplier cap binds, and an empty projection reads 0 not NULL") {
    // smallest binding cap on the fixture: the max per-supplier
    // repeat-customer count minus one (assert it CAN bind here at all)
    val maxSc = tradeRef.repeat.groupBy(_._2).values.map(_.size).max
    assert(maxSc >= 2, "fixture too thin to exercise the cap")
    assert(maxSc <= Graph.CotradeSmax,
      "default smax must NOT bind on the standard fixture (results must be unchanged)")
    val cappedTruth = tradeRef.cotrade(maxSc - 1)
    assert(cappedTruth != projEdges, "smax = maxSc-1 must bind")
    val row = Graph.transitivity(spark, sf, smax = maxSc - 1).collect().head
    assert(row.getLong(1) == cappedTruth.size.toLong, "capped n_edges")
    // smax=1: every pair-producing supplier dropped => empty projection;
    // the declared W=0 -> 0 contract must read zeros, never NULLs
    val empty = Graph.transitivity(spark, sf, smax = 1).collect().head
    assert(!empty.isNullAt(3) && empty.getLong(3) == 0L, "n_wedges must be 0, not NULL")
    assert(!empty.isNullAt(4) && empty.getDouble(4) == 0.0, "transitivity must be 0.0")
  }

  test("hits quantum override is deterministic and preserves the L1 contract") {
    // the power-law-weight escape hatch (spark.graft.hits.quantum): the
    // oracle owns the default instance; the override must stay a valid
    // HITS fixed point (scores sum to <= m per side, determinism) so a
    // corpus that trips the 1e9 guard has a correct coarser path
    spark.conf.set("spark.graft.hits.quantum", "1000000")
    try {
      val a = Graph.hits(spark, sf).collect().toSeq
      val b = Graph.hits(spark, sf).collect().toSeq
      assert(a == b, "quantum=1e6 run not deterministic")
      assert(a.size == 20, "top-10 per side expected")
      // normalized scores are m-scaled: every score <= m = 1e6 and the
      // top-10 slice sums under the side's total mass
      a.foreach(r => assert(r.getLong(2) <= 1000000L,
        s"score ${r.getLong(2)} exceeds the 1e6 quantum mass"))
    } finally spark.conf.unset("spark.graft.hits.quantum")
  }
}
