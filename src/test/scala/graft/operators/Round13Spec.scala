package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13 gates: the capped-k-means bucketing of dedup_semantic
  * (`dedup_semantic_kmeans` — benched, not oracle-replayable: Lloyd's
  * float means have no exact DuckDB unroll, so these properties ARE its
  * correctness contract), the LPA/modularity driver-side replays, and
  * the q_pagerank loop-plan regression pin. (The streaming_topk
  * serving-plan pin lives in Round12Spec, not here — r13 doc drift.)
  */
class Round13Spec extends SparkSpec {

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("dedup_semantic_kmeans: hard cap holds, decisions are exact within buckets, runs are deterministic") {
    graft.GraftSession.registerFunctions(spark)
    // cap=8 on the 500-vector fixture: with k=16 the ~31-row average cell
    // FORCES sub-splitting, so the invariant is exercised, not vacuous
    val cap = 8
    val out = Dedup.semanticKMeans(spark, sf, k = 16, cap = cap).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    val byId = out.toMap
    // 1. every vector appears exactly once
    val vecs = graft.Tables(spark, sf).embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    assert(out.length == vecs.length && byId.keySet == vecs.map(_._1).toSet)
    // 2. the HARD cap: no bucket exceeds `cap` members
    val sizes = out.groupBy(_._2._1).view.mapValues(_.length)
    val over = sizes.filter(_._2 > cap)
    assert(over.isEmpty, s"buckets over the cap: ${over.toMap}")
    assert(sizes.size > vecs.length / cap, "fixture produced no sub-splitting")
    // 3. within-bucket exactness: given the bucketing, keep/drop + witness
    //    must equal the brute-force min-id-witness reference (same
    //    contract Round12Spec pins for the sign-bucket instance)
    val vm = vecs.toMap
    out.groupBy(_._2._1).values.foreach { members =>
      val sorted = members.map(_._1).sorted
      sorted.foreach { id =>
        val expected = sorted.takeWhile(_ < id)
          .find(w => cos(vm(w), vm(id)) >= 0.42)
        val (_, dupOf, kept) = byId(id)
        expected match {
          case Some(w) => assert(kept == 0L && dupOf == w,
            s"$id should drop with witness $w, got kept=$kept dup_of=$dupOf")
          case None => assert(kept == 1L && dupOf == -1L,
            s"$id should keep, got kept=$kept dup_of=$dupOf")
        }
      }
    }
    // 4. the fixture exercises both branches
    assert(out.exists(_._2._3 == 0L), "fixture has no within-bucket dups")
    assert(out.exists(_._2._3 == 1L), "fixture keeps nothing")
    // 5. soundness across configs: every emitted witness pair is a true
    //    near-dup pair (>= tau), regardless of bucketing
    out.filter(_._2._3 == 0L).foreach { case (id, (_, w, _)) =>
      assert(cos(vm(w), vm(id)) >= 0.42, s"witness pair ($w, $id) below tau")
    }
    // 6. deterministic: sampled-Lloyd init/iteration is hash-pinned, so a
    //    second run must reproduce the identical labeling
    val again = Dedup.semanticKMeans(spark, sf, k = 16, cap = cap).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(again == byId, "semanticKMeans is not deterministic across runs")
  }

  test("q_label_prop equals a driver-side synchronous-LPA replay") {
    val out = Graph.labelProp(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // reference: the same 4 synchronous rounds, plain Scala
    val pairs = TradeGraphRef(spark, sf).repeatNodes
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    pairs.foreach { case (c, s) => adj(c) ::= s; adj(s) ::= c }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lbl = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lbl).view.mapValues(_.size)
        // max count, tie -> smallest label: the pinned deterministic rule
        n -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }.toMap
    }
    // top-20 by (size desc, label asc) — the query's exact order
    val expSorted = lbl.groupBy(_._2).toSeq.map { case (l, m) =>
      (l, m.keys.toSeq)
    }.sortBy { case (l, ms) => (-ms.size, l) }.take(20).map { case (l, ms) =>
      (if (l % 2 == 0) "customer" else "supplier", l / 2,
        ms.size.toLong, ms.count(_ % 2 == 0).toLong, ms.count(_ % 2 == 1).toLong)
    }
    assert(out == expSorted, s"LPA labeling mismatch:\n got $out\n exp $expSorted")
    // the fixture must form a non-trivial community structure
    assert(out.exists(_._3 > 1), "no community larger than a singleton")
  }

  test("q_modularity equals the driver-side Q of the replayed LPA partition") {
    val row = Graph.modularity(spark, sf).collect().head
    val (gm, gc, gq) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    // replay: the Round13Spec LPA reference labeling, then Q by hand
    val pairs = TradeGraphRef(spark, sf).repeatNodes
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    pairs.foreach { case (c, s) => adj(c) ::= s; adj(s) ::= c }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lbl = adj.map { case (n, nbrs) =>
        n -> nbrs.groupBy(lbl).view.mapValues(_.size)
          .toSeq.maxBy { case (l, c) => (c, -l) }._1
      }.toMap
    }
    val dirEdges = pairs.flatMap { case (c, s) => Seq((c, s), (s, c)) }
    val m = dirEdges.length.toLong
    val a = dirEdges.count { case (u, v) => lbl(u) == lbl(v) }.toLong
    val dc = dirEdges.groupBy { case (u, _) => lbl(u) }.view.mapValues(_.length.toLong)
    val s2 = dc.values.map(d => d * d).sum
    val q = BigDecimal(a.toDouble / m.toDouble - s2.toDouble / (m.toDouble * m.toDouble))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(gm == m, s"directed edge count: got $gm expected $m")
    assert(gc == dc.size, s"community count: got $gc expected ${dc.size}")
    assert(gq == q, s"modularity: got $gq expected $q")
  }

  test("q_pagerank plan shape: the cached edge side is never re-exchanged in the loop") {
    // the r13 headline fix as a regression pin: every per-iteration join
    // must stream the edge cache DIRECTLY (InMemoryTableScan with no
    // Exchange above it on that side); a countless repartition or an
    // un-pinned rank iterate re-introduces one edge-sized exchange per
    // iteration (958 MB x 5 at sf5 before the fix)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val df = Graph.pageRank(spark, sf)
    df.collect() // materialize so the AQE final plan exists
    def expand(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => expand(q.plan)
      case other => other
    }
    // r14 robustness (advice): the original walk assumed the edge cache
    // streams on each rank join's LEFT child and identified rank joins by
    // a 'src' substring in leftKeys — a legitimate future plan that flips
    // build/stream sides or renames the key would make the pin vacuous.
    // This version is side- and name-agnostic: a join "streams the cache
    // directly" iff EITHER child reaches an InMemoryTableScan without
    // crossing an Exchange or another join. The 5 per-iteration rank
    // joins are the only cache consumers in the top-level plan (the deg
    // join lives INSIDE the cached relation), so a regression that
    // re-exchanges the cached edge side drops the count below 5.
    var cacheStreamingJoins = 0
    def directCache(c0: SparkPlan): Boolean = expand(c0) match {
      case _: ShuffleExchangeLike => false
      case n if n.nodeName.contains("InMemoryTableScan") => true
      case n if n.nodeName.contains("Join") => false
      case n => n.children.exists(directCache)
    }
    def walk(p0: SparkPlan): Unit = {
      val p = expand(p0)
      p match {
        case j: ShuffledHashJoinExec =>
          if (j.children.exists(directCache)) cacheStreamingJoins += 1
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(cacheStreamingJoins >= 5,
      s"only $cacheStreamingJoins join(s) stream the edge cache directly " +
        "(expected the 5 per-iteration rank joins) — an exchange has " +
        "appeared above the cached edge side; the r13 cached-partitioning " +
        "fix has regressed (see Graph.pageRank's scaladoc)")
  }

  test("dedup_semantic_kmeans default config emits work at the test fixture") {
    graft.GraftSession.registerFunctions(spark)
    val out = Dedup.semanticKMeans(spark, sf)
    assert(out.count() == graft.Tables(spark, sf).embeddings.count())
  }
}
