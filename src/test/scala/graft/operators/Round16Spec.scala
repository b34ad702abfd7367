package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16 gates: the per-node DOULION report against an INDEPENDENT
  * driver-side replay (projection, coin, per-vertex census, floor,
  * degrees, quantized estimate — full row equality) plus its honest
  * variance band, the train→apply BPE loop against an independent
  * trainer+encoder, the bpeTrain materialization boundary (R > 32), the
  * priority-sampling reservoir against an independent priority replay
  * with the DLT estimator band.
  */
class Round16Spec extends SparkSpec {

  // ---------- q_triangles_approx_nodes ----------

  /** [[Graph.triCoinSql]] replayed in plain Scala Long arithmetic (all
    * operands stay under 2^52 — the same overflow argument as the SQL). */
  private def coin(a: Long, b: Long): Boolean =
    ((((a % 1048576L) * 1048573L + b) % 1048576L) * 2654435761L) % 1048576L < 262144L

  private def perNodeTriangles(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
    val counts = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(a) if c > b && adj(b).contains(c)) {
      // a < b < c by edge-set construction; each triangle found once
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    counts.toMap
  }

  test("trianglesApproxNodes equals the independent replay row-for-row (coin, census, floor, degrees, quantization)") {
    val edges = TradeGraphRef(spark, sf).cotrade()
    val sampled = edges.filter { case (a, b) => coin(a, b) }
    val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, vs) => n -> vs.size.toLong }
    val ts = perNodeTriangles(sampled)
    val expected = ts.toSeq.filter(_._2 >= Graph.TriNodeFloor)
      .sortBy { case (n, t) => (-t, n) }.take(20)
      .map { case (n, t) =>
        (n, t, t * 64L, deg(n), (2000000L * t * 64L) / (deg(n) * (deg(n) - 1L)))
      }
    val got = Graph.trianglesApproxNodes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced an empty per-node report — vacuous gate")
  }

  test("trianglesApproxNodes accuracy: reported estimates stay within a small factor of exact, and the aggregate is census-tight") {
    val edges = TradeGraphRef(spark, sf).cotrade()
    val exact = perNodeTriangles(edges)
    val sampledPer = perNodeTriangles(edges.filter { case (a, b) => coin(a, b) })
    // aggregate unbiasedness: sum over ALL nodes of the per-node
    // estimate = 3·T̂, i.e. the census estimator — inherits its ±10%
    // fixture band (per-node noise cancels in the sum)
    val tExact = exact.values.sum / 3
    val tEst = sampledPer.values.sum * 64L / 3
    val aggErr = math.abs(tEst - tExact).toDouble / tExact
    info(f"aggregate: exact T=$tExact, per-node-sum estimate $tEst (rel err $aggErr%.4f)")
    assert(aggErr <= 0.10)
    // per-node honesty: selection by sampled count favors upward noise
    // (the reported nodes are the estimator's right tail on a tie-heavy
    // fixture), and per-node variance is dominated by shared incident
    // edges — the DECLARED contract is the floor + this factor band,
    // not the census's 1% (that is what t_sampled is reported FOR)
    val got = Graph.trianglesApproxNodes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val worst = got.map { case (n, est) =>
      val ex = exact(n).toDouble
      math.max(est / ex, ex / est)
    }.max
    info(f"worst reported-node estimate factor vs exact: $worst%.3f")
    assert(worst <= 3.0, s"per-node estimate drifted beyond 3x on a reported node (factor $worst)")
  }

  test("trianglesApproxNodes plan shape: the coin samples BELOW the wedge join, never above it") {
    // same pin as Round15Spec's census key: a post-join coin would be
    // result-identical while paying the exact tier's wedge stream
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Graph.trianglesApproxNodes(spark, sf)
    df.collect()
    def kids(p: SparkPlan, intoCaches: Boolean): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case s: InMemoryTableScanExec =>
        if (intoCaches) Seq(s.relation.cachedPlan) else Seq.empty
      case other => other.children
    }
    def coinHere(p: SparkPlan): Boolean =
      p.expressions.exists(_.toString.contains("2654435761"))
    def hasJoin(p: SparkPlan): Boolean =
      p.nodeName.contains("Join") || kids(p, intoCaches = false).exists(hasJoin)
    var coinSeen = 0
    var coinAboveJoin = 0
    def walk(p: SparkPlan): Unit = {
      if (coinHere(p)) {
        coinSeen += 1
        if (kids(p, intoCaches = false).exists(hasJoin)) coinAboveJoin += 1
      }
      kids(p, intoCaches = true).foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(coinSeen > 0, "the sampling coin is absent from the expanded plan")
    assert(coinAboveJoin == 0,
      s"$coinAboveJoin coin node(s) above a join — the per-node tier is paying the exact wedge stream")
  }

  // ---------- text_bpe_apply + the bpeTrain materialization boundary ----------

  /** Independent reference trainer (Round15Spec's construction — plain
    * Scala over a collected histogram; shares nothing with the Spark
    * side's replace-chain). Returns the merge list AND the final state. */
  private def refTrainStates(words: Seq[(String, Long)], rounds: Int)
      : (Seq[(Long, String, String, String, Long)], Seq[(Vector[String], Long)]) = {
    var state: Seq[(Vector[String], Long)] =
      words.map { case (w, c) => (w.toVector.map(_.toString), c) }
    val merges = (1 to rounds).map { k =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((sy, c) <- state; i <- 0 until sy.length - 1)
        counts((sy(i), sy(i + 1))) = counts.getOrElse((sy(i), sy(i + 1)), 0L) + c
      assert(counts.nonEmpty, s"reference trainer out of pairs at round $k")
      val ((a, b), n) = counts.minBy { case ((x, y), m) => (-m, x, y) }
      state = state.map { case (sy, c) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < sy.length) {
          if (i + 1 < sy.length && sy(i) == a && sy(i + 1) == b) { out += a + b; i += 2 }
          else { out += sy(i); i += 1 }
        }
        (out.result(), c)
      }
      (k.toLong, a, b, a + b, n)
    }
    (merges, state)
  }

  private def fixtureWords(): Seq[(String, Long)] = {
    val words = graft.Tables(spark, sf).documents
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // this reference trainer ingests every whitespace token while bpeHist
    // filters to ^[a-z0-9]+$ — assert the fixture keeps the two sides on
    // the same vocabulary, or a future fixture change would fail the
    // equality gates confusingly (or, worse, pass on divergent corpora)
    assert(words.forall(_._1.matches("^[a-z0-9]+$")),
      "fixture corpus is not all-alnum: the spec-side trainer and bpeHist " +
        "would train on different vocabularies")
    words
  }

  test("bpeApply equals the independent trainer's final state tokenized (the train→apply loop)") {
    val words = fixtureWords()
    val (_, finalState) = refTrainStates(words, TextAnalysis.BpeTrainRounds)
    // token histogram of the reference's final symbol state, with the
    // word-state pairing intact for the distinct-word count
    val byTok = collection.mutable.Map.empty[String, (Long, Set[String])]
    for (((sy, c), (w, _)) <- finalState.zip(words); t <- sy) {
      val (n, ws) = byTok.getOrElse(t, (0L, Set.empty[String]))
      byTok(t) = (n + c, ws + w)
    }
    val expected = byTok.toSeq
      .map { case (t, (n, ws)) => (t, n, ws.size.toLong) }
      .sortBy { case (t, n, _) => (-n, t) }.take(30)
    val got = TextAnalysis.bpeApply(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // non-vacuity: the corpus's learned merges must actually fire
    assert(got.exists(_._1.length >= 2), "no multi-char token in the top-30 — merges never applied")
  }

  test("bpeTrain crosses the 32-round materialization boundary unchanged (R=40 vs the reference)") {
    import spark.implicits._
    // three 36+-symbol words = 105+ total merge capacity, so 40 rounds
    // are guaranteed productive (each round consumes >= 1 reduction and
    // the census only empties at single-symbol words); counts tie at 1
    // almost everywhere, so the (n DESC, a, b) argmax order is exercised
    // hard across the BpeMatEvery=32 boundary
    val w1 = "abcdefghijklmnopqrstuvwxyz0123456789"
    val w2 = "9876543210zyxwvutsrqponmlkjihgfedcba"
    val w3 = "a0b1c2d3e4f5g6h7i8j9kalbmcndoepfqgrhsitju"
    val docs = Seq(("d1", s"$w1 $w2 $w3")).toDF("doc_id", "text")
    val words = Seq((w1, 1L), (w2, 1L), (w3, 1L))
    val (expected, _) = refTrainStates(words, 40)
    val got = TextAnalysis.bpeTrainCore(spark, docs, rounds = 40)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(got === expected)
  }

  // ---------- q_reservoir ----------

  /** The md5-derived 24-bit uniform, independently (MessageDigest, not
    * Spark's md5/conv pair). */
  private def h24(docId: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rsv$docId".getBytes("UTF-8"))
    d.take(3).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  test("reservoir equals the independent priority replay and carries the DLT max(w, tau) estimates") {
    val docs = graft.Tables(spark, sf).documents
      .select(col("lang"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val k = Pipeline.ReservoirK
    val byLang = docs.groupBy(_._1).map { case (lang, ds) =>
      val ranked = ds.map { case (_, id, w) => (id, w, (w * 16777216L) / (h24(id) + 1L)) }
        .sortBy { case (id, _, p) => (-p, id) }
      val tau = if (ranked.length > k) ranked(k)._3 else 0L
      lang -> ranked.take(k).map { case (id, w, p) => (id, w, p, math.max(w, tau)) }
    }
    val expected = byLang.flatMap { case (lang, rows) =>
      rows.toSeq.map { case (id, w, p, est) => (lang, id, w, p, est) }
    }.toSet
    val got = Pipeline.reservoir(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === expected)
    // every stratum reports min(k, size) rows
    val sizes = docs.groupBy(_._1).view.mapValues(_.length).toMap
    val gotSizes = got.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    assert(gotSizes === sizes.map { case (l, n) => l -> math.min(k, n) })
  }

  test("reservoir estimator band: per-stratum totals near truth, overall tight (DLT Thm 1 to quantization)") {
    val truth = graft.Tables(spark, sf).documents
      .groupBy("lang").agg(sum("n_chars").as("w")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Pipeline.reservoir(spark, sf).groupBy("lang")
      .agg(sum("w_est").as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === truth.keySet)
    est.foreach { case (lang, e) =>
      val relErr = math.abs(e - truth(lang)).toDouble / truth(lang)
      info(f"$lang: estimate $e vs ${truth(lang)} (rel err $relErr%.4f)")
      assert(relErr <= 0.5, s"$lang stratum estimate drifted: $e vs ${truth(lang)}")
    }
    val totErr = math.abs(est.values.sum - truth.values.sum).toDouble / truth.values.sum
    info(f"overall rel err $totErr%.4f")
    assert(totErr <= 0.25)
  }

  test("reservoir plan shape: the per-stratum rank runs on the bounded heap, not a window sort") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Pipeline.reservoir(spark, sf)
    df.collect()
    def names(p: SparkPlan): Seq[String] = p.nodeName +: (p match {
      case a: AdaptiveSparkPlanExec => names(a.executedPlan)
      case q: QueryStageExec => names(q.plan)
      case s: InMemoryTableScanExec => names(s.relation.cachedPlan)
      case other => other.children.flatMap(names)
    })
    val all = names(df.queryExecution.executedPlan)
    assert(all.exists(_.contains("TopKPerKey")), s"bounded-heap rank absent:\n${all.mkString("\n")}")
    assert(!all.exists(_.startsWith("Window")), s"WindowExec present:\n${all.mkString("\n")}")
  }

  test("reservoir: a stratum with <= k members reports itself exactly (tau absent -> w_est = w)") {
    import spark.implicits._
    // 'xx': 3 docs (< k=20) — all kept, tau undefined, estimate = own
    // weight exactly; 'yy': 25 docs (> k) — 20 kept, each estimate
    // max(w, the 21st priority)
    val docs = (Seq((1L, "xx", 10L), (2L, "xx", 20L), (3L, "xx", 30L)) ++
      (10L until 35L).map(i => (i, "yy", 100L + i)))
      .toDF("doc_id", "lang", "n_chars")
    val got = Pipeline.reservoirCore(docs, Pipeline.ReservoirK).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val xs = got.filter(_._1 == "xx")
    assert(xs.length == 3, "a <= k stratum must report every member")
    assert(xs.forall { case (_, _, w, _, est) => est == w },
      "tau-absent estimates must equal the raw weights exactly")
    val ys = got.filter(_._1 == "yy")
    assert(ys.length == Pipeline.ReservoirK)
    // the 21st priority, independently
    val yPr = (10L until 35L).map(i => ((100L + i) * 16777216L) / (h24(i) + 1L))
      .sortBy(-_)
    val tau = yPr(Pipeline.ReservoirK)
    assert(ys.forall { case (_, _, w, _, est) => est == math.max(w, tau) })
  }

  test("bpeApply: single-char words and fully-merged words tokenize correctly") {
    import spark.implicits._
    // vocabulary {a x3, bc x2}: round 1 merges (b,c); 'a' never merges
    // (1-symbol state has no pairs) and 'bc' collapses to ONE symbol
    val docs = Seq(("d1", "a bc a bc a")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeApplyCore(docs, rounds = 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("a", 3L, 1L), ("bc", 2L, 1L)))
  }
}
