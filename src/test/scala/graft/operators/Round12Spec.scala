package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12 gates for the widening keys: DSIR importance resampling,
  * SemDeDup-shaped bucketed embedding dedup, the Mann–Whitney rank-sum
  * test, BM25 probe-query retrieval, exact cosine radius search, the
  * binary-quantization Hamming cascade, and the distilled fixed-point
  * GD classifier filter.
  *
  * The SQL oracles already pin VALUES; these tests pin the properties the
  * value-compare can't see — DSIR actually enriches the target slice,
  * dedup_semantic's keep/drop decisions agree with a brute-force
  * within-bucket reference, the distributed no-window rank statistics
  * equal a plain single-partition window formulation, the retrieval
  * cascades equal brute force in their exhaustive configs and hold their
  * plan shapes (broadcast joins, bounded heaps, zero shuffles where
  * promised), and classifier training replays bit-for-bit driver-side.
  */
class Round12Spec extends SparkSpec {

  test("pipeline_dsir keeps exactly n/5 docs and enriches the target (en) slice") {
    val selected = Pipeline.dsir(spark, sf)
    val docs = graft.Tables(spark, sf).documents
    val n = docs.count()
    assert(selected.count() == n / 5, "top-k must keep exactly floor(n/5) docs")
    val enCorpus = docs.filter(col("lang") === "en").count().toDouble / n
    val enSelected =
      selected.filter(col("lang") === "en").count().toDouble / (n / 5)
    // the method's point: importance weights trained on the en slice must
    // over-select en-like documents relative to the corpus base rate
    assert(enSelected > enCorpus,
      f"DSIR selection should enrich the target slice: $enSelected%.3f <= $enCorpus%.3f")
  }

  test("dedup_semantic agrees with the brute-force within-bucket reference") {
    graft.GraftSession.registerFunctions(spark)
    val out = Dedup.semantic(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // brute-force reference: all within-bucket pairs on the collected frame
    val vecs = graft.Tables(spark, sf).embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def bucket(v: Array[Double]): Long =
      (0 until 4).map(i => if (v(i) >= 0) 1L << i else 0L).sum
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byBucket = vecs.groupBy { case (_, v) => bucket(v) }
    val expectedDupOf = byBucket.values.flatMap { members =>
      val sorted = members.sortBy(_._1)
      sorted.flatMap { case (id, v) =>
        sorted.collectFirst {
          case (ida, va) if ida < id && cos(va, v) >= 0.42 => id -> ida
        }
      }
    }.toMap
    assert(out.keySet == vecs.map(_._1).toSet, "every vector must appear in the output")
    vecs.foreach { case (id, v) =>
      val (bkt, dupOf, kept) = out(id)
      assert(bkt == bucket(v), s"bucket mismatch for $id")
      expectedDupOf.get(id) match {
        case Some(w) => assert(kept == 0L && dupOf == w,
          s"$id should be dropped with witness $w, got kept=$kept dup_of=$dupOf")
        case None => assert(kept == 1L && dupOf == -1L,
          s"$id should be kept, got kept=$kept dup_of=$dupOf")
      }
    }
    // the fixture must exercise both branches or the gate proves nothing
    assert(out.values.exists(_._3 == 0L), "fixture has no within-bucket dups")
    assert(out.values.exists(_._3 == 1L), "fixture keeps nothing")
  }

  test("q_mann_whitney equals the single-partition midrank-window formulation") {
    val row = Analytics.mannWhitney(spark, sf).collect().head
    val (n1, n2, u1x2, z) =
      (row.getLong(2), row.getLong(3), row.getLong(4), row.getDouble(5))
    // reference: explicit midranks on the collected (tiny) fixture
    val vals = graft.Tables(spark, sf).events
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), expr("cast(round(value * 100) as bigint)").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sorted = vals.map(_._2).sorted
    val rank2 = sorted.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
      // doubled midrank of the tie block = first 1-based rank + last, summed
      v -> (xs.map(_._2 + 1).sum * 2L / xs.length)
    }
    val r1x2 = vals.filter(_._1 == "purchase").map(x => rank2(x._2)).sum
    val en1 = vals.count(_._1 == "purchase").toLong
    val en2 = vals.count(_._1 == "click").toLong
    assert((n1, n2) == ((en1, en2)))
    assert(u1x2 == r1x2 - en1 * (en1 + 1),
      s"doubled U mismatch: $u1x2 vs ${r1x2 - en1 * (en1 + 1)}")
    val ties = vals.map(_._2).groupBy(identity).values.map(_.length.toLong)
    val tie3 = ties.map(t => t * t * t - t).sum
    val nn = en1 + en2
    val expectedZ = (u1x2.toDouble / 2.0 - en1.toDouble * en2 / 2.0) /
      math.sqrt(en1.toDouble * en2 / 12.0 *
        ((nn + 1).toDouble - tie3.toDouble / (nn.toDouble * (nn - 1))))
    assert(math.abs(z - expectedZ) < 1e-3, s"z mismatch: $z vs $expectedZ")
    // ties exist in cent-rounded values, so the correction must be active
    assert(tie3 > 0, "fixture has no ties - the tie-correction path is untested")
  }

  test("text_bm25 equals a driver-side recomputation and broadcasts the probe join") {
    val out = TextAnalysis.bm25(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the 3-row probe-term scoring join must broadcast")
    assert(plan.contains("TakeOrderedAndProject"),
      "the global top-20 must be a constant-k TakeOrderedAndProject, not a sort")
    assert(!plan.contains("SortMergeJoin"),
      "no full-shuffle join belongs in the bm25 plan")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // reference: same tokenizer output, scored in plain Scala in the same
    // IEEE operand order, quantized to 1e-4 BIGINTs before the per-doc sum
    val docs = graft.Tables(spark, sf).documents
    val toks = docs.select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("tk"))
      .filter(expr("size(tk) >= 1"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val nDocs = docs.count()
    val dl = toks.map { case (id, tk) => id -> tk.length.toLong }.toMap
    val tf = toks.flatMap { case (id, tk) => tk.map(t => (id, t)) }
      .groupBy(identity).map { case ((id, t), xs) => (id, t, xs.length.toLong) }
    val dfreq = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val probe = dfreq.toSeq.sortBy { case (t, d) => (-d, t) }.zipWithIndex
      .collect { case ((t, d), i) if Set(0, 6, 22)(i) => t -> d }.toMap
    assert(probe.size == 3, "fixture must yield all three probe terms")
    val avgdl = math.floor(dl.values.sum.toDouble / dl.size * 1e4 + 0.5) / 1e4
    val expected = tf.filter(x => probe.contains(x._2)).groupBy(_._1)
      .map { case (id, xs) =>
        id -> xs.map { case (_, t, f) =>
          val d = probe(t)
          math.floor(math.log((nDocs.toDouble - d + 0.5) / (d + 0.5) + 1.0)
            * ((f.toDouble * 2.2)
              / (f.toDouble + 1.2 * (0.25 + 0.75 * (dl(id).toDouble / avgdl))))
            * 1e4 + 0.5).toLong
        }.sum
      }.toSeq.sortBy { case (id, s) => (-s, id) }.take(20)
    assert(got == expected, s"top-20 mismatch:\n got      $got\n expected $expected")
  }

  test("ann_range equals the brute-force radius reference and never shuffles") {
    graft.GraftSession.registerFunctions(spark)
    val out = Similarity.rangeSearch(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      "radius search must be one narrow broadcast stage - no shuffle anywhere")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute-force reference: sequential-fold dot products on the
    // collected frame, membership on the 1e-6-rounded score
    val vecs = graft.Tables(spark, sf).embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; for (i <- a.indices) s += a(i) * b(i); s
    }
    def rnd(x: Double, p: Int): Double =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (for {
      (qid, va) <- vecs if qid < 10
      (nid, vb) <- vecs if nid >= 10
      cos = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      if rnd(cos, 6) >= 0.2
    } yield (qid, nid) -> rnd(cos, 4)).toMap
    assert(got.nonEmpty, "fixture must yield a nonempty radius result")
    assert(got == expected,
      s"radius mismatch: extra=${(got.keySet -- expected.keySet).take(5)} " +
        s"missing=${(expected.keySet -- got.keySet).take(5)}")
  }

  test("ann_hamming with an exhaustive shortlist equals brute-force top-k") {
    graft.GraftSession.registerFunctions(spark)
    // shortlist >= corpus: every vector reaches the exact rerank, so the
    // cascade IS brute force (the ann_lsh/ann_ivf calibration pattern)
    val exhaustive = Similarity.hammingTopK(spark, sf, shortlist = 1000)
      .select("q_id", "n_id", "score", "rnk").collect().map(_.toSeq).toSet
    val exact = Similarity.topK(spark, sf)
      .select("q_id", "n_id", "score", "rnk").collect().map(_.toSeq).toSet
    assert(exhaustive == exact,
      "exhaustive-shortlist cascade must equal the brute-force oracle tier")
  }

  test("ann_hamming pruned cascade: recall floor, heap + broadcast plan shape") {
    graft.GraftSession.registerFunctions(spark)
    val pruned = Similarity.hammingTopK(spark, sf)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("hamming64"),
      "the shortlist stage must score via the native hamming64 expression")
    assert(plan.contains("TopKPerKey 50,") && plan.contains("TopKPerKey 5,"),
      "both rank stages must run as the bounded-heap operator, not a sort")
    assert(!plan.contains("Window "),
      "no WindowExec partition sort belongs in the cascade")
    assert(!plan.contains("SortMergeJoin"),
      "the re-fetch joins are candidate-set-sized and must broadcast")
    // recall@5 vs the exact tier: 64-bit sign sketches + a 50-deep
    // shortlist keep most true neighbors on this corpus; floor at 60%
    val got = pruned.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.topK(spark, sf).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, f"hamming cascade recall@5 too low: $recall%.2f")
  }

  test("pipeline_classifier_filter equals a driver-side fixed-point replay and enriches the label") {
    val out = Pipeline.classifierFilter(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // driver replay: same tokenizer + md5 dims, same integer grids, same
    // hard-sigmoid GD with round-half-up updates and Polyak-summed
    // iterates — every operation exact, so equality is bitwise
    val docs = graft.Tables(spark, sf).documents
      .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("tk"))
      .collect().map(r => (r.getLong(0),
        Option(r.getSeq[String](1)).getOrElse(Seq.empty[String])))
    val stops = Set("the", "a", "of", "and", "in", "to", "is")
    def dimOf(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((h(0).toInt & 0xff).toLong) % 256L
    }
    val feats = docs.map { case (id, tk) =>
      val nTok = tk.length.toLong
      val nStop = tk.count(stops).toLong
      val y = if (nTok > 0 &&
        math.min(10000L, nTok * 100L) * (10000L - nStop * 10000L / nTok) >= 50000000L)
        1L else 0L
      val grams = tk ++ tk.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      (id, y, grams.map(dimOf).toArray :+ -1L)
    }
    val n = feats.length.toLong
    def z(w: Map[Long, Long], dims: Array[Long]): Long =
      dims.map(w.getOrElse(_, 0L)).sum
    def s6(zv: Long): Long =
      math.max(0L, math.min(1000000L, Math.floorDiv(zv, 4L) + 500000L))
    var w = Map.empty[Long, Long]
    var polyak = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val g = scala.collection.mutable.Map.empty[Long, Long]
      feats.foreach { case (_, y, dims) =>
        val e = s6(z(w, dims)) - y * 1000000L
        dims.foreach(d => g(d) = g.getOrElse(d, 0L) + e)
      }
      w = g.map { case (d, gv) =>
        d -> (w.getOrElse(d, 0L) -
          Math.floorDiv(2L * 5L * gv + 10L * n, 2L * 10L * n))
      }.toMap
      polyak = w.map { case (d, v) => d -> (polyak.getOrElse(d, 0L) + v) }
    }
    val scored = feats.map { case (id, y, dims) => (id, y, z(polyak, dims)) }
    val k = n / 5L
    val keptIds = scored.sortBy { case (id, _, s) => (-s, id) }
      .take(k.toInt).map(_._1).toSet
    val expected = scored.map { case (id, y, s) =>
      id -> ((y, s, if (keptIds(id)) 1L else 0L))
    }.toMap
    assert(out == expected, {
      val bad = out.collect { case (q, v) if expected.get(q) != Some(v) =>
        (q, v, expected.get(q)) }.take(3)
      s"fixed-point replay mismatch, e.g. $bad"
    })
    // the method's point: the kept top-n/5 must be ENRICHED in the
    // distillation label relative to the corpus base rate
    assert(out.values.count(_._3 == 1L).toLong == k, s"must keep exactly $k docs")
    val kept = out.values.filter(_._3 == 1L)
    val prec = kept.count(_._1 == 1L).toDouble / kept.size
    val base = out.values.count(_._1 == 1L).toDouble / out.size
    assert(prec > base,
      f"distilled selection must enrich the label: precision $prec%.3f <= base $base%.3f")
  }

  test("pipeline_dsir degrades gracefully on a zero-token corpus") {
    // every text NULL or empty -> the feature stream has only null dims,
    // dist is EMPTY and the total sums come back NULL; the operator must
    // select floor(n/5) docs at score 0 (doc_id tiebreak), matching the
    // oracle's LEFT JOIN degradation - not NPE on Row.getLong
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dsir-empty").toString
    Seq((1L, "en", null: String), (2L, "de", ""), (3L, "en", "   "),
      (4L, "fr", null: String), (5L, "en", ""))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Pipeline.dsir(spark, dir).collect()
    assert(out.length == 1, s"floor(5/5)=1 doc expected, got ${out.length}")
    assert(out.head.getLong(0) == 1L, "score-0 tiebreak must keep min doc_id")
    assert(out.head.getLong(2) == 0L, "zero-token corpus must score 0")
  }

  test("q_pagerank equals a driver-side integer replay; bounded top-k, no window") {
    val out = Graph.pageRank(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 must run as the bounded TakeOrderedAndProject, not a global sort")
    // the LOOP must stay window-free (ranks via join+aggregate, never a
    // window over the node set); the one-time edge BUILD below the cache
    // legitimately uses a window sum for wtot since r19 (it rides the
    // single explicit src exchange instead of a second degree-join
    // exchange). r20 (ADVICE): the check walks the physical plan TREE
    // and stops descending at the cache boundary, instead of splitting
    // the printed string on "InMemoryRelation" — the string split
    // assumed loop operators always print above the first cached
    // relation, which a plan-printing change or an early-printed second
    // cache would silently break.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windowAboveCache(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec => false
      case _: WindowExec => true
      case a: AdaptiveSparkPlanExec => windowAboveCache(a.executedPlan)
      case q: QueryStageExec => windowAboveCache(q.plan)
      case r: ReusedExchangeExec => windowAboveCache(r.child)
      case other => other.children.exists(windowAboveCache)
    }
    assert(!windowAboveCache(out.queryExecution.executedPlan),
      "no WindowExec belongs in the rank loop (above the edge cache)")
    assert(plan.contains("InMemoryTableScan"),
      "the edge frame must be cached once and re-read per iteration")
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    // exact replay of the 1e-12-unit recurrence on the collected graph
    val edges = TradeGraphRef(spark, sf).weightedNodes
      .flatMap { case (c, s2, wt) => Seq((c, s2, wt), (s2, c, wt)) }
    val wtot = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.map(_._1).distinct.sorted
    val r0 = 1000000000000L / nodes.size
    var rank = nodes.map(_ -> r0).toMap
    for (_ <- 1 to 5) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst, wt) => inflow(dst) += rank(src) * wt / wtot(src) }
      rank = nodes.map(n => n -> (15L * r0 + 85L * inflow(n)) / 100L).toMap
    }
    val expected = rank.toSeq.sortBy { case (n, rk) => (-rk, n) }.take(20)
      .map { case (n, rk) => (if (n % 2 == 0) "customer" else "supplier", n / 2, rk) }
    assert(rows == expected, s"rank recurrence must replay bit-for-bit; " +
      s"got ${rows.take(3)} vs ${expected.take(3)}")
  }

  test("text_bpe_encode equals a driver-side merge-rule replay over the vocabulary") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    // driver replay of the exact step rule: leftmost occurrence of the
    // min-rank adjacent pair, one merge per step, until no pair ranks
    val rank = TextAnalysis.bpeMerges.zipWithIndex
      .map { case ((a, b), i) => (a, b) -> (i + 1) }.toMap
    def encode(w: String): Seq[String] = {
      var syms = w.map(_.toString)
      var done = false
      while (!done) {
        val ranked = syms.indices.dropRight(1)
          .flatMap(i => rank.get((syms(i), syms(i + 1))).map(r => (r, i)))
        if (ranked.isEmpty) done = true
        else {
          val best = ranked.minBy { case (r, i) => (r, i) }._1
          val pos = ranked.filter(_._1 == best).map(_._2).min
          syms = syms.take(pos) ++ Seq(syms(pos) + syms(pos + 1)) ++ syms.drop(pos + 2)
        }
      }
      syms
    }
    val docs = graft.Tables(spark, sf).documents
    val words = docs.selectExpr(s"explode(${TextAnalysis.tokensExpr}) AS w")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // tokens of every encoded word must reconstruct the word (lossless)
    words.foreach { case (w, _) =>
      assert(encode(w).mkString == w, s"encode must be lossless for '$w'") }
    // expected histogram from the replay
    val hist = scala.collection.mutable.Map.empty[String, (Long, Long)]
    words.foreach { case (w, c) =>
      encode(w).groupBy(identity).foreach { case (tok, occ) =>
        val (nt, nw) = hist.getOrElse(tok, (0L, 0L))
        hist(tok) = (nt + c * occ.size, nw + 1)
      }
    }
    val expected = hist.toSeq.map { case (t, (nt, nw)) => (t, nt, nw) }
      .sortBy { case (t, nt, _) => (-nt, t) }.take(30)
    val out = TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == expected, s"histogram must replay exactly; " +
      s"got ${out.take(5)} vs ${expected.take(5)}")
    // and the merge table must actually fire on this corpus — a frozen
    // tokenizer that never merges would pass the lossless check trivially
    assert(out.exists(_._1.length > 1), "at least one multi-char token expected")
  }

  test("q_components labeling equals a driver-side union-find; round 8 is a fixed point") {
    // brute-force reference: union-find over the same w>=2 edge rule
    val edges = TradeGraphRef(spark, sf).repeatNodes
    assert(edges.nonEmpty, "fixture must produce repeat-trade edges")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expected = nodes.map(n => (n, find(n))).toSet

    val got = Graph.componentMembers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"star labeling must equal union-find; diff=${(got diff expected).take(3)} / ${(expected diff got).take(3)}")
    // the fixed-round contract: one more alternation changes nothing
    val extra = Graph.componentMembers(spark, sf, rounds = 9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(extra == got, "round 8 must already be a fixed point on the fixture")
    // and the aggregated key agrees with the reference's component sizes
    val sizes = expected.groupBy(_._2).map { case (root, m) => root -> m.size.toLong }
    val top = Graph.components(spark, sf).collect()
    top.foreach { r =>
      val root = r.getLong(1) * 2 + (if (r.getString(0) == "supplier") 1 else 0)
      assert(sizes(root) == r.getLong(2), s"component $root size mismatch")
      assert(r.getLong(2) == r.getLong(3) + r.getLong(4), "type split must sum to size")
    }
  }

  test("text_chunk equals a driver-side replay and stays map-side (no keyed shuffle)") {
    val out = TextAnalysis.chunk(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      "chunking must be one narrow map-side pass — no keyed exchange")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val (win, stride) = (16, 12)
    val expected = graft.Tables(spark, sf).documents
      .select("doc_id", "text").collect().flatMap { r =>
        val tk = r.getString(1).split(" ").filter(_.nonEmpty)
        val n = tk.length
        if (n == 0) Seq.empty
        else {
          val k = 1 + (if (n > win) (n - win + stride - 1) / stride else 0)
          (0 until k).map { ci =>
            val len = math.min(win, n - ci * stride)
            val slice = tk.slice(ci * stride, ci * stride + len)
            (r.getLong(0), ci.toLong, len.toLong, md5hex(slice.mkString(" ")))
          }
        }
      }.toSet
    assert(got == expected, s"chunk grid must replay exactly; " +
      s"diff=${(got diff expected).take(3)} / ${(expected diff got).take(3)}")
    // overlap sanity: consecutive chunks of a long doc share win-stride tokens
    val longDoc = graft.Tables(spark, sf).documents
      .select("doc_id", "text").collect()
      .find(_.getString(1).split(" ").count(_.nonEmpty) > win)
    assert(longDoc.isDefined, "fixture should contain a doc longer than one window")
  }

  test("q_triangles equals a brute-force triangle count with exact clustering coefficients") {
    val edges = TradeGraphRef(spark, sf).cotrade().toSeq
    assert(edges.nonEmpty, "fixture must produce co-trade edges")
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    // brute force: for each edge, intersect neighborhoods; each triangle
    // is seen once per edge = 3 times total
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var total3 = 0L
    edges.foreach { case (a, b) =>
      (adj(a) intersect adj(b)).foreach { c => triPerNode(c) += 1L; total3 += 1L }
    }
    // per-edge common-neighbor counting hits each node once per INCIDENT
    // edge pair: node u is counted via edges (v,w) — exactly its triangle
    // count; but the loop above credits the THIRD vertex of each edge, so
    // each triangle credits all three vertices exactly once overall
    assert(total3 % 3 == 0, "each triangle must be seen via its three edges")
    val expected = triPerNode.toSeq
      .map { case (n, tri) => (n, tri, deg(n), 2000000L * tri / (deg(n) * (deg(n) - 1))) }
      .sortBy { case (n, tri, _, _) => (-tri, n) }.take(20)
    val got = Graph.triangles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"triangle counts must match brute force; " +
      s"got ${got.take(3)} vs ${expected.take(3)}")
    assert(got.exists(_._2 > 0), "fixture must contain at least one triangle")
  }

  test("q_hits equals a driver-side integer replay; bounded top-k per side") {
    val out = Graph.hits(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "per-side top-10 must be the bounded TakeOrderedAndProject")
    val got = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    val edges = TradeGraphRef(spark, sf).w.toSeq.map { case ((c, s), n) => (c, s, n) }
    val m = 1000000000L
    val custs = edges.map(_._1).distinct
    var hub = custs.map(_ -> (m / custs.size)).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 4) {
      val ar = edges.groupBy(_._2).view
        .mapValues(_.map { case (c, _, wt) => hub(c) * wt }.sum).toMap
      val at = ar.values.sum
      auth = ar.view.mapValues(r => r * m / at).toMap
      val hr = edges.groupBy(_._1).view
        .mapValues(_.map { case (_, s, wt) => auth(s) * wt }.sum).toMap
      val ht = hr.values.sum
      hub = hr.view.mapValues(r => r * m / ht).toMap
    }
    val expected =
      auth.toSeq.sortBy { case (s, a) => (-a, s) }.take(10)
        .map { case (s, a) => ("authority", s, a) } ++
      hub.toSeq.sortBy { case (c, h) => (-h, c) }.take(10)
        .map { case (c, h) => ("hub", c, h) }
    assert(got == expected, s"HITS recurrence must replay bit-for-bit; " +
      s"got ${got.take(3)} vs ${expected.take(3)}")
  }

  test("text_collocations equals a driver-side PMI replay and ranks real collocations") {
    val docs = graft.Tables(spark, sf).documents.select("text").collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty).toSeq)
    val uni = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bg = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach { tk =>
      tk.foreach(uni(_) += 1L)
      tk.sliding(2).withFilter(_.size == 2).foreach(p => bg(p.mkString(" ")) += 1L)
    }
    val n = bg.values.sum
    val expected = bg.toSeq.collect { case (b, cab) if cab >= 5 =>
      val Array(a, c) = b.split(" ", 2)
      val pmi = math.floor(math.log((n * cab).toDouble / (uni(a) * uni(c)).toDouble) * 1e6 + 0.5).toLong
      (b, cab, uni(a), uni(c), pmi)
    }.sortBy { case (b, _, _, _, p) => (-p, b) }.take(30)
    val got = TextAnalysis.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, s"PMI ranking must replay exactly; " +
      s"got ${got.take(3)} vs ${expected.take(3)}")
    // PMI must actually reorder vs raw counts on this corpus (else the
    // key degenerates to text_bigrams)
    val byCount = bg.toSeq.filter(_._2 >= 5).sortBy { case (b, c) => (-c, b) }
      .take(30).map(_._1)
    assert(got.map(_._1) != byCount, "PMI order should differ from raw-count order")
  }

  test("pipeline_data_card equals a driver-side rollup replay; ALL row sums the sources") {
    val got = Pipeline.dataCard(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val langs = TextAnalysis.langId(spark, sf).select("doc_id", "pred_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "source", "n_chars", "text").collect()
      .map(r => (r.getString(1), r.getLong(2),
        r.getString(3).split(" ").count(_.nonEmpty).toLong,
        r.getString(3), langs(r.getLong(0))))
    def card(rows: Seq[(String, Long, Long, String, String)], label: String) = {
      val nd = rows.size.toLong
      val nt = rows.map(_._3).sum
      val nc = rows.map(_._2).sum
      val nu = rows.map(_._4).distinct.size.toLong
      val ne = rows.count(_._5 == "en").toLong
      (label, nd, nt, nc, 100 * nt / nd, 10000 * (nd - nu) / nd, 10000 * ne / nd)
    }
    val expected = (docs.groupBy(_._1).map { case (s, rows) => card(rows.toSeq, s) }.toSeq
      :+ card(docs.toSeq, "ALL")).sortBy(_._1)
    assert(got == expected, s"data card must replay exactly; " +
      s"got ${got.take(2)} vs ${expected.take(2)}")
    assert(got.map(_._1).contains("ALL") && got.size >= 3,
      "fixture must have at least two sources plus the ALL row")
  }

  test("q_seed_distance equals a driver-side capped BFS; unreached reported as -1") {
    val adj = TradeGraphRef(spark, sf).symmetric.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keySet
    val seeds = nodes.toSeq.sorted.take(3)
    val dist = scala.collection.mutable.Map.empty[Long, Long]
    seeds.foreach(dist(_) = 0L)
    var frontier = seeds.toSet
    for (k <- 1 to 4) {
      frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
      frontier.foreach(dist(_) = k.toLong)
    }
    val expected = nodes.toSeq.map(n => (dist.getOrElse(n, -1L), n))
      .groupBy(_._1).toSeq.map { case (d, ns) =>
        (d, ns.size.toLong,
          ns.count(_._2 % 2 == 0).toLong, ns.count(_._2 % 2 == 1).toLong)
      }.sortBy(_._1)
    val got = Graph.seedDistance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"BFS distances must replay exactly; " +
      s"got $got vs $expected")
    assert(got.head._1 == -1L || got.map(_._1).max > 0L,
      "fixture should reach beyond the seed set")
  }

  test("q_degree_dist buckets are exact log2 and cover every node once") {
    val out = Graph.degreeDist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    out.foreach { case (b, _, _, _, lo, hi) =>
      assert(lo >= (1L << b) && hi < (1L << (b + 1)),
        s"bucket $b must contain degrees in [2^$b, 2^${b + 1}): got [$lo, $hi]")
    }
    // node-count conservation against the components fixture edge rule
    val deg = TradeGraphRef(spark, sf).symmetric.groupBy(_._1)
      .map { case (n, es) => n -> es.size.toLong }
    assert(out.map(_._2).sum == deg.size.toLong, "every node exactly once")
    val expected = deg.toSeq.map { case (n, d) =>
      (63 - java.lang.Long.numberOfLeadingZeros(d), n, d)
    }.groupBy(_._1).toSeq.map { case (b, xs) =>
      (b.toLong, xs.size.toLong, xs.count(_._2 % 2 == 0).toLong,
        xs.count(_._2 % 2 == 1).toLong, xs.map(_._3).min, xs.map(_._3).max)
    }.sortBy(_._1)
    assert(out == expected, s"degree histogram must replay exactly; got $out vs $expected")
  }

  test("streaming_topk: streamed state equals the batch answer; rank rides the bounded heap") {
    val out = RefPipeline.streamingTopK(spark, sf)
    assert(out.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "the serving rank must run on the bounded-heap TopKPerKey rewrite")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

    // batch replay: hourly counts per type, top-3 per hour by (n desc, type)
    val rows = graft.Tables(spark, sf).events
      .select(org.apache.spark.sql.functions.unix_timestamp(col("ts")).as("t"),
        col("event_type")).collect()
      .map(r => ((r.getLong(0) / 3600L) * 3600L, r.getString(1)))
    val counts = rows.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((h, ty), n) => (h, ty, n) }
    val expected = counts.groupBy(_._1).toSeq.flatMap { case (h, xs) =>
      xs.sortBy { case (_, ty, n) => (-n, ty) }.take(3).zipWithIndex
        .map { case ((_, ty, n), i) => (h, ty, n, i + 1L) }
    }.sortBy { case (h, _, _, rn) => (h, rn) }
    assert(got == expected, s"streamed top-k must equal the batch rank; " +
      s"got ${got.take(4)} vs ${expected.take(4)}")
    assert(got.nonEmpty && got.exists(_._4 == 3L),
      "fixture must produce at least one full top-3 hour")
  }

  test("q_assortativity equals a driver-side exact-moment replay") {
    val edges = TradeGraphRef(spark, sf).symmetric
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val (n, sx, sy, sxx, syy, sxy) = edges.foldLeft((0L, 0L, 0L, 0L, 0L, 0L)) {
      case ((cn, cx, cy, cxx, cyy, cxy), (u, v)) =>
        val (x, y) = (deg(u), deg(v))
        (cn + 1, cx + x, cy + y, cxx + x * x, cyy + y * y, cxy + x * y)
    }
    val r = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (math.sqrt(n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
        math.sqrt(n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
    val expected = BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Graph.assortativity(spark, sf).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == n, "directed edge count must match")
    assert(out.head.getDouble(1) == expected,
      s"assortativity must replay exactly: got ${out.head.getDouble(1)} vs $expected")
    // symmetric multiset sanity: sx == sy by construction
    assert(sx == sy, "directed edge list must be degree-symmetric")
  }

  test("q_kcore equals a driver-side peel replay; round 8 is a fixed point") {
    def peel(edges0: Seq[(Long, Long)], k: Int, rounds: Int): Seq[(Long, Long, Long)] = {
      var e = edges0
      val prof = scala.collection.mutable.ArrayBuffer(
        (0L, e.map(_._1).distinct.size.toLong, e.size.toLong))
      for (r <- 1 to rounds) {
        val keep = e.groupBy(_._1).collect { case (n, xs) if xs.size >= k => n }.toSet
        e = e.filter { case (u, v) => keep(u) && keep(v) }
        prof += ((r.toLong, e.map(_._1).distinct.size.toLong, e.size.toLong))
      }
      prof.toSeq
    }
    val edges = TradeGraphRef(spark, sf).symmetric
    val expected = peel(edges, 3, 8)
    val got = Graph.kcore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(got == expected, s"peel profile must replay exactly; got $got vs $expected")
    // the fixed-round contract: a 9th round removes nothing
    val nine = peel(edges, 3, 9)
    assert(nine(9)._2 == nine(8)._2 && nine(9)._3 == nine(8)._3,
      "round 9 must be a fixed point on the fixture")
    // and the peel must actually bite (else the key degenerates)
    assert(got.last._2 < got.head._2, "the k=3 peel should remove peripheral nodes")
  }
}
