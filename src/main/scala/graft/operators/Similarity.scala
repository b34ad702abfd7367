package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]` vectors).
  *
  * Three tiers, same contract (top-k neighbors per query vector):
  *  - [[topK]]        exact brute force — the correctness baseline.
  *  - [[lshTopK]]     random-hyperplane LSH (OR-amplified band tables) —
  *                    the shuffle-light path when the corpus is billions.
  *  - [[ivfTopK]]     IVF (k-means coarse quantizer + nprobe) — the
  *                    FAISS-shaped scale path.
  *
  * All dot products go through the native codegen'd
  * [[graft.functions.DotProduct]] expression (same sequential summation
  * order as the builtin fold, so scores match the DuckDB oracle exactly).
  */
object Similarity {

  private val cosineCol =
    expr("dot_product(va, vb)") / (col("nrma") * col("nrmb"))

  /** The (vec_id, v) embeddings with each float widened exactly to double. */
  private[operators] def doubleVecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))

  /** vec_id, v (double vector), nrm (L2 norm), computed map-side once. */
  private def vecs(spark: SparkSession, dir: String): DataFrame = {
    GraftSession.registerFunctions(spark)
    doubleVecs(spark, dir).withColumn("nrm", expr("sqrt(dot_product(v, v))"))
  }

  /** The query/corpus split every top-k key shares: the vectors with
    * `vec_id < 10` are the queries, the rest is the corpus searched. */
  private val isQuery = col("vec_id") < 10
  private val isCorpus = col("vec_id") >= 10

  /** The query side renamed for [[cosineCol]] (q_id, va, nrma), plus `extra`. */
  private def queries(df: DataFrame, extra: Column*): DataFrame =
    df.filter(isQuery).select(
      Seq(col("vec_id").as("q_id"), col("v").as("va"), col("nrm").as("nrma")) ++ extra: _*)

  /** The corpus side renamed for [[cosineCol]] (n_id, vb, nrmb), plus `extra`. */
  private def corpus(df: DataFrame, extra: Column*): DataFrame =
    df.filter(isCorpus).select(
      Seq(col("vec_id").as("n_id"), col("v").as("vb"), col("nrm").as("nrmb")) ++ extra: _*)

  /** Every (query, corpus) pair with its exact cosine: the tiny query set is
    * broadcast, so the corpus never shuffles. */
  private def bruteForce(e: DataFrame): DataFrame =
    corpus(e).crossJoin(broadcast(queries(e))).withColumn("cosine", cosineCol)

  /** Top-5 per query by (rounded cosine, n_id) — a total order, so the
    * result is deterministic under float reassociation. Output is q_id,
    * n_id, the `carry` columns, score and rnk. */
  private def rankTop5(scored: DataFrame, carry: String*): DataFrame =
    scored
      // filter on the raw row_number, cast afterwards: the filter sitting
      // directly on the window output lets the TopKPerKey rewrite replace
      // WindowExec with the bounded-heap operator (see graft.plans)
      .withColumn("rnk_i", row_number().over(
        Window.partitionBy("q_id").orderBy(round(col("cosine"), 6).desc, col("n_id"))))
      .filter(col("rnk_i") <= 5)
      .select(Seq(col("q_id"), col("n_id")) ++ carry.map(col) ++
        Seq(round(col("cosine"), 4).as("score"), col("rnk_i").cast("long").as("rnk")): _*)

  /** The brute-force exact top-5 (q_id, n_id) pairs and their count: the
    * recall denominator every recall curve pays. */
  private case class ExactTop5(pairs: DataFrame, n: Long) {
    /** Adds n_exact and recall_at_5 = n_hits / n_exact, rounded to 4 places. */
    def withRecall(df: DataFrame): DataFrame =
      df.withColumn("n_exact", lit(n))
        .withColumn("recall_at_5", round(col("n_hits") * 10000.0d / n) / 10000.0d)
  }

  /** Builds, caches and counts the exact top-5 of `e`. Fails loudly on a
    * degenerate corpus (the bpeTrain convention): an empty embeddings table
    * or no query rows would otherwise make every recall point NaN. */
  private def exactTop5(e: DataFrame, caller: String): ExactTop5 = {
    val pairs = GraftSession.trackCache(rankTop5(bruteForce(e)).select("q_id", "n_id"))
    val nExact = pairs.count()
    require(nExact > 0,
      s"$caller: empty exact baseline — the embeddings table has no corpus " +
        "rows or no query rows (vec_id < 10); the recall curve is undefined " +
        "on this input")
    ExactTop5(pairs, nExact)
  }

  /** Contrastive training-pair construction — the CLIP/DPR-style data
    * step that turns an embedded corpus into (anchor, negative_j) rows
    * with similarity labels. Negatives are DETERMINISTIC pseudo-random
    * draws (Knuth multiplicative hash of (anchor, j) mod corpus size —
    * reproducible in any engine, the same philosophy as trainMix's
    * md5-bucket sampling), self-draws skipped, and each pair is scored so
    * downstream filtering can separate easy negatives from hard ones
    * (high-cosine negatives are the valuable ones for contrastive loss).
    *
    * Scale shape: the negative-id table is a pure projection (4 rows per
    * anchor, no data movement), and fetching the negative vectors is ONE
    * equi-join on vec_id — hash-partitioned, no broadcast of the corpus,
    * no cartesian. The anchor side carries its vector through the join;
    * scoring is the codegen'd dot product map-side. At 100 TB this is
    * the same shape as a fact-fact key join; nothing is quadratic.
    * The corpus-size scalar rides a broadcast single-row frame. */
  def contrastivePairs(spark: SparkSession, dir: String, negatives: Int = 4): DataFrame = {
    val e = vecs(spark, dir)
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val anchors = e.select(col("vec_id").as("q_id"), col("v").as("va"), col("nrm").as("nrma"))
      .crossJoin(broadcast(n))
      .select(col("q_id"), col("va"), col("nrma"), col("n_vecs"),
        explode(expr(s"sequence(1, $negatives)")).as("j"))
      // Knuth multiplicative hash, kept in exact BIGINT range: ids and j
      // are small, 2654435761 * q_id + 40503 * j < 2^63 at any real scale
      .withColumn("neg_id", expr("pmod(2654435761 * q_id + 40503 * j, n_vecs)"))
      .filter(col("neg_id") =!= col("q_id")) // no self-negatives
    anchors
      .join(e.select(col("vec_id").as("neg_id"), col("v").as("vb"), col("nrm").as("nrmb")),
        Seq("neg_id"))
      .select(col("q_id"), col("j").cast("long").as("j"), col("neg_id"),
        round(cosineCol, 4).as("score"))
  }

  /** Exact cosine top-5 for each query vector (vec_id < 10) over the rest
    * of the corpus: [[bruteForce]] ranked by [[rankTop5]]. */
  def topK(spark: SparkSession, dir: String): DataFrame =
    rankTop5(bruteForce(vecs(spark, dir)))

  /** Exact cosine RANGE search (`ann_range`) — the radius-query member of
    * the retrieval family (FAISS `range_search` semantics): every corpus
    * vector with cosine ≥ τ of each query vector, NOT a fixed top-k. The
    * production op behind "pull everything similar enough" jobs —
    * near-duplicate candidate harvest, hard-negative mining above a
    * floor, semantic recall sweeps — where k is unknowable in advance.
    *
    * Scale shape: the tiny query set broadcasts (the corpus never
    * shuffles), scoring is the codegen'd dot product map-side, and the
    * τ filter runs INSIDE the same stage — no window, no rank, no
    * aggregate anywhere: scan → broadcast-nest → filter is one narrow
    * pipeline whose output is data-dependent by design. The boundary
    * decision reads round(cosine, 6) ≥ τ so float reassociation can
    * never flip membership (the [[rankTop5]] rounding contract); the
    * banded/indexed siblings (`dedup_minhash_lsh`, `ann_ivf`) remain the
    * sub-linear route when the query side is also corpus-sized. */
  def rangeSearch(spark: SparkSession, dir: String, tau: Double = 0.2): DataFrame =
    bruteForce(vecs(spark, dir))
      .filter(round(col("cosine"), 6) >= tau)
      .select(col("q_id"), col("n_id"), round(col("cosine"), 4).as("score"))

  /** Sign-bit pack of a 32-dim word: bit `i` is set iff dimension
    * `offset + i` of `v` is > 0. Two words cover the 64-dim vectors.
    * The 32-bit word width is the ORACLE contract — DuckDB's checked
    * BIGINT arithmetic cannot form the bit-63 term — and costs nothing:
    * two hamming64 calls over half-empty words are the same two
    * XOR+POPCNT instructions as one call over a full word. The pack is
    * exact integer arithmetic (a sum of distinct powers of two), so
    * fold order is irrelevant and both engines agree bit-for-bit. */
  private def signPack(offset: Int): Column = expr(
    s"""aggregate(transform(slice(v, ${offset + 1}, 32),
       |  (x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)""".stripMargin)

  /** Binary-quantized retrieval cascade (`ann_hamming`) — the 1-bit
    * sibling of [[int8Quantize]] and the fourth point on the engine's
    * quantization axis (float exact / PQ / int8 / binary): sign-bit
    * vectors give 64× scan compression (one bit per dimension) and a
    * Hamming distance that is two XOR+POPCNT instructions, which is how
    * production binary indexes (FAISS `IndexBinaryFlat`, the "binary
    * quantization" tier of vector stores) run their first pass.
    *
    * Cascade: (1) pack each vector into two 32-bit sign words MAP-SIDE —
    * the full-corpus Hamming scan then moves ~17 bytes/row instead of the
    * 512-byte double vector, the point of the method at 100 TB; (2)
    * shortlist the `shortlist` nearest corpus vectors per broadcast query
    * by (hamming, n_id) — the native codegen'd [[graft.functions
    * .HammingDistance64]] per word, ranked by the bounded-heap
    * [[graft.plans.TopKPerKey]] rewrite (never a partition sort); (3)
    * re-fetch ONLY the shortlisted vectors by id (the candidate set is
    * queries × shortlist rows — broadcast, so the corpus side of the
    * re-fetch join never shuffles) and rerank by exact cosine to the
    * final top-5 under the [[rankTop5]] rounding contract. With
    * `shortlist` ≥ corpus the cascade provably equals brute force
    * (every vector reaches the exact rerank) — Round12Spec pins that,
    * the checked config's oracle replays the pruned cascade exactly,
    * and the pruned config's recall floor is spec-asserted. */
  def hammingTopK(spark: SparkSession, dir: String, shortlist: Int = 50): DataFrame = {
    val e = vecs(spark, dir)
    val packed = e.select(col("vec_id"), signPack(0).as("h0"), signPack(32).as("h1"))
    val qp = packed.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("h0").as("a0"), col("h1").as("a1"))
    val cp = packed.filter(isCorpus)
      .select(col("vec_id").as("n_id"), col("h0").as("b0"), col("h1").as("b1"))
    val cand = cp.crossJoin(broadcast(qp))
      .withColumn("hamming",
        (expr("hamming64(a0, b0)") + expr("hamming64(a1, b1)")).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("hamming"), col("n_id"))))
      .filter(col("rn") <= shortlist)
      .select("q_id", "n_id", "hamming")
    rankTop5(corpus(e).join(broadcast(cand), Seq("n_id"))
      .join(broadcast(queries(e)), Seq("q_id"))
      .withColumn("cosine", cosineCol), "hamming")
  }

  /** Deterministic random hyperplanes (fixed seed, JVM-stable LCG),
    * flattened as `tables x planesPerTable` rows of dim doubles. */
  private[operators] def planes(nTables: Int, planesPerTable: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nTables, planesPerTable)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane LSH with OR-amplification: 4 independent hash
    * tables of 6 planes each. A corpus vector meets a query iff they share
    * a bucket in ANY table (explode table-keyed buckets, equi-join,
    * de-dup), then exact cosine rerank inside the candidate set. At
    * billion-vector scale the equi-join on (table, bucket) replaces the
    * cross join; recall is tuned via tables x planes.
    *
    * `probeAll = true` is the exhaustive-multiprobe calibration config
    * (every query probes all 2^6 buckets of every table): the CORPUS side
    * keeps its real hashes — the indexed side, the one that matters at
    * scale — so every candidate still arrives through the bucket
    * equi-join + de-dup machinery, but none can be missed, making the
    * result provably equal to brute-force top-k. That is the config the
    * driver oracle checks against [[topK]]'s SQL (the engine-independent
    * answer); the production pruned config (probe own buckets only) is
    * what SimilaritySpec's recall floor tests. */
  def lshTopK(spark: SparkSession, dir: String, probeAll: Boolean = false): DataFrame = {
    val pl = typedLit(planes(4, 6, 64))
    val e = vecs(spark, dir)
      .withColumn("pl", pl)
      .withColumn("buckets", expr(
        """transform(sequence(0, 3), t ->
          |  aggregate(sequence(0, 5), cast(t * 64 as bigint), (acc, p) ->
          |    acc * 2 + CASE WHEN dot_product(v, element_at(element_at(pl, t + 1), p + 1)) > 0
          |                   THEN 1L ELSE 0L END))""".stripMargin))
    val keyed = e.select(col("vec_id"), col("v"), col("nrm"), explode(col("buckets")).as("bucket"))
    // Exhaustive calibration needs ONE table, not four (r21): a query that
    // probes all 64 buckets of table 0 meets EVERY corpus vector exactly
    // once (each vector hashes into exactly one table-0 bucket), so the
    // candidate set after the bucket equi-join is provably all (q, c)
    // pairs — identical to the old shape's output (the oracle is
    // brute-force cosine). The old shape exploded the CORPUS side across
    // all four tables (4x the vector payload through the bucket exchange
    // — ~2 GB of the key's sf10 shuffle) and probed bucket ids 0..255, of
    // which 192 matched nothing (table t's real ids are 4096·t + p, so
    // every id >= 64 hits no corpus row — the pairs all met in table 0
    // already). Production (probeAll = false) keeps the genuine 4-table
    // OR-amplification join untouched.
    val qKeyed =
      if (probeAll) e.select(col("vec_id"), col("v"), col("nrm"),
        explode(expr("sequence(0L, 63L)")).as("bucket"))
      else keyed
    val cKeyed =
      if (probeAll) e.select(col("vec_id"), col("v"), col("nrm"),
        col("buckets").getItem(0).as("bucket"))
      else keyed
    val cand0 = corpus(cKeyed, col("bucket"))
      .join(queries(qKeyed, col("bucket")), Seq("bucket"))
      .select("q_id", "n_id", "va", "vb", "nrma", "nrmb")
    // The candidate de-dup is only needed when a pair can meet in MORE
    // than one table (production's 4-table OR-amplification). Under
    // probeAll the corpus side carries exactly ONE bucket row per vector
    // and each query probes each bucket id once, so every (q, c) pair is
    // emitted exactly once and dropDuplicates is a no-op BY CONSTRUCTION
    // — but a no-op that shipped every candidate's TWO 64-double vectors
    // through its de-dup exchange (the r21 paired probe: 1,990 MB of the
    // key's sf10 shuffle was this exchange, not the bucket join). Skip
    // it; the cosine is then map-side over the join output and only
    // skinny (q_id, n_id, cosine) rows reach the ranking.
    val cand = if (probeAll) cand0 else cand0.dropDuplicates("q_id", "n_id")
    rankTop5(cand.withColumn("cosine", cosineCol))
  }

  /** df + per-row rank-equivalent squared-L2 distances to every centroid:
    * |v|^2 - 2<v,c> + |c|^2 with the rank-invariant |v|^2 term dropped. */
  private def withCentroids(df: DataFrame, cs: Array[(Int, Array[Double])]): DataFrame =
    df.withColumn("cs", typedLit(cs.map { case (cid, v) => (cid, v.toSeq) }.toSeq))
      .withColumn("dists", expr(
        """transform(cs, c ->
          |  named_struct('d', dot_product(c._2, c._2) - 2.0d * dot_product(v, c._2),
          |               'cid', c._1))""".stripMargin))

  /** Nearest-centroid assignment (adds `cid`). Shared with
    * [[Dedup.semanticKMeans]]'s capped-cell bucketing. */
  private[operators] def assignedTo(df: DataFrame, cs: Array[(Int, Array[Double])]): DataFrame =
    withCentroids(df, cs)
      .withColumn("cid", expr("array_min(dists).cid"))
      .drop("cs", "dists")

  /** Lloyd-trained coarse centroids. Training runs on a bounded
    * deterministic hash-sample (first `max(64*k, 512)` vectors in xxhash64
    * order), NOT the corpus — the same regime [[pqCodebook]] uses, for the
    * same reason: `iters` Lloyd passes over the full frame would be
    * `iters` complete corpus scans at 100 TB, while coarse-quantizer
    * quality only needs a representative sample. The full corpus is
    * touched exactly once, by the caller's final [[assignedTo]] pass.
    * (At test SFs <= the sample size this trains on everything, so the
    * recall specs exercise identical arithmetic.) Hash-sampled init;
    * one bounded collect; only the k x dim centroids leave this call.
    * Shared with [[Dedup.semanticKMeans]]'s capped-cell bucketing. */
  private[operators] def kmeans(e: DataFrame, k: Int, iters: Int): Array[(Int, Array[Double])] =
    lloyd(trainSample(e, math.max(64 * k, 512)), k, iters)
      .zipWithIndex.map { case (v, i) => (i, v) }

  /** The first `n` vectors of `e` in xxhash64(vec_id) order — the bounded,
    * deterministic training sample of [[kmeans]] and [[pqCodebook]],
    * collected to the driver in ONE job (r12): the sample is driver-sized
    * by design, and the previous shape paid iters x (assign + mean +
    * collect) multi-stage DISTRIBUTED jobs over it. The event-logged cost
    * of the ANN index keys was exactly that stage soup (150+ sub-second
    * stages, no heavy stage). */
  private def trainSample(e: DataFrame, n: Int): Array[Array[Double]] =
    e.withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(n)
      .select("v").collect().map(_.getSeq[Double](0).toArray)

  /** Lloyd's k-means over a driver-side sample, in plain Scala: init from
    * the first `k` rows (all of them when the sample is smaller), then
    * `iters` passes of nearest-centroid assignment by the rank-equivalent
    * |c|^2 - 2<v,c> distance and per-cell means, sums running in sample
    * order. Strict `<` keeps the smaller id on a tie (the order
    * [[assignedTo]]'s array_min(struct(d, cid)) uses), and an empty cell
    * keeps its old centroid. */
  private[operators] def lloyd(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val dim = if (sample.isEmpty) 0 else sample(0).length
    var cs = sample.take(k)
    for (_ <- 1 to iters) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      sample.foreach { v =>
        var best = -1
        var bestD = Double.PositiveInfinity
        var ci = 0
        while (ci < cs.length) {
          val c = cs(ci)
          var cc = 0.0
          var vc = 0.0
          var i = 0
          while (i < dim) { cc += c(i) * c(i); vc += v(i) * c(i); i += 1 }
          val d = cc - 2.0 * vc
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cs = Array.tabulate(cs.length)(ci =>
        if (counts(ci) > 0) sums(ci).map(_ / counts(ci)) else cs(ci))
    }
    cs
  }

  /** The nprobe nearest cells of each query vector in `e`, as (q_id, va,
    * nrma, cid) rows. */
  private def probeCells(e: DataFrame, cs: Array[(Int, Array[Double])],
      nprobe: Int): DataFrame =
    queries(withCentroids(e, cs)
      .withColumn("cid", explode(
        expr(s"transform(slice(array_sort(dists), 1, $nprobe), s -> s.cid)"))), col("cid"))

  /** IVF pruning as (q_id, vec_id) candidates: `cells` k-means cells over
    * `e`, the corpus assignment cached, and each query paired with every
    * corpus vector in its `nprobe` nearest cells. */
  private def ivfCandidates(e: DataFrame, cells: Int, nprobe: Int, iters: Int): DataFrame = {
    val coarse = kmeans(e, cells, iters)
    val asg = GraftSession.trackCache(
      assignedTo(e, coarse).select(col("vec_id"), col("cid")))
    val probe = probeCells(e, coarse, nprobe).select("q_id", "cid")
    asg.filter(isCorpus).join(broadcast(probe), Seq("cid")).select("q_id", "vec_id")
  }

  /** IVF: a k-means coarse quantizer; only the k x dim centroid matrix
    * leaves training. Queries probe the `nprobe` nearest centroids and
    * rerank exactly within those inverted lists. The knobs are real
    * tuning parameters (defaults match the driver-contract entry): more
    * cells -> smaller inverted lists but lower recall per probe; more
    * probes -> recall back up at linear cost; more Lloyd iterations ->
    * tighter cells.
    *
    * Training is collect-once: [[kmeans]] pulls the bounded xxhash64
    * sample to the driver and iterates Lloyd locally (r12 — the
    * distributed per-iteration assign/mean/collect jobs were the stage
    * soup the event log blamed for the index keys' wall). Init is a
    * deterministic hash-sample (first k vectors in xxhash64 order), not
    * first-k-by-id, so seeds don't share insertion locality. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 8, nprobe: Int = 2,
      iters: Int = 3): DataFrame = {
    val e = GraftSession.trackCache(vecs(spark, dir))
    val centroids = kmeans(e, k, iters)
    val asg = GraftSession.trackCache(assignedTo(e, centroids))
    val q = probeCells(asg, centroids, nprobe)
    rankTop5(corpus(asg, col("cid")).join(broadcast(q), Seq("cid"))
      .withColumn("cosine", cosineCol))
  }

  /** IVF recall-vs-cost curve (`ann_recall_curve`, bench-only) — the
    * "which config do I ship" calibration artifact every retrieval
    * deployment reads before picking nprobe: ONE index build (the same
    * cells/iters as [[ivfTopK]]), then one row per nprobe = 1..cells,
    * each reporting the exact candidate count its probes score (the cost
    * axis — candidates IS the scan work at any corpus size) and
    * recall@5 against the brute-force exact top-5 (the accuracy axis).
    *
    * The whole sweep is ONE job, not 2·cells+1 (r17; previously a
    * per-nprobe count/score loop): probed cells are nested in nprobe
    * (the nprobe nearest centroids are a prefix of the nprobe+1
    * nearest), so a cell's per-query RANK along [[probeCells]]' exact
    * (d, cid) sort order is the nprobe at which it — and everything in
    * it — joins the candidate set. Two consequences the plan exploits:
    *  - candidates(np) = Σ over (query, cell) pairs with rank ≤ np of
    *    the cell's size — cell sizes × the queries×cells rank table,
    *    no corpus join at all;
    *  - hits(np) = exact-top5 pairs whose cell ranks ≤ np for that
    *    query: [[rankTop5]] orders by a TOTAL order (rounded cosine,
    *    n_id), so an exact-top5 member present in ANY candidate subset
    *    is in that subset's top-5 (fewer than 5 pairs beat it anywhere)
    *    — approx-top5 ∩ exact-top5 = exact-top5 ∩ candidates, and the
    *    per-point re-scoring drops out entirely.
    * Candidate sets are supersets along np, so both axes are
    * non-decreasing by construction, and at nprobe = cells the sweep
    * reproduces brute force exactly (recall 1.0 — the built-in
    * self-check); SimilaritySpec pins monotonicity and the endpoint.
    *
    * Scale shape: one brute-force exact-top5 pass over the cached
    * assignments (the recall DENOMINATOR — any recall curve pays it),
    * then cell-count-sized aggregates; queries and centroids are the
    * only driver-side state. No SQL oracle — like the other sketch-state
    * configs, the accuracy contract lives in the spec and the cost
    * numbers in the bench sidecar. */
  def ivfRecallCurve(spark: SparkSession, dir: String, cells: Int = 8,
      iters: Int = 3): DataFrame = {
    val e = GraftSession.trackCache(vecs(spark, dir))
    val centroids = kmeans(e, cells, iters)
    val asg = GraftSession.trackCache(assignedTo(e, centroids))
    val cellOf = corpus(asg, col("cid")).select("n_id", "cid")
    // per-query cell rank r = the nprobe at which the cell joins the
    // probe set (queries × cells rows, broadcast-sized)
    val cellRank = withCentroids(asg.filter(isQuery), centroids)
      .select(col("vec_id").as("q_id"),
        posexplode(expr("array_sort(dists)")).as(Seq("p", "s")))
      .select(col("q_id"), (col("p") + 1).cast("long").as("cellrank"),
        col("s.cid").as("cid"))
    val exact = exactTop5(asg, "ivfRecallCurve")
    // exact-top5 pairs annotated with their cell's per-query rank
    val hitRank = exact.pairs
      .join(cellOf, Seq("n_id"))
      .join(broadcast(cellRank), Seq("q_id", "cid"))
      .groupBy("cellrank").agg(count(lit(1)).as("h"))
    val sizes = cellOf.groupBy("cid").agg(count(lit(1)).as("sz"))
    val candRank = cellRank.join(sizes, Seq("cid"), "left")
      .groupBy("cellrank")
      .agg(sum(coalesce(col("sz"), lit(0L))).as("c"))
    val perRank = candRank.join(hitRank, Seq("cellrank"), "left")
      .select(col("cellrank"), col("c"), coalesce(col("h"), lit(0L)).as("h"))
    exact.withRecall(spark.range(1, cells + 1).toDF("nprobe")
      .join(broadcast(perRank), col("cellrank") <= col("nprobe"))
      .groupBy("nprobe")
      .agg(sum("c").as("n_candidates"), sum("h").as("n_hits")))
      .orderBy("nprobe")
      .select("nprobe", "n_candidates", "n_hits", "n_exact", "recall_at_5")
  }

  /** Product quantization (PQ, the FAISS `IndexPQ` shape): vectors are cut
    * into `m` subvectors, each quantized to one of `k` learned codewords,
    * so a 64-dim float vector compresses to `m` small codes (16x here).
    * Queries score the WHOLE corpus, but against codes via an ADC
    * (asymmetric-distance) lookup table instead of raw floats — PQ is the
    * COMPRESSION leg of ANN (scan bandwidth / memory), where [[ivfTopK]]
    * is the PRUNING leg; production engines compose them (IVF-PQ).
    *
    * Everything is equi-joins and aggregations — the Spark-first shapes:
    *  - codebook training: one bounded xxhash64-sample collect, Lloyd
    *    iterated locally per subspace on the driver (r12); only the
    *    m x k x (dim/m) codebook leaves training.
    *  - encoding: same join, kept as the columnar (vec_id, m, code) table
    *    — at 100 TB this IS the compressed index layout (m bytes/vector).
    *  - ADC scan: the per-query lookup table (q_id, m, code, partial-dot)
    *    is q x m x k rows, broadcast onto the code table; one (m, code)
    *    equi-join + one (q_id, vec_id) sum reconstructs approximate dots
    *    with no per-pair float-vector math at all.
    *  - exact re-rank of the top `rerank` approximate candidates restores
    *    exactness at the top (the standard PQ refinement step).
    * Approximation quality is asserted in SimilaritySpec (recall vs the
    * brute-force baseline); no SQL oracle — codebooks are engine-specific
    * sketch state, same as LSH/IVF. */
  def pqTopK(spark: SparkSession, dir: String, m: Int = 8, k: Int = 16,
      iters: Int = 3, rerank: Int = 64): DataFrame = {
    val e = GraftSession.trackCache(vecs(spark, dir))
    val pq = pqIndex(e, m, k, iters)
    // ADC over the WHOLE code table (PQ alone = flat compressed scan)
    pqRerankExact(e, pqAdcScores(e, pq.codes.filter(isCorpus), pq.lut), rerank)
  }

  /** IVF-PQ (the FAISS `IndexIVFPQ` shape — how production vector search
    * actually ships): the coarse quantizer PRUNES (only the nprobe probed
    * cells' inverted lists are touched) and the PQ codes COMPRESS (the
    * pruned candidates are ADC-scored against m-byte codes, not raw
    * floats), composing [[ivfTopK]]'s and [[pqTopK]]'s complementary
    * scale levers in one operator. All the moving parts are the shared
    * helpers: k-means cells, sampled-trained codebooks, the columnar code
    * table, per-query LUTs — and the composition itself is two broadcast
    * equi-joins (candidates from the probe, partial dots from the LUT)
    * followed by the same exact re-rank. */
  def ivfPqTopK(spark: SparkSession, dir: String, cells: Int = 8, nprobe: Int = 2,
      m: Int = 8, k: Int = 16, iters: Int = 2, rerank: Int = 32): DataFrame = {
    val e = GraftSession.trackCache(vecs(spark, dir))
    val cand = ivfCandidates(e, cells, nprobe, iters)
    pqRerankExact(e, pqIndex(e, m, k, iters).candidateScores(e, cand), rerank)
  }

  /** IVF-PQ recall-vs-rerank curve (`ann_ivfpq_rerank_curve`,
    * bench-only) — the second knob of the shipped [[ivfPqTopK]]
    * composition: [[ivfRecallCurve]] sweeps the PRUNING axis (nprobe);
    * this sweeps the REFINEMENT axis (exact-re-rank depth) at fixed
    * nprobe, off ONE index build. Each row reports how many candidates
    * the exact re-rank touches (the refinement cost — rerank float
    * scorings per query, capped by the probe's candidate count) and
    * recall@5 against the brute-force exact top-5. The last row is the
    * unlimited depth (`rerank` = Long.MaxValue, "re-rank every probed
    * candidate"): by construction it equals IVF with exact scoring at
    * the same nprobe — the matching point on the nprobe-only curve —
    * and SimilaritySpec pins that equality plus monotonicity.
    *
    * One job, not one per depth (the r17 [[ivfRecallCurve]] algebra):
    * [[pqRerankExact]] admits a candidate iff its ADC rank along the
    * TOTAL order (ascore desc, n_id) is ≤ rerank, and [[rankTop5]]'s
    * exact re-scoring is also a total order — so an exact-top5 member
    * is in the depth-R output iff its ADC rank is ≤ R, and
    * hits(R) = exact-top5 pairs with arank ≤ R: the whole curve reads
    * off one ranked candidate table. n_reranked(R) = Σ_q min(R, the
    * query's candidate count) — a queries-sized aggregate.
    *
    * Scale shape: the corpus is touched by the IVF-PQ build (assign +
    * encode, both one pass) and the exact-top5 denominator; everything
    * after is candidate-sized. No SQL oracle — codebooks are
    * engine-specific sketch state (the [[pqTopK]] convention); the
    * accuracy contract lives in the spec, the cost in the sidecar. */
  def ivfpqRerankCurve(spark: SparkSession, dir: String, cells: Int = 8,
      nprobe: Int = 2, m: Int = 8, k: Int = 16, iters: Int = 2,
      depths: Seq[Long] = Seq(8L, 16L, 32L, 64L, Long.MaxValue)): DataFrame = {
    import spark.implicits._
    val e = GraftSession.trackCache(vecs(spark, dir))
    val cand = ivfCandidates(e, cells, nprobe, iters)
    val approx = GraftSession.trackCache(
      pqIndex(e, m, k, iters).candidateScores(e, cand).select("q_id", "n_id", "ascore"))
    // each candidate's ADC rank = the smallest depth whose exact re-rank
    // sees it (the pqRerankExact admission order, verbatim)
    val aranked = approx.withColumn("arank", row_number().over(
      Window.partitionBy("q_id").orderBy(col("ascore").desc, col("n_id"))))
      .select("q_id", "n_id", "arank")
    val exact = exactTop5(e, "ivfpqRerankCurve")
    // exact-top5 members that are candidates, with their ADC ranks
    // (inner join: a never-probed true neighbor can never be re-ranked)
    val hitRanks = exact.pairs.join(aranked, Seq("q_id", "n_id")).select("arank")
    val perQ = approx.groupBy("q_id").agg(count(lit(1)).as("ncand"))
    val depthDf = depths.toDF("rerank")
    val nRer = depthDf.crossJoin(broadcast(perQ))
      .groupBy("rerank")
      .agg(sum(least(col("rerank"), col("ncand"))).as("n_reranked"))
    val hits = depthDf
      .join(broadcast(hitRanks), col("arank") <= col("rerank"), "left")
      .groupBy("rerank").agg(count(col("arank")).as("n_hits"))
    exact.withRecall(nRer.join(hits, Seq("rerank")))
      .orderBy("rerank")
      .select("rerank", "n_reranked", "n_hits", "n_exact", "recall_at_5")
  }

  /** IVF-PQ recall-vs-code-size curve (`ann_ivfpq_m_curve`, bench-only) —
    * the THIRD knob of the shipped [[ivfPqTopK]] composition, closing the
    * retrieval family's cost model: [[ivfRecallCurve]] sweeps PRUNING
    * (nprobe), [[ivfpqRerankCurve]] sweeps REFINEMENT (exact-re-rank
    * depth), and this sweeps COMPRESSION (m — PQ code bytes per vector)
    * at fixed nprobe and rerank. Each row reports the index footprint
    * (m code bytes/vector — the 100 TB axis: at fixed corpus size the
    * scan bandwidth and index memory scale linearly with m) and recall@5
    * against the brute-force exact top-5.
    *
    * One job across all m, the [[ivfRecallCurve]]/[[ivfpqRerankCurve]]
    * algebra extended by a union axis: the coarse quantizer, the probed
    * candidate set, and the exact-top5 baseline are all m-INDEPENDENT
    * (IVF pruning never looks at codes), so they are built once and
    * shared; only the per-m codebook/encode/ADC legs differ, and those
    * union into ONE frame tagged by m before a single (m, q_id) ADC-rank
    * window. A candidate enters the depth-`rerank` exact re-rank iff its
    * ADC rank along the TOTAL order (ascore desc, n_id) is ≤ rerank, and
    * the re-rank restores the exact order among admissions — so an
    * exact-top5 member survives to the output iff its ADC rank is ≤
    * rerank (the [[ivfpqRerankCurve]] argument, verbatim, per m).
    * n_reranked = Σ_q min(rerank, ncand) is m-independent (same
    * candidates) and carried once for the cost column.
    *
    * By construction the m = 8 row equals [[ivfpqRerankCurve]]'s
    * rerank = 32 row at the shared defaults (same candidates, same
    * codebook arithmetic, same admission order) — SimilaritySpec pins that
    * equality plus recall monotone non-decreasing in m. No SQL oracle —
    * codebooks are engine-specific sketch state (the [[pqTopK]]
    * convention); accuracy lives in the spec, cost in the sidecar. */
  def ivfpqMCurve(spark: SparkSession, dir: String, cells: Int = 8,
      nprobe: Int = 2, rerank: Int = 32, k: Int = 16, iters: Int = 2,
      ms: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val e = GraftSession.trackCache(vecs(spark, dir))
    val cand = GraftSession.trackCache(ivfCandidates(e, cells, nprobe, iters))
    val exact = exactTop5(e, "ivfpqMCurve")
    // per-m ADC legs over the SHARED candidate set, unioned under an m tag
    val scored = ms.map { mi =>
      // cached like pqIndex's subs: the per-m subvector explode has two
      // consumers (the corpus-wide encode and the query-side LUT) —
      // uncached each leg would pay the full corpus explode twice. The
      // codes are not cached: each leg reads them once.
      val subs = GraftSession.trackCache(pqSubvectors(e, mi))
      val cb = pqCodebook(e, mi, k, iters)
      PqIndex(subs, cb, pqEncoded(subs, cb)).candidateScores(e, cand)
        .select(lit(mi).as("m"), col("q_id"), col("n_id"), col("ascore"))
    }.reduce(_.unionAll(_))
    val aranked = scored.withColumn("arank", row_number().over(
      Window.partitionBy("m", "q_id").orderBy(col("ascore").desc, col("n_id"))))
    val hits = aranked.filter(col("arank") <= rerank)
      .join(exact.pairs, Seq("q_id", "n_id"))
      .groupBy("m").agg(count(lit(1)).as("n_hits"))
    // anchor every swept m (a zero-hit leg must still report its row)
    val msDf = {
      import spark.implicits._
      ms.toDF("m")
    }
    // rerank cost is m-independent (identical candidate sets): one scalar
    val nReranked = cand.groupBy("q_id").agg(count(lit(1)).as("ncand"))
      .agg(sum(least(lit(rerank.toLong), col("ncand"))).as("n_reranked"))
    exact.withRecall(msDf.join(broadcast(hits), Seq("m"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .crossJoin(broadcast(nReranked))
      .withColumn("code_bytes_per_vec", col("m").cast("long")))
      .orderBy("m")
      .select("m", "code_bytes_per_vec", "n_reranked", "n_hits", "n_exact",
        "recall_at_5")
  }

  /** IVF-PQ recall-vs-granularity curve (`ann_ivfpq_cells_curve`,
    * bench-only) — the FOURTH and last knob of the shipped [[ivfPqTopK]]
    * composition: [[ivfRecallCurve]] sweeps PRUNING (nprobe),
    * [[ivfpqRerankCurve]] REFINEMENT (rerank depth), [[ivfpqMCurve]]
    * COMPRESSION (m), and this sweeps the coarse quantizer's
    * GRANULARITY (cells) at all three held fixed. At fixed nprobe the
    * probed corpus fraction is ~nprobe/cells, so cells is the scan-
    * bandwidth knob: more cells = fewer candidates scanned per query
    * (`n_cand`, the cost column) against recall lost to true neighbors
    * landing in unprobed cells. The r18 deferral note said "the builds
    * don't share" — true only of the coarse quantizer itself: the PQ
    * codebook, the corpus encode, the per-query LUTs and the exact-top5
    * baseline are all cells-INDEPENDENT and built once, and ADC scores
    * are cells-independent too (the legs only decide candidate
    * MEMBERSHIP), so scoring runs once over the DISTINCT union of all
    * legs' candidates and joins back to the cells-tagged membership.
    * What repeats per cells value is one sample-bounded k-means and one
    * map-side assignment pass over the cached corpus — the irreducible
    * per-leg cost, linear each.
    *
    * Admission algebra per leg is [[ivfpqRerankCurve]]'s verbatim: an
    * exact-top5 member survives the depth-`rerank` exact re-rank iff
    * its ADC rank along the (cells, q_id) total order is ≤ rerank. By
    * construction the cells = 8 row equals [[ivfpqMCurve]]'s m = 8 row
    * AND [[ivfpqRerankCurve]]'s rerank = 32 row — the three sweeps'
    * shared-defaults crossing point (SimilaritySpec pins the triple
    * equality plus a literal [[ivfPqTopK]] run). No SQL oracle —
    * codebooks are engine-specific sketch state (the [[pqTopK]]
    * convention); accuracy lives in the spec, cost in the sidecar. */
  def ivfpqCellsCurve(spark: SparkSession, dir: String,
      cellsSeq: Seq[Int] = Seq(4, 8, 16), nprobe: Int = 2, rerank: Int = 32,
      m: Int = 8, k: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val e = GraftSession.trackCache(vecs(spark, dir))
    val pq = pqIndex(e, m, k, iters)
    // per-cells candidate legs, union'd under a cells tag; cached — the
    // frame feeds the shared scoring, the rank join AND the cost rollup
    val candAll = GraftSession.trackCache(cellsSeq.map { c =>
      val coarse = kmeans(e, c, iters)
      val probe = probeCells(e, coarse, nprobe).select("q_id", "cid")
      assignedTo(e.filter(isCorpus), coarse)
        .select(col("vec_id"), col("cid"))
        .join(broadcast(probe), Seq("cid"))
        .select(lit(c).as("cells"), col("q_id"), col("vec_id"))
    }.reduce(_.unionAll(_)))
    // ONE shared ADC pass over the distinct candidate union
    val scored = GraftSession.trackCache(
      pq.candidateScores(e, candAll.select("q_id", "vec_id").distinct())
        .select("q_id", "n_id", "ascore"))
    val aranked = candAll
      .select(col("cells"), col("q_id"), col("vec_id").as("n_id"))
      .join(scored, Seq("q_id", "n_id"))
      .withColumn("arank", row_number().over(
        Window.partitionBy("cells", "q_id").orderBy(col("ascore").desc, col("n_id"))))
    val exact = exactTop5(e, "ivfpqCellsCurve")
    val hits = aranked.filter(col("arank") <= rerank)
      .join(exact.pairs, Seq("q_id", "n_id"))
      .groupBy("cells").agg(count(lit(1)).as("n_hits"))
    val costs = candAll.groupBy("cells", "q_id").agg(count(lit(1)).as("ncand"))
      .groupBy("cells").agg(sum("ncand").as("n_cand"),
        sum(least(lit(rerank.toLong), col("ncand"))).as("n_reranked"))
    // anchor every swept cells value (a zero-hit leg still reports)
    exact.withRecall(cellsSeq.toDF("cells")
      .join(broadcast(costs), Seq("cells"), "left")
      .join(broadcast(hits), Seq("cells"), "left")
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
      .withColumn("n_reranked", coalesce(col("n_reranked"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L))))
      .orderBy("cells")
      .select("cells", "n_cand", "n_reranked", "n_hits", "n_exact",
        "recall_at_5")
  }

  /** Columnar subvector layout (vec_id, m, sv); 1-based slice, dim 64. */
  private def pqSubvectors(e: DataFrame, m: Int): DataFrame = {
    val sub = 64 / m
    e.select(col("vec_id"), explode(expr(
      s"""transform(sequence(0, ${m - 1}),
         |          mi -> named_struct('m', mi, 'sv', slice(v, mi * $sub + 1, $sub)))""".stripMargin))
      .as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
  }

  private def pqCbDf(spark: SparkSession, cb: Seq[(Int, Int, Seq[Double])]): DataFrame =
    spark.createDataFrame(cb).toDF("m", "code", "c")

  /** (vec_id, m, code): nearest codeword per subvector — a MAP-SIDE
    * argmin over the codebook literal (r12; previously a broadcast join
    * that exploded every subvector into k rows and aggregated them back:
    * a corpus-row-count × k row stream plus a (vec_id, m) shuffle, for
    * an argmin each row can compute locally). `transform` scores every
    * codeword (|sv|^2 dropped: rank-invariant per row), `array_position
    * (ds, array_min(ds))` takes the FIRST minimum — the same smaller-
    * code tie rule as the old min(struct(d, code)). No shuffle at all:
    * at 100 TB the encode is one pass over the corpus, exactly what a
    * PQ index build should be. */
  private def pqEncoded(frame: DataFrame, cb: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val m = cb.map(_._1).max + 1
    val byM: Seq[Seq[Seq[Double]]] =
      (0 until m).map(mi => cb.filter(_._1 == mi).sortBy(_._2).map(_._3))
    frame
      .withColumn("__cb", typedLit(byM))
      .withColumn("__ds", expr(
        "transform(element_at(__cb, m + 1), c -> dot_product(c, c) - 2.0d * dot_product(sv, c))"))
      .select(col("vec_id"), col("m"),
        (expr("array_position(__ds, array_min(__ds))") - 1).cast("int").as("code"))
  }

  /** Per-subspace codebooks. Lloyd trains on a bounded deterministic
    * hash-sample, NOT the corpus: codebook quality needs a representative
    * sample (the standard PQ training regime), so the iterations cost
    * O(sample) regardless of corpus size — without this, k iterations
    * would be k full corpus scans at 100 TB. The full corpus is touched
    * exactly once, by the final encode. (At test SFs <= the sample size
    * this trains on everything, so the recall specs exercise the same
    * arithmetic.) */
  private def pqCodebook(e: DataFrame, m: Int, k: Int,
      iters: Int): Seq[(Int, Int, Seq[Double])] = {
    // ONE bounded collect of max(32k, 256) vectors; [[lloyd]] trains each
    // subspace on its slice of that sample
    val sub = 64 / m
    val train = trainSample(e, math.max(32 * k, 256))
    (0 until m).flatMap { mi =>
      lloyd(train.map(_.slice(mi * sub, (mi + 1) * sub)), k, iters)
        .zipWithIndex.map { case (c, ci) => (mi, ci, c.toSeq) }
    }
  }

  /** A PQ index: the subvector layout, the codebook and the code table. */
  private case class PqIndex(subs: DataFrame, codebook: Seq[(Int, Int, Seq[Double])],
      codes: DataFrame) {
    def lut: DataFrame = pqLut(subs, codebook)

    /** ADC restricted to per-query (q_id, vec_id) candidates: join their
      * codes, look up the (q_id, m, code) partial dots, sum per pair. */
    def candidateScores(e: DataFrame, cand: DataFrame): DataFrame =
      pqAdcScores(e, cand.join(codes, Seq("vec_id")), lut, perQuery = true)
  }

  /** Builds the PQ index of `e` with `m` subspaces of `k` codewords; the
    * subvectors (two consumers: the encode and the query-side LUT) and the
    * codes are cached. */
  private def pqIndex(e: DataFrame, m: Int, k: Int, iters: Int): PqIndex = {
    val subs = GraftSession.trackCache(pqSubvectors(e, m))
    val codebook = pqCodebook(e, m, k, iters)
    PqIndex(subs, codebook, GraftSession.trackCache(pqEncoded(subs, codebook)))
  }

  /** ADC lookup table: partial dot of each query subvector with each
    * codeword — q x m x k small rows, always broadcast. */
  private def pqLut(subs: DataFrame, cb: Seq[(Int, Int, Seq[Double])]): DataFrame =
    subs.filter(isQuery)
      .join(broadcast(pqCbDf(subs.sparkSession, cb)), Seq("m"))
      .select(col("vec_id").as("q_id"), col("m"), col("code"),
        expr("dot_product(sv, c)").as("pdot"))

  /** Reconstructs approximate cosines from a code frame + broadcast LUT:
    * one equi-join, one (q_id, n_id) sum, a norm join — no per-pair
    * float-vector math. `perQuery` joins on (q_id, m, code) when the code
    * frame is already restricted to per-query candidates (IVF-PQ). */
  private def pqAdcScores(e: DataFrame, codeFrame: DataFrame, lut: DataFrame,
      perQuery: Boolean = false): DataFrame = {
    val joined =
      if (perQuery) codeFrame.join(broadcast(lut), Seq("q_id", "m", "code"))
      else codeFrame.join(broadcast(lut), Seq("m", "code"))
    joined
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum("pdot").as("adot"))
      .join(e.select(col("vec_id").as("n_id"), col("nrm").as("nrmb")), Seq("n_id"))
      .withColumn("ascore", col("adot") / col("nrmb"))
  }

  /** Top `rerank` approximate candidates per query (TopKPerKey-eligible
    * filter-on-window), then exact cosine restores the true order. */
  private def pqRerankExact(e: DataFrame, approx: DataFrame, rerank: Int): DataFrame = {
    val cand = approx
      .withColumn("r", row_number().over(
        Window.partitionBy("q_id").orderBy(col("ascore").desc, col("n_id"))))
      .filter(col("r") <= rerank)
      .select("q_id", "n_id")
    val exact = cand
      .join(corpus(e), Seq("n_id"))
      .join(broadcast(queries(e)), Seq("q_id"))
    rankTop5(exact.withColumn("cosine", cosineCol))
  }

  /** Driver-side symmetric eigensolver: cyclic Jacobi rotations (the
    * textbook algorithm, e.g. Golub & Van Loan §8.5) — adequate because
    * the input is the d×d covariance of [[embCovariance]]'s moments
    * (d = embedding dim, tiny), never data-sized. Deterministic: fixed
    * sweep order, fixed convergence threshold, and a sign convention
    * (largest-|component| positive) so downstream projections are stable.
    * Returns (eigenvalues descending, eigenvectors as rows, matching
    * order). */
  private[operators] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    // RELATIVE convergence: covariances of 1e-4-quantized inputs carry
    // O(1e6+) entries, so an absolute epsilon would never trip and every
    // call would burn all 64 O(d^3) sweeps after converging in ~10
    val frob2 = a0.map(_.map(x => x * x).sum).sum
    val eps = 1e-24 * math.max(frob2, Double.MinPositiveValue)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > eps) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // columns of v are eigenvectors; emit as rows, eigenvalues descending,
    // sign fixed by the largest-magnitude component
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col = Array.tabulate(d)(k => v(k)(i))
      val m = col.indices.maxBy(k => math.abs(col(k)))
      if (col(m) < 0) col.map(-_) else col
    }.toArray
    (vals, vecs)
  }

  /** PCA projection of the embedding corpus — mean-centered top-`k`
    * principal components per vector, the dimensionality-reduction /
    * whitening step that precedes OPQ rotation, visualization, or a
    * cheaper ANN index.
    *
    * Scale shape (textbook distributed PCA): the corpus is touched by
    * exactly TWO map-side passes — the [[graft.functions.VectorMomentsAgg]]
    * moments pass (d(d+3)/2 longs to the driver) and the projection pass
    * with the d×k rotation broadcast; the eigensolve happens driver-side
    * on the d×d matrix, which is dimension-sized, not data-sized. Nothing
    * shuffles by key at any scale.
    *
    * Determinism (rows-only key, but reproducibility still matters): the
    * covariance comes from EXACT quantized BIGINT moments, the Jacobi
    * solver is deterministic with a fixed sign convention, and each
    * projected component is a sequential fold in dimension order, so two
    * runs (or two engines following this spec) agree bit-for-bit. */
  def pcaProject(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    GraftSession.registerFunctions(spark)
    val vmoments = udaf(graft.functions.VectorMomentsAgg)
    val m = Tables(spark, dir).embeddings
      .select(expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 10000 + 0.5) as bigint))")
        .as("qv"))
      .agg(vmoments(col("qv")).as("m"))
      .select(col("m.n"), col("m.s"), col("m.ss"))
      .head()
    val n = m.getLong(0).toDouble
    val s = m.getSeq[Long](1).toArray
    val ss = m.getSeq[Long](2).toArray
    val d = s.length
    // covariance in (1e-4 quantized)^2 units — exact ints in, one double
    // chain per cell; uniform scaling does not change the eigenvectors
    val cov = Array.tabulate(d, d)((i, j) =>
      (ss(i * d + j).toDouble - s(i).toDouble * s(j).toDouble / n) / n)
    val (_, vecs) = jacobiEigen(cov)
    val mean = s.map(_ / n) // quantized units
    // the d×k rotation and the mean ride the plan as SMALL literals
    // (k·d + d doubles); the projection itself is builtin HOFs — the
    // sequential `aggregate` fold keeps the component sums deterministic,
    // and no UDF enters the hot path
    val vkLit = typedLit(vecs.take(k).map(_.toSeq).toSeq)
    val muLit = typedLit(mean.toSeq)
    Tables(spark, dir).embeddings
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 10000 + 0.5) as bigint))")
        .as("qv"))
      .select(col("vec_id"),
        zip_with(col("qv"), muLit, (q, mu) => q.cast("double") - mu).as("ctr"))
      .select(col("vec_id"),
        transform(vkLit, r =>
          // component in quantized units; HALF-UP to 4 decimals of the
          // ORIGINAL embedding units (the 1e4 scale divides back out)
          floor(aggregate(zip_with(r, col("ctr"), (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x) + lit(0.5)) / lit(10000.0))
          .as("pc"))
      // scalar output contract: one row per (vector, component) — every
      // column sortable/hashable, so generic row-comparison harnesses
      // (and plain SQL consumers) can check the result without
      // array-typed columns.
      // posexplode_OUTER, deliberately (r20, measured): with the inner
      // posexplode the optimizer infers `size(pc) > 0` from the Generate
      // and predicate-pushes it below the scatter Exchange — re-inlining
      // the ENTIRE k×(zip_with+aggregate) projection tree into a Filter
      // evaluated in the single-row-group scan stage (the round-3
      // pushdown trap: the projection ran twice, once single-threaded —
      // measured 18.8 s of emb_pca's 22 s sf10 wall in that one scan
      // task). `pc` is a transform over the k-element ROTATION LITERAL,
      // so it is never null and never empty: outer and inner explode
      // emit identical rows, and outer infers no filter.
      .select(col("vec_id"), posexplode_outer(col("pc")))
      .select(col("vec_id"), col("pos").cast("int").as("component"),
        col("col").as("value"))
  }

  /** EXACT covariance moments of the embedding corpus — the PCA /
    * whitening / OPQ-rotation preprocessing statistic of an embedding
    * pipeline, as a checked key: one row per (i ≤ j) dimension pair with
    * the integer moment sums and the covariance they determine.
    *
    * Cross-engine float contract (SURVEY §5): components are quantized
    * ONCE to 1e-4 units (`floor(x*1e4 + 0.5)` on the exactly-widened
    * float), so `n`, `Σq_i`, `Σq_iq_j` are EXACT BIGINTs; the covariance
    * is one identical double chain over those integers (the q_corr
    * pattern), HALF-UP-floored to 4 decimals in q² units.
    *
    * Scale shape: ONE pass, no shuffle of vectors —
    * [[graft.functions.VectorMomentsAgg]] holds a single packed-triangle
    * `long[d(d+1)/2]` accumulator per partition and merges those (the
    * posexplode alternative inflates every row d²/2× before the partial
    * aggregate can shrink anything). The single aggregated row — d(d+3)/2
    * longs — is what reaches the driver; the (i, j) fan-out afterwards
    * explodes ONE row to d² entries. */
  def embCovariance(spark: SparkSession, dir: String): DataFrame = {
    GraftSession.registerFunctions(spark)
    val vmoments = udaf(graft.functions.VectorMomentsAgg)
    val q = Tables(spark, dir).embeddings
      .select(expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 10000 + 0.5) as bigint))")
        .as("qv"))
    q.agg(vmoments(col("qv")).as("m"))
      .select(col("m.n").as("n"), col("m.s").as("s"),
        posexplode(col("m.ss")).as(Seq("p", "s_ij")))
      .select(col("n"), col("s"), col("s_ij"),
        (expr("p div size(s)") + 1).cast("long").as("i"),
        (expr("p % size(s)") + 1).cast("long").as("j"))
      .filter(col("i") <= col("j"))
      .select(col("i"), col("j"), col("n"),
        expr("element_at(s, cast(i as int))").as("s_i"),
        expr("element_at(s, cast(j as int))").as("s_j"),
        col("s_ij"),
        expr("""floor(((cast(s_ij as double)
                - cast(element_at(s, cast(i as int)) as double)
                  * cast(element_at(s, cast(j as int)) as double)
                  / cast(n as double))
                / cast(n as double)) * 1e4 + 0.5) / 1e4""").as("cov"))
  }

  /** Matryoshka (MRL) truncation QA (`emb_matryoshka`) — the decision
    * statistic for serving embeddings at reduced width: for prefix widths
    * 16/32/48 of the 64-dim vector, the retained norm fraction
    * `sqrt(Σ_{i<w} v_i²) / sqrt(Σ v_i²)`, which IS the cosine between the
    * full vector and its truncated-renormalized prefix — what an MRL
    * pipeline thresholds on before switching an index to the narrow
    * width. One map-side pass of builtin HOFs, no shuffle at any scale.
    *
    * Exactness (SURVEY §5): float→double widening is exact, each sum is
    * one sequential fold in dimension order (`aggregate`, matching the
    * oracle's `list_sum`), sqrt/division are single IEEE ops, and the
    * ratio is HALF-UP-floor-quantized once to 1e-4 — bit-identical
    * cross-engine. */
  def matryoshkaRetention(spark: SparkSession, dir: String): DataFrame = {
    def retained(w: Int) = expr(
      s"""floor(sqrt(aggregate(slice(v, 1, $w), 0.0d, (a, x) -> a + x * x))
         |  / sqrt(aggregate(v, 0.0d, (a, x) -> a + x * x)) * 1e4 + 0.5) / 1e4""".stripMargin)
    doubleVecs(spark, dir)
      .select(col("vec_id"),
        retained(16).as("retain_16"),
        retained(32).as("retain_32"),
        retained(48).as("retain_48"))
  }

  /** Symmetric int8 vector quantization (`emb_int8_quantize`) — the
    * embedding STORAGE compression every large vector store runs before
    * (or instead of) PQ: per vector, scale = max|x|/127, code_i =
    * round(x_i/scale) ∈ [−127, 127], 4× smaller than float32 with a
    * per-vector error bound of scale/2 per dimension. The per-vector
    * stats here are the quantization QA gate (scale, total code mass,
    * summed squared reconstruction error) a pipeline thresholds on
    * before swapping the compressed table in for [[topK]]'s exact tier.
    *
    * Everything is one map-side pass of builtin HOFs (no codes array is
    * even materialized — each stat folds x and scale directly). Exactness
    * (SURVEY §5): float→double widening is exact, the code is the HALF-UP
    * floor of one identical division, the squared error `e·e` is plain
    * IEEE multiplication (no pow), and each per-dimension error is
    * quantized ONCE to 1e-12 units then summed as exact BIGINTs. A
    * zero vector (scale 0) takes the declared all-zero-codes path. */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame =
    doubleVecs(spark, dir)
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0"))
      .select(col("vec_id"),
        size(col("v")).cast("long").as("n_dims"),
        expr("cast(floor(scale * 1e9 + 0.5) as bigint)").as("scale_q9"),
        expr("""CASE WHEN scale > 0 THEN
                  aggregate(v, 0L, (a, x) -> a + abs(cast(floor(x / scale + 0.5) as bigint)))
                ELSE 0L END""").as("sum_abs_code"),
        expr("""CASE WHEN scale > 0 THEN
                  aggregate(v, 0L, (a, x) ->
                    a + cast(floor((x - floor(x / scale + 0.5) * scale)
                                 * (x - floor(x / scale + 0.5) * scale) * 1e12 + 0.5) as bigint))
                ELSE 0L END""").as("sse_q12"))
}
