package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation: the composition every LLM data
  * pipeline runs before tokenization —
  *
  *   quality filter  →  near-dup clustering  →  keep one doc per cluster
  *
  * Each stage is one of the already-verified operators; composing them stays
  * fully declarative, so Catalyst fuses the quality projection into the scan
  * and the dedup anti-join is the only extra shuffle beyond the cluster
  * computation itself.
  */
object Pipeline {

  /** Documents surviving quality >= 0.2 and near-dup representative
    * selection (cluster representative = min doc_id, from
    * [[Dedup.clusters]]). */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    // cache boundary before the quality filter: filtering directly on the
    // computed quality_score predicate-pushes the whole HOF expression tree
    // below the scatter Exchange (re-inlined per reference, evaluated twice,
    // single-threaded pre-shuffle — see Dedup.shingled). On a many-split
    // 100 TB table there is no scatter and a pushed quality predicate riding
    // the scan is exactly what we'd want; there you would drop this cache.
    val quality = graft.GraftSession.trackCache(
      TextAnalysis.quality(spark, dir)
        .select("doc_id", "n_tokens", "quality_score"))
    val nonRepresentatives = Dedup.clusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    quality
      .filter(col("quality_score") >= 0.2)
      .join(nonRepresentatives, Seq("doc_id"), "left_anti")
  }

  /** Deterministic stratified training mixture: per predicted language,
    * keep a fixed fraction of documents selected by a reproducible hash
    * bucket (0..15 from the first md5 hex digit of doc_id — any engine
    * computes the same md5, so the "sample" is the same everywhere, the
    * ClickHouse SAMPLE-BY idea applied per stratum). en is downsampled to
    * 5/16, unknown to 2/16, the low-resource languages keep everything —
    * the up/down-weighting every LLM data-mixture step performs. The
    * predicate is a per-row hash compare: no shuffle beyond what langId
    * already does, no driver-side sampling state. */
  def trainMix(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("pred_lang") === "en", 5)
      .when(col("pred_lang") === "unknown", 2)
      .otherwise(16)
    // cache boundary: the mixture filter references pred_lang, and without
    // the boundary the whole langId HOF tree predicate-pushes below the
    // scatter Exchange (evaluated twice, once single-threaded — see
    // Dedup.shingled for the full analysis)
    graft.GraftSession.trackCache(
      TextAnalysis.langId(spark, dir).select("doc_id", "pred_lang"))
      .withColumn("bucket", expr(
        "cast(instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1 as bigint)"))
      .filter(col("bucket") < rate)
      .select("doc_id", "pred_lang", "bucket")
  }

  /** Temperature-scaled language mixture weights
    * (`pipeline_mix_temperature`) — the multilingual sampling formula
    * (mT5/XLM-R: sample language L with probability ∝ p_L^α, α < 1
    * upweights low-resource languages): per predicted language, token
    * mass, the α=0.3 temperature weight, and its normalized share. The
    * DECISION-table sibling of [[trainMix]]'s per-document hash sampling
    * — production computes this table, then feeds its rates into the
    * trainMix-style reproducible-bucket filter.
    *
    * Cross-engine float contract: `pow` (like ln/exp) is not correctly
    * rounded, so the weight is quantized ONCE to 1e-6 units
    * (`floor(pow(n_tokens, 0.3)·1e6 + 0.5)`), totals sum exactly as
    * BIGINTs, and the share is one identical double division finished by
    * the HALF-UP floor. Scale shape: langId and token counting are
    * map-side doc passes joined on doc_id; the rollup is a ≤5-key
    * aggregate; the share total rides a broadcast single row. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val langs = graft.GraftSession.trackCache(
      TextAnalysis.langId(spark, dir).select("doc_id", "pred_lang"))
    val toks = TextAnalysis.quality(spark, dir).select("doc_id", "n_tokens")
    // cached: w feeds BOTH sides of the share cross join — without the
    // boundary the tokenize+join lineage runs twice per invocation
    val w = graft.GraftSession.trackCache(langs.join(toks, Seq("doc_id"))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .withColumn("w_q",
        expr("cast(floor(pow(cast(n_tokens as double), 0.3) * 1e6 + 0.5) as bigint)")))
    w.crossJoin(broadcast(w.agg(sum("w_q").as("tw"))))
      .select(col("pred_lang"), col("n_docs"), col("n_tokens"), col("w_q"),
        expr("cast(floor(cast(w_q as double) / cast(tw as double) * 1e6 + 0.5) as bigint)")
          .as("share_q6"))
  }

  /** Sequence packing — the last step before tokenized training data hits
    * the trainer: documents are laid out end-to-end and cut into
    * fixed-length training sequences (GPT-style concat-and-split; 512
    * tokens here, 2k-128k in production). Each document's global token
    * offset is a corpus-wide PREFIX SUM over a deterministic order —
    * [[GlobalRank.prefixSummed]]'s range-partitioned two-pass shape, so
    * the layout is computed with P collected longs and zero
    * single-partition stages at any corpus size. Output: every packable
    * doc with its token offset, the training sequence its first token
    * lands in, and how many sequences it spans. */
  def pack(spark: SparkSession, dir: String, seqLen: Int = 512): DataFrame = {
    val docs = graft.Tables(spark, dir).documents
      .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
    GlobalRank.prefixSummed(docs, col("n_tok"), "cum", col("doc_id"))
      .select(col("doc_id"), col("n_tok"),
        (col("cum") - col("n_tok")).as("tok_offset"),
        expr(s"(cum - n_tok) div $seqLen").as("start_seq"),
        expr(s"(cum - 1) div $seqLen").as("end_seq"))
      .withColumn("n_seqs", col("end_seq") - col("start_seq") + 1)
  }

  /** Benchmark decontamination — the n-gram-overlap pass every serious
    * training pipeline runs before tokenization: a training document that
    * shares even one word-3-gram with the held-out benchmark set is
    * flagged, because benchmark text leaking into training data corrupts
    * evaluation. Here the "benchmark" is the last md5 bucket of the corpus
    * (reproducible on any engine, the same hash-split [[trainMix]] uses);
    * in production it is the actual eval-suite text.
    *
    * Output: every shingle-bearing training doc with its count of distinct
    * shingles shared with the benchmark set and a 0/1 clean flag.
    *
    * Scale shape: benchmark sets are SMALL by construction (eval suites,
    * not corpora), so their distinct-shingle set broadcasts and the train
    * side never shuffles for the probe — at 100 TB the same plan holds
    * with the broadcast swapped for a bloom filter pushed into the scan.
    * The only aggregations are the broadcast-join's per-doc count and the
    * tiny benchmark distinct. Shingles ride [[Dedup.shingled]], so a
    * materialized shingle layout makes this pass tokenizer-free too. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = Dedup.shingled(spark, dir).withColumn("bucket", expr(
      "cast(instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1 as bigint)"))
    val benchShingles = bucketed.filter(col("bucket") === 15)
      .select(explode(col("sg")).as("sh")).distinct()
    val train = bucketed.filter(col("bucket") =!= 15)
    // sg is distinct within a doc, so the post-join count IS the distinct
    // shared-shingle count — no countDistinct shuffle needed
    val shared = train.select(col("doc_id"), explode(col("sg")).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    train.select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) === 0).cast("long").as("is_clean"))
  }

  /** [[decontaminate]]'s 100 TB shape made real: the benchmark-shingle
    * probe as a BLOOM FILTER prefilter + exact verify, with byte-identical
    * output (same oracle).
    *
    * The plain variant broadcasts the benchmark's distinct-shingle SET and
    * equi-joins every training (doc, shingle) pair against it. That is fine
    * while the set fits a broadcast, but the join still feeds every pair
    * into a hash probe of a full hash relation. Here the benchmark shingles
    * are folded into a fixed-size Bloom filter (built distributed via
    * `DataFrameStatFunctions.bloomFilter` — one aggregation, only the
    * filter's bit array reaches the driver, ~1.2 MB at fpp=1% for 1M
    * shingles regardless of corpus size), broadcast to every task, and
    * applied as a MAP-SIDE filter on the exploded pairs: at 100 TB the
    * overwhelmingly-clean corpus drops ~99% of pairs before any join
    * machinery, and only bloom-positive pairs reach the exact
    * (broadcast-join) verify that removes the filter's false positives.
    * No false negatives exist by construction, so output = [[decontaminate]]
    * exactly — which is precisely what the shared oracle asserts. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = Dedup.shingled(spark, dir).withColumn("bucket", expr(
      "cast(instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1 as bigint)"))
    // used twice (bloom build + exact verify) — cache the tiny bench set
    val benchShingles = graft.GraftSession.trackCache(
      bucketed.filter(col("bucket") === 15)
        .select(explode(col("sg")).as("sh")).distinct())
    val bloom = benchShingles.stat.bloomFilter("sh",
      expectedNumItems = 1L << 20, fpp = 0.01)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val train = bucketed.filter(col("bucket") =!= 15)
    val candidates = train.select(col("doc_id"), explode(col("sg")).as("sh"))
      // map-side: kills ~all pairs at scale. Native codegen'd expression —
      // a Scala UDF here would box every exploded pair AND break
      // whole-stage codegen for the hottest stage of the operator.
      .filter(graft.functions.BloomMightContain.mightContain(col("sh"), bloomBc))
    val shared = candidates
      .join(broadcast(benchShingles), Seq("sh")) // exact: drops false positives
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    train.select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) === 0).cast("long").as("is_clean"))
  }

  /** Curriculum phase assignment (`pipeline_curriculum`) — quality-ordered
    * training schedule: documents sorted best-first (quality_score desc,
    * doc_id as the unique tie-break) and split into 4 phases of equal
    * TOKEN mass, so a curriculum loader streams phase 0 first and the
    * highest-quality quarter of the token budget leads training (the
    * curriculum-learning data-ordering staple next to [[trainMix]]'s
    * composition control).
    *
    * The cumulative token count comes from [[GlobalRank.prefixSummed]] —
    * the range-partitioned distributed prefix sum (P collected longs,
    * never rows, no single-task window) — and the phase is pure map-side
    * integer arithmetic on it: `least(3, 4·(cum−1) div total)`, exact
    * BIGINTs end to end. The corpus total rides out of the SAME cached
    * slice frame (one max over the prefix-summed column), so the whole
    * operator is the quality scan + the prefix sum's two passes. The
    * oracle replays the identical window arithmetic in SQL; ordering is
    * engine-identical because quality_score is the already-oracle-matched
    * 4-decimal value from `text_quality` and the tie-break is unique. */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.quality(spark, dir)
      .select("doc_id", "n_tokens", "quality_score")
    val summed = GlobalRank.prefixSummed(q, col("n_tokens"), "cum_tokens",
      col("quality_score").desc, col("doc_id"))
    val total = summed.agg(max("cum_tokens")).collect()(0).getLong(0)
    summed.withColumn("phase",
      expr(s"least(3L, (greatest(cum_tokens - 1L, 0L) * 4L) div ${total}L)"))
  }

  /** 256-bucket reproducible hash: the first two md5 hex digits of the
    * doc id — [[trainMix]]'s 16-bucket idea at the finer granularity
    * splits and fractional repeats need. Any engine computes the same
    * md5, so assignments agree everywhere with zero sampling state. */
  private val bucket256 = expr(
    "cast((instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1) * 16 " +
      "+ instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 2, 1)) - 1 as bigint)")

  /** Deterministic STRATIFIED train/val/test split (`pipeline_split`) —
    * the holdout assignment every training pipeline makes before any
    * mixing: ~2% test (buckets 0-4 of 256), ~3% val (5-12), the rest
    * train. Assignment is the per-row [[bucket256]] hash compare — no
    * shuffle beyond langId's own, no coordination — and because the
    * hash is uniform WITHIN each language stratum, the rates hold per
    * language automatically (stratification by construction, the same
    * reason `trainMix`'s per-language rates work). A doc's split never
    * changes as the corpus grows — the property that keeps yesterday's
    * test set uncontaminated when new data lands. */
  def split(spark: SparkSession, dir: String): DataFrame =
    graft.GraftSession.trackCache(
      TextAnalysis.langId(spark, dir).select("doc_id", "pred_lang"))
      .withColumn("bucket", bucket256)
      .withColumn("split",
        when(col("bucket") < 5, "test")
          .when(col("bucket") < 13, "val")
          .otherwise("train"))
      .select("doc_id", "pred_lang", "bucket", "split")

  /** Fractional epoch repetition (`pipeline_repeat_upsample`) — the
    * data-mixture step AFTER the rates are decided: the low-resource
    * stratum repeats 3.5x, the dominant language 1x. (On this corpus
    * the langId vote only ever yields en/unknown — `unknown` IS the
    * low-resource stratum; a multilingual corpus would list its rare
    * languages here.) A fractional factor f repeats every doc floor(f)
    * times and one BUCKETED EXTRA time for the deterministic
    * `bucket < frac(f)*256` slice — in expectation exactly f,
    * reproducible row-for-row (the alternative to random oversampling:
    * no RNG, no epoch-to-epoch drift, byte-identical shards on
    * rebuild). The explode is `posexplode(sequence(...))`-shaped: row
    * amplification happens MAP-SIDE after the rate decides n_copies,
    * nothing shuffles at corpus width. */
  def repeatUpsample(spark: SparkSession, dir: String): DataFrame = {
    // declared rates in 1/256ths so frac(f)*256 is exact integer math:
    // unknown 3.5x -> 3 + 128/256; everything else 1x
    val whole = when(col("pred_lang") === "unknown", 3L).otherwise(1L)
    val fracNum = when(col("pred_lang") === "unknown", 128L).otherwise(0L)
    graft.GraftSession.trackCache(
      TextAnalysis.langId(spark, dir).select("doc_id", "pred_lang"))
      .withColumn("bucket", bucket256)
      .withColumn("n_copies",
        whole + when(col("bucket") < fracNum, 1L).otherwise(0L))
      .select(col("doc_id"), col("pred_lang"), col("n_copies"),
        explode(expr("sequence(1L, n_copies)")).as("copy_ord"))
  }

  /** Power-of-two length bucketing (`pipeline_length_buckets`) — the
    * batch-shape planning pass before [[pack]]: documents bin by
    * token count into pow-2 capacity buckets (the padded-batch sizes a
    * trainer actually allocates), and each bucket reports its document
    * count, true token mass, and PADDING WASTE (capacity minus tokens,
    * summed) — the number that decides whether sequence packing is
    * worth running on a stratum. One map-side token count per doc (no
    * tokens ever explode), one aggregate exchange over the ~log(max_len)
    * bucket vocabulary. Cross-engine contract: `ceil(log2(n))` on exact
    * integers — log2 of a power of two is IEEE-exact and ceil of the
    * irrational remainder is unambiguous, so both engines bin
    * identically; everything after is BIGINT. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir).documents
      .select(col("doc_id"),
        expr(s"cast(size(${TextAnalysis.tokensExpr}) as bigint)").as("n_tokens"))
      .withColumn("bucket_cap",
        expr("cast(pow(2, ceil(log2(greatest(n_tokens, 1)))) as bigint)"))
      .groupBy("bucket_cap")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum(col("bucket_cap") - col("n_tokens")).as("pad_waste"))

  /** Deterministic weight-proportional sampling
    * (`pipeline_weighted_sample`) — the tokenizer-training /
    * eval-subset draw: include each document with probability
    * ~ k·w/W (w = its char mass, W = the corpus total, k = the target
    * expected size), so the sample holds ~k docs whose selection is
    * length-proportional — long documents that dominate the token
    * budget are proportionally represented, the property a
    * tokenizer-training subsample needs.
    *
    * No RNG anywhere (the [[split]] discipline): each doc's 24-bit
    * uniform comes from md5 hex digits of its id (`conv` here, a hex
    * CAST in the oracle — same integer), and inclusion is the pure
    * integer compare `h24 < (2²⁴·k·w) div W` — Poisson sampling with
    * deterministic coins, reproducible row-for-row on any engine, and
    * a doc's verdict never changes when the corpus grows only if W is
    * pinned; here W recomputes per corpus (one scalar aggregate
    * broadcast back), which is the declared semantics: the RATE adapts
    * so the sample stays ~k. Docs with w ≥ W/k saturate at
    * probability 1 (the Poisson cap). Map-side everything: one
    * broadcast scalar, one per-row hash + compare, no shuffle at
    * corpus width. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val d = graft.Tables(spark, dir).documents.select(col("doc_id"), col("n_chars"))
    val tot = d.agg(sum("n_chars").as("w_total"))
    d.crossJoin(broadcast(tot))
      .withColumn("h24",
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) as bigint)"))
      .filter(col("h24") < expr(s"(16777216L * ${k}L * n_chars) div w_total"))
      .select("doc_id", "n_chars", "h24")
  }

  /** The per-stratum sample size of [[reservoir]] — shared with the
    * oracle SQL. k+1 ≤ TopKPerKeyRewrite.MaxK, so the rank runs on the
    * bounded per-key heap, never a per-stratum sort. */
  val ReservoirK = 20

  /** Stratified weighted reservoir sampling (`q_reservoir`) — the
    * bounded-size counterpart of [[weightedSample]]'s Poisson draw, and
    * the standard way a 100 TB pipeline takes a FIXED-size
    * weight-proportional sample per stratum: priority sampling
    * (Duffield, Lund & Thorup, JACM 54(6) 2007 — the near-optimal
    * subset-sum member of the Efraimidis–Spirakis A-Res family, chosen
    * here because its priority `w/u` is RATIONAL, so it quantizes to
    * exact integer arithmetic where A-Res' `u^(1/w)` key cannot). Per
    * document: a deterministic 24-bit uniform from md5 of a salted id
    * (the [[weightedSample]] coin discipline — `conv` here, a hex CAST
    * in the oracle; the `'rsv'` salt decorrelates this key's coins from
    * its Poisson sibling's), then the quantized priority
    * `(w · 2²⁴) div (h24 + 1)` — one flooring division of positive
    * BIGINTs (Spark `div` == DuckDB `//`), no float, no RNG, no
    * transcendental, so every row replays bit-for-bit in the oracle.
    * Per stratum (language): the top `k` priorities are the sample, the
    * (k+1)-th is the threshold τ, and each sampled doc carries the
    * Horvitz–Thompson-style weight estimate `max(w, τ)` — Σ over the
    * sample estimates the stratum's total weight (DLT Thm 1;
    * unbiasedness is exact for real priorities and holds to quantization
    * here — Round16Spec asserts the realized band on the fixture). A
    * stratum with ≤ k members reports itself exactly (τ absent → 0 →
    * `max(w, 0) = w`, the DLT convention).
    *
    * Scale shape: one narrow scan + map-side hash/divide, then ONE
    * rank per stratum over `(priority DESC, doc_id)` filtered to
    * `rn ≤ k+1` — the TopKPerKey rewrite plans it as the bounded
    * per-key heap (k+1 = ${ReservoirK}+1 rows of state per stratum, no
    * per-stratum sort, no global sort); the τ self-join is
    * strata-sized. Nothing grows with the corpus except the one scan. */
  def reservoir(spark: SparkSession, dir: String, k: Int = ReservoirK): DataFrame =
    reservoirCore(
      graft.Tables(spark, dir).documents.select("lang", "doc_id", "n_chars"), k)

  /** The DLT priority as a SQL expression over (doc_id, n_chars) — ONE
    * definition shared by [[reservoirCore]] and its streaming sibling
    * ([[RefPipeline.streamingReservoir]]) so both replay the identical
    * coins and the streamed sample equals the batch sample row-for-row. */
  private[operators] val ReservoirPriorityExpr: String =
    "(n_chars * 16777216) div (cast(conv(substring(" +
      "md5(concat('rsv', cast(doc_id as string))), 1, 6), 16, 10) as bigint) + 1)"

  /** [[reservoir]] over any (lang, doc_id, n_chars) frame — split out so
    * the spec can drive the τ-absent (≤ k stratum) branch, which the
    * fixture's ≥ 64-doc strata never reach. */
  private[graft] def reservoirCore(d: DataFrame, k: Int): DataFrame = {
    val rk = graft.GraftSession.trackCache(d
      .withColumn("priority", expr(ReservoirPriorityExpr))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("priority").desc, col("doc_id"))))
      .where(col("rn") <= k + 1))
    val tau = rk.where(col("rn") === k + 1)
      .select(col("lang"), col("priority").as("tau"))
    rk.where(col("rn") <= k)
      .join(tau, Seq("lang"), "left")
      .select(col("lang"), col("doc_id"), col("n_chars"), col("priority"),
        greatest(col("n_chars"), coalesce(col("tau"), lit(0L))).as("w_est"))
  }

  /** Cluster-representative selection (`pipeline_keep_best`) — the
    * production "which duplicate survives" decision: for every near-dup
    * cluster, keep the HIGHEST-quality member instead of
    * [[cleanCorpus]]'s min-id representative (real pipelines keep the
    * best copy of syndicated/boilerplate-wrapped text, not an arbitrary
    * one). One row per non-singleton cluster: the kept doc, the member
    * count, and the winning score.
    *
    * Composition, not new machinery: [[Dedup.clusters]]' verified
    * components join [[TextAnalysis.quality]]'s scores; the selection is
    * ONE algebraic `max(struct(quality, doc_id))` per cluster —
    * partial-aggregated, no window, no sort, and deterministic (score
    * ties break on the higher doc_id; a TOTAL order, so any engine picks
    * the same winner). Scale shape: the only shuffle beyond the cluster
    * machinery is the doc_id equi-join and a cluster-keyed aggregate
    * whose key count is the number of clusters, not documents. */
  /** BYTE cap for [[keepBest]]'s broadcast-membership leg (r20 ADVICE —
    * the explicit broadcast() hint bypasses autoBroadcastJoinThreshold,
    * so a row-count cap silently assumed skinny numeric ids): at or below
    * this estimated hashed size the membership broadcasts and the quality
    * tokenize runs ONLY on member docs; above it the old
    * full-corpus-quality shuffled join stands (identical answer — the
    * inner join drops non-members either way). 32 MB = the prior 1e6-row
    * cap priced at the actual `(doc_id BIGINT, cluster_id BIGINT)` width
    * (2×8 B + 16 B row overhead), so the admissible row count shrinks
    * automatically if the membership schema ever grows a wide column. */
  val KeepBestBroadcastMaxBytes = 32L * 1024 * 1024

  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    // Tokenize ONLY the cluster members (r20, guide §8 "decide with small
    // rows, move the expensive work after the decision"): the old shape
    // ran TextAnalysis.quality over the WHOLE corpus and then inner-joined
    // the near-dup-member-sized cluster list, so ~all of the tokenize HOF
    // pass scored docs the join immediately dropped (sf5: ~190 task-CPU
    // seconds of the key's 401 were the full-corpus quality pass; members
    // are ~1k of 250k docs). The membership is already a checkpoint
    // (the label propagation's last round; it feeds the member filter AND
    // the final cluster join), its row count comes with it, and it is
    // broadcast under a measured byte cap, the Dedup side-leg convention —
    // an unexpectedly near-dup-saturated corpus falls back to the
    // full-scan shuffled join, which is answer-identical.
    val (members, nMembers) = Dedup.clusterLabels(spark, dir)
    // price the broadcast from the REAL schema (defaultSize per field +
    // ~16 B of unsafe-row overhead), not an assumed row shape
    val rowBytes = members.schema.fields.map(_.dataType.defaultSize).sum + 16
    val small = nMembers * rowBytes <= KeepBestBroadcastMaxBytes
    val qual =
      if (small)
        TextAnalysis.qualityOf(
          graft.Tables(spark, dir).documents.select("doc_id", "text")
            .join(broadcast(members.select("doc_id")), Seq("doc_id")))
      else TextAnalysis.quality(spark, dir)
    qual.select("doc_id", "quality_score")
      .join(if (small) broadcast(members) else members, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality_score"), col("doc_id"))).as("b"))
      .select(col("cluster_id"), col("b.doc_id").as("kept_doc"),
        col("n_members"), col("b.quality_score").as("best_quality"))
  }

  /** Deterministic corpus shuffle + shard assignment (`pipeline_shard`) —
    * the step between corpus prep and tokenizer sharding: every doc gets
    * a shard (its md5-bucket mod nShards — the same RNG-free hash idiom
    * as [[split]], so shard membership is stable under corpus rebuilds)
    * and a dense 1-based POSITION inside its shard along the md5
    * pseudo-random order (the "global shuffle" every training run wants,
    * reproducible byte-for-byte).
    *
    * Why positions come from [[GlobalRank.rowNumbered]] and not a
    * `Window.partitionBy(shard)`: nShards is a small constant, so a
    * shard-keyed window would hand each task n/nShards rows to sort —
    * the single-partition-scale sort SURVEY §4 forbids. GlobalRank
    * range-partitions the (shard, h, doc_id) total order across ALL
    * cores and numbers rows with map-side arithmetic; the per-shard
    * position is then the global number minus the shard's offset —
    * nShards longs of driver arithmetic broadcast back as a literal
    * map. One range shuffle, no data-sized collect, no RNG. */
  def shard(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val base = graft.Tables(spark, dir).documents
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .withColumn("shard",
        expr("cast((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 " +
          "+ instr('0123456789abcdef', substring(h, 2, 1)) - 1 as bigint)") % nShards)
    val numbered = GlobalRank.rowNumbered(base, "rn",
      col("shard"), col("h"), col("doc_id"))
    // shard sizes: <= nShards rows — bounded driver arithmetic, not data
    val counts = numbered.groupBy("shard").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    val offsetOf = element_at(
      typedLit(offsets), col("shard"))
    numbered.select(col("doc_id"), col("shard"),
      (col("rn") - offsetOf).as("pos"))
  }

  /** Hashed n-gram importance resampling (`pipeline_dsir`) — DSIR (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling", arXiv:2302.03169): estimate a raw and a target
    * unigram+bigram distribution in a HASHED feature space (the paper's
    * feature set; no vocabulary pass, the [[TextAnalysis.hashedBow]]
    * trick at B=256 buckets), score every raw
    * document by its log importance weight
    * `Σ_f c_f(doc) · (log p_target(f) − log p_raw(f))`, and keep the
    * top n/5 (the paper's Gumbel-top-k made deterministic: plain top-k
    * with a doc_id tiebreak, the variant an oracle can check). The
    * target distribution here is the `lang = 'en'` slice of the same
    * corpus — the stand-in for "a small trusted target set".
    *
    * Cross-engine float contract (the `q_entropy` idiom): each
    * `log2(integer)` is quantized ONCE to 1e-6 units
    * (`floor(log2(n)·1e6 + 0.5)` as BIGINT), so per-bucket weights and
    * per-doc scores are EXACT integer sums in any engine; no double ever
    * crosses an aggregate. The bucket hash is the engine-portable
    * first-two-md5-nibbles (0..255), the [[split]]/[[hashedBow]]
    * contract.
    *
    * Scale shape: two linear passes over the exploded feature stream,
    * each aggregating on a SMALL key — pass 1 estimates both
    * DISTRIBUTIONS as one ≤256-key aggregate (map-side partials, 256
    * rows to the driver — feature-space- not data-sized, the DSIR
    * design point); the per-bucket weights go back as a 256-entry
    * literal map and pass 2 sums the per-occurrence weights doc-keyed
    * (deliberately NO (doc, dim) count intermediate: that aggregate's
    * map holds docs×dims keys per task and spills on any natural
    * vocabulary); selection is the [[GlobalRank.rowNumbered]]
    * range-partitioned rank filter (k = n/5 is a corpus FRACTION, so a
    * driver-merged top-k heap would be data-sized — the rank backbone
    * keeps every row on the executors and k a Long). */
  def dsir(spark: SparkSession, dir: String): DataFrame = {
    val B = 256
    // the paper's feature space is hashed unigrams AND bigrams — the
    // bigram stream shares [[TextAnalysis.bigramsExpr]]'s definition.
    // explode_outer keeps zero-token docs (null tok -> null dim), so
    // every document reaches the scored frame. The stream is NOT cached
    // and there is deliberately NO (doc, dim) count intermediate: on a
    // natural vocabulary each doc touches O(256) distinct dims, so a
    // doc×dim-keyed aggregate map holds millions of entries per task
    // (measured: 9.2 GB sort-agg spill at sf10-zipf) — while the two
    // passes below each aggregate on a SMALL key (256 dims; then docs),
    // spill-proof at any corpus size for two linear scans.
    // tokenize + hash ONCE into a per-doc dim array (cache boundary: both
    // passes explode from it; at 100 TB drop the cache and pay the second
    // tokenize — the cleanCorpus caveat); the heavy string work
    // (split, bigram concat, md5) never runs twice
    val toks = graft.GraftSession.trackCache(
      graft.Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"), expr(TextAnalysis.tokensExpr).as("tk"))
        .withColumn("feats", expr(s"concat(tk, ${TextAnalysis.bigramsExpr})"))
        .select(col("doc_id"), col("lang"), expr(
          s"""transform(feats, x ->
             |  cast(conv(substring(md5(x), 1, 2), 16, 10) as bigint) % $B)""".stripMargin)
          .as("dims")))
    def feats = toks
      .select(col("doc_id"), col("lang"), explode_outer(col("dims")).as("dim"))
    // pass 1 — distributions: one 256-key partial/final aggregate
    val dist = feats.filter(col("dim").isNotNull)
      .groupBy("dim")
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
    // log2 quantized to 1e-6 INSIDE Spark expressions so the IEEE log2
    // sequence is the engine's own, mirrored literally by the oracle's —
    // never driver-side math.log
    def l2q(c: Column): Column =
      floor(log2(c.cast("double")) * 1e6 + 0.5).cast("long")
    // the corpus totals ride a window sum over the <= 256 dist rows, so
    // ONE aggregate of the feature stream yields totals and weights. A
    // zero-token corpus leaves dist empty: the weights map stays empty
    // and every doc scores 0 (doc_id tiebreak selection), matching the
    // oracle's LEFT JOIN degradation
    val all = Window.partitionBy()
    val weights = dist.select(col("dim"),
      (l2q(col("c_tgt") + 1) - l2q(sum("c_tgt").over(all) + B)
        - (l2q(col("c_raw") + 1) - l2q(sum("c_raw").over(all) + B))).as("q6"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wMap = typedLit(weights.toMap)
    // pass 2 — scores: per-OCCURRENCE weight lookup, doc-keyed sum
    // (Σ over occurrences of q6(dim) == Σ_f c_f·q6(f), exact BIGINT)
    val scored = feats.groupBy("doc_id", "lang")
      .agg(sum(when(col("dim").isNotNull,
        element_at(wMap, col("dim"))).otherwise(0L)).as("s"))
      .select(col("doc_id"), col("lang"),
        coalesce(col("s"), lit(0L)).as("score_q6"))
    // selection via the distributed rank backbone, NOT orderBy+limit: k is
    // a CORPUS FRACTION (n/5), so TakeOrderedAndProject would merge k-row
    // heaps on the driver and Int-overflow beyond ~10.7B docs — the rank
    // filter keeps k a Long and every row on the executors
    val k = graft.Tables(spark, dir).documents.count() / 5L
    GlobalRank.rowNumbered(scored, "rn", col("score_q6").desc, col("doc_id"))
      .filter(col("rn") <= k)
      .select("doc_id", "lang", "score_q6")
  }

  /** Model-based quality filtering (`pipeline_classifier_filter`) — the
    * classifier sibling of [[dsir]] and the DCLM/FineWeb-Edu production
    * pattern: label documents with an EXPENSIVE rule (here the
    * [[TextAnalysis.quality]] composite ≥ 0.5, standing in for the "LLM
    * judge grades a slice" step), DISTILL it into a cheap fastText-shaped
    * linear model over hashed unigram+bigram bag features by distributed
    * gradient descent, then keep the top n/5 documents by classifier
    * score (rank selection, DCLM's top-p% — a threshold keep degenerates
    * under class imbalance; a rank keep is non-degenerate by
    * construction).
    *
    * Scale shape — the canonical distributed-GD loop, one narrow pass
    * per epoch and NO join anywhere: the per-doc hashed dim array (the
    * [[dsir]] md5-mod-256 contract, bigrams included, plus an appended
    * bias pseudo-dim −1 so the bias gradient and the doc count fall out
    * of the same aggregate) is tokenized+hashed ONCE into a cached
    * frame. Each epoch computes z and the error MAP-SIDE from a ≤257-
    * entry literal weight map (an `aggregate` HOF over the dim array —
    * never a (doc, dim) intermediate, never a weight join), explodes the
    * dims carrying the error, and aggregates Σ err per dim: ≤257 rows to
    * the driver (feature-space-, not data-sized — the dimension-bounded
    * collect class), where the weights update between passes.
    *
    * Every quantity is FIXED-POINT integer, so the oracle replays
    * training EXACTLY (no float, no `exp`, enters the loop): weights on
    * the 1e-6 grid; the logistic squashed by the HARD sigmoid
    * `clamp(z/4 + 1/2, 0, 1)` (gradient `(s − y)·c`, the classical
    * surrogate); floor division of the possibly-negative z via the
    * truncated-mod identity `(a − ((a%b + b)%b))/b` both engines share;
    * and the update ROUND-HALF-UP, `Δw = ⌊(2·lr·g + d)/(2d)⌋` — floor
    * alone rounds every near-zero gradient to −1 and biases the whole
    * model downward. Scoring uses the POLYAK SUM of the epoch iterates
    * (rank-equivalent to the average, so it stays integer): plain batch
    * GD on a saturating loss 2-cycles, and the averaged iterate is the
    * textbook stabilizer — Round12Spec pins that the selection stays
    * target-enriched. Per-dim |g| ≤ 1e6·occurrences, so gradient sums
    * fit BIGINT to ~10¹¹ token occurrences per pass; past that train on
    * a hash-sample (the sampled-Lloyd pattern) and score full-corpus. */
  def classifierFilter(spark: SparkSession, dir: String, iters: Int = 3,
      lrNum: Long = 5L, lrDen: Long = 10L): DataFrame = {
    val B = 256
    val docs = graft.Tables(spark, dir).documents
    // one tokenize+hash pass: y (the distillation label) and the hashed
    // dim array with the bias pseudo-dim appended — zero-token docs keep
    // a bare [-1], so every document trains and scores
    val toks = graft.GraftSession.trackCache(
      docs.select(col("doc_id"), col("text"))
        .withColumn("tk", expr(TextAnalysis.tokensExpr))
        .withColumn("n_tok", coalesce(expr("cast(size(tk) as bigint)"), lit(0L)))
        .withColumn("n_stop", coalesce(expr(
          "cast(size(filter(tk, x -> x IN ('the','a','of','and','in','to','is'))) as bigint)"),
          lit(0L)))
        .withColumn("feats", expr(s"concat(tk, ${TextAnalysis.bigramsExpr})"))
        .select(col("doc_id"),
          // greatest(n_tok, 1) keeps ANSI div total; the n_tok > 0 guard
          // decides the label, so the padded divisor never leaks a value
          when(col("n_tok") > 0 &&
            least(lit(10000L), col("n_tok") * 100L) *
              (lit(10000L) - expr("(n_stop * 10000) div greatest(n_tok, 1L)")) >= 50000000L,
            1L).otherwise(0L).as("y"),
          expr(
            s"""concat(coalesce(transform(feats, x ->
               |  cast(conv(substring(md5(x), 1, 2), 16, 10) as bigint) % $B),
               |  array()), array(-1L))""".stripMargin).as("dims")))
    val n = toks.count()
    // z on the 1e-6 grid from the literal weight map, map-side
    def z6(w: Map[Long, Long]): Column = {
      val wMap = typedLit(if (w.isEmpty) Map(-2L -> 0L) else w)
      aggregate(col("dims"), lit(0L),
        (acc, d) => acc + coalesce(element_at(wMap, d), lit(0L)))
    }
    // hard sigmoid on the 1e-6 grid; pmod = the truncated-mod floor-div
    // identity (z may be negative; `div` alone truncates toward zero)
    val s6OfZ =
      expr("greatest(0L, least(1000000L, ((z - pmod(z, 4)) div 4) + 500000L))")
    var w = Map.empty[Long, Long]
    var polyak = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val grad = toks.select(col("y"), col("dims"), z6(w).as("z"))
        .select((s6OfZ - col("y") * 1000000L).as("e"),
          explode(col("dims")).as("dim"))
        .groupBy("dim").agg(sum("e").as("g"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // round-half-up fixed-point update: Δw6 = ⌊(2·lrNum·g + lrDen·n)/(2·lrDen·n)⌋
      w = grad.map { case (d, g) =>
        d -> (w.getOrElse(d, 0L) -
          Math.floorDiv(2L * lrNum * g + lrDen * n, 2L * lrDen * n))
      }.toMap
      polyak = w.map { case (d, v) => d -> (polyak.getOrElse(d, 0L) + v) }
    }
    val k = n / 5L
    val scored = toks.select(col("doc_id"), col("y").as("label"),
      z6(polyak).as("score6"))
    GlobalRank.rowNumbered(scored, "rn", col("score6").desc, col("doc_id"))
      .select(col("doc_id"), col("label"), col("score6"),
        when(col("rn") <= k, 1L).otherwise(0L).as("kept"))
  }

  /** Corpus data card (`pipeline_data_card`) — the per-source statistics
    * table every corpus release publishes (FineWeb/Dolma/RedPajama-style
    * "composition" section): per source AND overall, document/token/char
    * volume, exact-duplicate rate, and predicted-English share. This is
    * the rollup a curation run reads FIRST — before any of the dedup or
    * filter keys run — to decide where the mass and the duplication live.
    *
    * Scale shape: per-doc facts are ONE narrow map-side scan pass —
    * token count, md5 text hash AND the shared language vote
    * ([[TextAnalysis.withLangVote]], the same expression `text_langid`
    * ships) all computed next to the parquet scan, no doc_id self-join
    * anywhere. The rollup is `rollup(source)`: Spark Expands each row
    * once per grouping set map-side and runs ONE partial/final aggregate
    * shuffle — no per-set rescan; `countDistinct` of the text hash rides
    * the same Expand (a second distinct-aggregate pass over the
    * exchange, still one scan). Ratios are exact-integer quantizations:
    * `(100·tokens) div docs`, `(10000·dupes) div docs`, `(10000·en) div
    * docs` — positive operands, Spark `div` == DuckDB `//`. */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan pass: the shared langId vote is inlined next to the fact
    // columns (TextAnalysis.withLangVote — one source of truth for the
    // marker lists), so the card needs NO doc_id self-join at all; the
    // only shuffle is the rollup aggregate itself
    val facts = TextAnalysis.withLangVote(
        graft.Tables(spark, dir).documents
          .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
          .withColumn("tk", expr(TextAnalysis.tokensExpr)))
      .select(col("source"), col("n_chars"),
        size(col("tk")).cast("long").as("n_tok"),
        md5(col("text")).as("th"), col("pred_lang"))
    facts.rollup("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("th").as("n_uniq"),
        sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .select(
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("(100 * n_tokens) div n_docs").as("avg_tokens_q2"),
        expr("(10000 * (n_docs - n_uniq)) div n_docs").as("dup_rate_q4"),
        expr("(10000 * n_en) div n_docs").as("en_share_q4"))
      .orderBy("source")
  }
}
