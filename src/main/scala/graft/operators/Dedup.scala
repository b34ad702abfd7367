package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** Document deduplication family for LLM training-data pipelines.
  *
  * The 100 TB design rule shared by every member: NEVER materialize the
  * O(n²) pair space. Candidate pairs are generated by an equi-join on a
  * compact key (content hash / shingle / MinHash band / SimHash band), so
  * the shuffle volume is proportional to the number of colliding pairs,
  * not n². Exact verification then runs only on candidates.
  */
object Dedup {

  /** Word 3-gram shingles as 64-bit hashes (distinct), from non-empty
    * whitespace tokens. `xxhash64(a, b, c)` chains the three token hashes
    * (each token's bytes are hashed with the running value as seed), so
    * token boundaries survive without building the concatenated string:
    * ("ab","c") and ("a","bc") hash differently. This replaces the round-2
    * string formulation (`concat_ws` per shingle, then a second xxhash64
    * pass in front of every sketch): the string build alone cost ~4 s
    * single-threaded at sf0.1, and every downstream join/intersect carried
    * ~25-byte UTF8 keys instead of primitive longs. Distinct-hash count
    * equals distinct-string count unless xxhash64 collides (p ~ m²/2⁶⁵;
    * ~2e-9 for the 260k distinct shingles at sf0.1 — and the DuckDB oracle
    * computes string-shingle Jaccard, so the driver gate would surface a
    * collision as a hash mismatch). */
  val shinglesExpr: String =
    """CASE WHEN size(tk) >= 3
      |  THEN array_distinct(transform(sequence(0, size(tk) - 3),
      |                                i -> xxhash64(tk[i], tk[i + 1], tk[i + 2])))
      |  ELSE cast(array() as array<bigint>) END""".stripMargin

  /** doc_id, sg (distinct shingle array), n (= |sg|), shingle-less docs
    * dropped (they cannot form a candidate pair).
    *
    * When [[Warehouse.materializeShingles]] has been run on this session
    * for this dir, the frame reads the bucketed layout instead of raw text:
    * the tokenize→shingle pass was paid once at write time, `sg`/`n` are
    * STORED columns (so the `n > 0` guard is a plain pushable parquet
    * predicate, not a computed-column HOF tree — the round-3 pushdown trap
    * does not exist on this path), and no cache boundary is needed because
    * re-scanning the layout IS the cheap path at any scale.
    *
    * Raw-scan fallback: CACHED (tracked for the next query's sweep) — the
    * shingle arrays feed several consumers per query (signatures / both
    * sides of a verify join / the explode). The `n > 0` guard is applied ON
    * TOP of the cache, never inside the cached plan: a filter on a computed
    * column gets predicate-pushed through the projections and the scatter
    * Exchange down to the scan, with `tk` re-inlined once per reference —
    * the entire shingle pipeline then runs twice, the first time
    * single-threaded below the shuffle and with per-shingle
    * re-tokenization of the whole document (measured 4.3 s of the round-2
    * bench's shingle cost at sf0.1, vs 0.3 s for the computation itself).
    * Above the cache it is a long comparison over materialized rows. */
  private[operators] def shingled(spark: SparkSession, dir: String): DataFrame =
    Warehouse.shingleLayout(spark, dir) match {
      case Some(layout) => layout.filter(col("n") > 0)
      case None =>
        GraftSession.trackCache(
          Tables(spark, dir).documents
            .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("tk"))
            .select(col("doc_id"), expr(shinglesExpr).as("sg"))
            .withColumn("n", size(col("sg")).cast("long")))
          .filter(col("n") > 0)
    }

  /** Cross-document exact-substring duplication — the ExactSubstr family
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, arXiv:2107.06499): a W-token window that appears
    * VERBATIM in two or more distinct documents marks every occurrence as
    * duplicated text. Per document this emits how many of its windows are
    * duplicated elsewhere and the longest consecutive duplicated run in
    * tokens — the span statistic an ExactSubstr removal pass would cut
    * (`max_dup_run` = run-of-windows + W − 1). Within-doc repetition is
    * deliberately NOT counted (that is `text_dup_spans`); a window must
    * cross documents to mark.
    *
    * Scale design — the reason this beats the paper's suffix array on a
    * cluster: everything is LINEAR in token count and never touches the
    * pair space. Positional W-gram hashes are computed map-side with the
    * same chained `xxhash64(tk[i], …, tk[i+W-1])` trick as
    * [[shinglesExpr]] (no concatenated strings shuffle); "appears in ≥2
    * docs" is `min(doc_id) != max(doc_id)` — a partial-aggregable pair of
    * mins/maxes, NOT a countDistinct — so the gram rollup combines
    * map-side; the marking join is a left-semi on the SAME hash the
    * rollup grouped by (Catalyst reuses the Exchange); the run/island
    * stage shuffles once more on doc_id. Three linear shuffles of
    * 8/16-byte rows total. Collisions follow the [[shinglesExpr]]
    * contract (p ≈ m²/2⁶⁵; the string-gram DuckDB oracle would surface
    * one as a driver hash mismatch); a 100 TB run would widen the key to
    * two independent xxhash64 salts (~2⁻¹²⁸). */
  def substringDedup(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    substringCore(Tables(spark, dir).documents, w)

  private[operators] def substringCore(docs: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: the gram stream feeds BOTH the ≥2-docs rollup and the
    // marking join's probe side — uncached, the tokenize+explode pass
    // runs twice ([[shingled]]'s rationale; at 100 TB the cache becomes
    // a materialized gram layout, same trade as materializeShingles)
    val grams = GraftSession.trackCache(docs
      .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("tk"))
      .where(size(col("tk")) >= w)
      .select(col("doc_id"),
        posexplode(expr(TextAnalysis.posGramsExpr(w))).as(Seq("pos", "gh"))))
    val shared = grams.groupBy("gh")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .where(col("mn") =!= col("mx")).select("gh")
    val marked = grams.join(shared, Seq("gh"), "left_semi")
    val runs = marked
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(
        sum("run").as("n_dup_windows"),
        (max("run") + (w - 1)).as("max_dup_run"))
    docs.select("doc_id").join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"),
        (coalesce(col("n_dup_windows"), lit(0L)) === 0).cast("long").as("is_clean"))
  }

  /** Exact duplicate groups by content hash. One shuffle on a 128-bit key;
    * at 100 TB this is the cheapest possible dedup (hash is computed
    * map-side, text itself never shuffles). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))

  /** Reordering-invariant exact dedup: documents hashing to the same
    * SORTED distinct-token set are duplicates even when the generator
    * permuted their word order — the cheap bag-of-words sibling of
    * [[exact]] every LLM corpus pipeline runs alongside byte-exact dedup.
    * Same scale shape: the hash is computed map-side, text never
    * shuffles, one aggregation on a 128-bit key. */
  def normalized(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("tk"))
      .groupBy(md5(concat_ws(" ", array_sort(array_distinct(col("tk"))))).as("bag_hash"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))

  /** HARD document-frequency cap: a shingle present in more than this many
    * documents is excluded from the similarity MEASURE itself — numerator
    * and denominator. Such shingles ("of the and", boilerplate headers) are
    * corpus stopwords: on web-scale text they appear in a large fraction of
    * every document, so they carry no discriminative signal for a 0.9
    * near-dup decision and only fatten every per-doc structure they touch.
    * Excluding them by declared semantics (the oracle mirrors it) also
    * keeps the prefix index bounded: every indexed shingle has
    * df <= this cap. */
  val ShingleDfHardCap = 1000

  /** K of [[containmentPairs]]' K-share candidate gate: a candidate pair
    * must share K of the contained doc's m+K globally-rarest shingles
    * (m = its miss budget). Zero-miss for any K >= 1 (the gate's bound is
    * least(K, ceil(t*na)) — see the candidate-generation comment); K only
    * trades prefix length (pair-stream volume, linear in K) against
    * random-collision selectivity (exponential in K). r18 raised 2 → 3:
    * at sf5 the third required collision cut verify candidates 63x
    * (4.8e6 → 7.6e4) for ~17% more pair-stream rows, and let the
    * main-leg exchange drop its `na` column (the gate is constant where
    * ceil(t*na) >= K). */
  val ContainmentShareGate = 3

  /** K of [[jaccardPairs]]' K-share candidate gate (r19 — the containment
    * gate's symmetric sibling): a candidate pair must share K of BOTH
    * docs' m+K globally-rarest shingles (m = n - ceil(t*n), each side's
    * miss budget). Zero-miss for any K >= 1 on the main (ceil(t*n) >= K)
    * leg — the K rarest SHARED shingles sit inside both extended
    * prefixes, see [[jaccardPairs]] — with shorter docs on the classic
    * side leg. Same trade as containment's: prefix length (pair-stream
    * volume, linear in K) against random-collision selectivity
    * (exponential in K). */
  val JaccardShareGate = 3

  /** Row cap for the short-doc side leg's broadcast in [[jaccardPairs]] /
    * [[containmentPairs]] (r20, ADVICE): the leg broadcasts its
    * noise-sized prefix stream, but "noise-sized" is a corpus property —
    * a corpus dominated by <= 2-effective-shingle docs at t = 0.9 ships
    * ~#docs x 2 rows through the driver. At/below the cap (~1e6 skinny
    * rows, tens of MB hashed) the broadcast stands; above it the leg
    * falls back to the shuffled join, which is identical in answer and
    * merely loses the map-side-only latency win the broadcast buys on
    * healthy corpora. The count comes from the same one-job aggregate
    * that already sizes the exchanges — no extra pass. */
  val SideLegBroadcastMaxRows = 1000000L

  /** Packed-pair-key support guard (r20, ADVICE): both prefix-filter legs
    * ship the (a, b) candidate pair PACKED as shiftleft(a, 32)|b, which
    * silently corrupts pairs if any doc_id is negative or >= 2^32. The
    * bounds ride the same doc-scaled aggregate that sizes the exchanges,
    * and an out-of-range corpus now fails loudly here instead of
    * emitting wrong pairs. (Packing stays the right call at scale — one
    * 8-data-byte row through the quadratic exchange — so the fix for a
    * >= 2^32-id corpus is widening to the two-column key, not dropping
    * the guard.) */
  private def requirePackableIds(lo: Long, hi: Long, op: String): Unit =
    require(lo >= 0L && hi < (1L << 32),
      s"$op packs (a, b) pairs into one long and needs doc_id in [0, 2^32);" +
        s" this corpus has doc_id range [$lo, $hi] — widen the pair key" +
        " to the two-column (doc_a, doc_b) form for this corpus")

  /** Warn threshold for [[warnDegenerateVocabulary]]: mean surviving df
    * above this fraction of the hard cap marks the corpus degenerate. */
  val DegenerateMeanDfFrac = 0.1

  /** Expected-cost statistics of the df distribution a shingle join is
    * about to stream: `(meanDf, nearCapFrac)` where `meanDf` = Σdf²/Σdf
    * over CAP-SURVIVING shingles (the df of the shingle under a random
    * surviving occurrence — the per-occurrence fan-out of any
    * single-shingle candidate scheme, so the candidate stream is
    * ~occurrences·meanDf rows) and `nearCapFrac` = the fraction of
    * surviving occurrences whose shingle's df lands in [cap/2, cap].
    * One vocabulary-sized aggregate over the (cached) dfreq frame; df²
    * ≤ cap² = 1e6 per shingle so the BIGINT sums cannot wrap below
    * ~9e12 distinct shingles. */
  private[graft] def degenerateVocabStats(dfreq: DataFrame, hard: Int): (Double, Double) = {
    val surv = dfreq.filter(col("df") <= hard)
    val row = surv.agg(
      sum(col("df") * col("df")).as("df2"),
      sum(col("df")).as("df1"),
      sum(when(col("df") >= hard / 2, col("df")).otherwise(0L)).as("nearCap")).head
    if (row.isNullAt(1) || row.getLong(1) == 0L) (0.0, 0.0)
    else (row.getLong(0).toDouble / row.getLong(1).toDouble,
      row.getLong(2).toDouble / row.getLong(1).toDouble)
  }

  /** LOUD degenerate-vocabulary guard (r14 verdict item — the
    * Dedup.scala bucketKernel / Graph.hits guard pattern applied to the
    * shingle-dedup family): the SURVEY §4 contract declares
    * [[ngramJaccard]]/[[containment]] for NATURAL (power-law-df) text,
    * where almost all shingles are rare and the prefix join streams
    * ~answer-sized volume; a corpus whose surviving shingles sit near
    * the df cap (the synthetic 31-word fixture) forces Σ cdf·fdf
    * postings collisions — inherently quadratic, completing but at
    * sf10-fixture cost (455 s / 82 GB spill measured). A warn, not a
    * `require`: the degenerate case is still CORRECT (the zero-miss
    * bounds hold; the committed uniform-fixture benches run exactly
    * this path) — but a production caller should read this as "wrong
    * tool for this corpus" before the cluster pays the quadratic bill.
    * Trigger: meanDf >= cap·[[DegenerateMeanDfFrac]] — subsumes the
    * near-cap-occupancy formulation (mass in [cap/2, cap] implies
    * mean >= cap/4). */
  private def warnDegenerateVocabulary(dfreq: DataFrame, hard: Int, who: String): Unit = {
    val (meanDf, nearCap) = degenerateVocabStats(dfreq, hard)
    if (meanDf >= hard * DegenerateMeanDfFrac)
      System.err.println(
        f"[graft] WARN $who: degenerate shingle vocabulary — mean surviving " +
          f"df $meanDf%.1f >= ${DegenerateMeanDfFrac}%.2f x cap $hard " +
          f"(${nearCap * 100}%.0f%% of occurrences within a factor 2 of the cap). " +
          "The candidate stream is ~occurrences x meanDf (quadratic in " +
          "docs-per-shingle); SURVEY §4 declares this operator for natural " +
          "power-law-df text, where the same plan is ~linear (zipf fixture: " +
          "1.4-1.6x for 5x rows). Expect uniform-fixture-bench cost.")
  }

  /** The effective-shingle index of the prefix-filtering cores
    * ([[jaccardPairs]], [[containmentPairs]]) over a (doc_id, sg, n)
    * shingle frame, as two cached frames:
    *  - `dfreq` (sh, df): vocabulary-sized 16-byte rows with at least two
    *    consumers (the [[warnDegenerateVocabulary]] guard `who` names, and
    *    the df <= hard join below), so the cache saves a second full
    *    corpus scan+explode;
    *  - `eff` (doc_id, eff, effv, n_eff): ONE doc_id aggregation builds
    *    everything per-doc. Sorting the (df, sh) structs puts `eff` in
    *    global-rarity order, so a prefix is just its first l elements — no
    *    separate window pass; `effv` is the SAME set re-sorted by VALUE,
    *    the input shape the allocation-free sorted_intersect_count verify
    *    needs (doc-scaled sort, so the per-PAIR hot path pays none of it).
    *    Arrays are per-DOC, bounded by document length; they meet pairs
    *    only after candidate pruning. It fans out (prefix explode + both
    *    sides of the verify join), hence cached. */
  private def effectiveShingles(sgd: DataFrame, hard: Int,
      who: String): (DataFrame, DataFrame) = {
    val ex = sgd.select(col("doc_id"), explode(col("sg")).as("sh"))
    val dfreq = GraftSession.trackCache(ex.groupBy("sh").agg(count(lit(1)).as("df")))
    warnDegenerateVocabulary(dfreq, hard, who)
    val eff = GraftSession.trackCache(ex.join(dfreq.filter(col("df") <= hard), Seq("sh"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("srt"))
      .select(col("doc_id"),
        expr("transform(srt, s -> s.sh)").as("eff"),
        sort_array(expr("transform(srt, s -> s.sh)")).as("effv"),
        size(col("srt")).cast("long").as("n_eff")))
    (dfreq, eff)
  }

  /** Near-dup pairs by shingle Jaccard >= 0.9 over the df <= hard-cap
    * shingle universe. See [[jaccardPairs]] for the shape. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(shingled(spark, dir), ShingleDfHardCap, 0.9)

  /** The ngram-Jaccard core over a (doc_id, sg, n) shingle frame: ALL pairs
    * with exact Jaccard >= threshold over the df <= hard universe, found by
    * PREFIX FILTERING (the AllPairs/PPJoin family) + exact verify.
    *
    * Candidate generation (r19 — the K-SHARE shape, promoted from
    * [[containmentPairs]] after the r18 event-log receipt below): order
    * the effective (df <= hard) shingles of each doc by global rarity
    * (df, sh) and index its first `l = min(n, n - ceil(t*n) + K)` of
    * them (K = [[JaccardShareGate]] — the classic AllPairs prefix
    * `n - ceil(t*n) + 1` extended by K-1 entries). A candidate pair must
    * share >= K prefix shingles. Zero-miss, for ANY threshold: J >= t
    * forces o = |Sa ∩ Sb| >= t*max(na, nb), so each side misses at most
    * m = n - ceil(t*n) of its own shingles; in the SHARED global rarity
    * order the j-th rarest shared shingle has rank <= m + j in both
    * docs, so for j <= K it sits inside both extended prefixes — a true
    * pair always yields >= K distinct-shingle join rows, PROVIDED
    * o >= K. Docs where ceil(t*n) >= K guarantee that bound (o >=
    * ceil(t*max) >= K), and they form the MAIN leg; pairs involving a
    * SHORTER doc (ceil(t*na) < K — at t = 0.9, K = 3 that is n <= 2,
    * near-empty docs) ride a broadcast side leg with the classic
    * single-shared-shingle candidate rule. A qualifying long×short pair
    * is impossible to lose across the split: every pair with a short
    * member is generated by the side leg, whose probe side is the FULL
    * prefix stream.
    *
    * WHY the K gate replaced the r4-r18 positional-filter + distinct
    * shape (stage-level event-log receipt, sf10 solo probe, r19): the
    * candidate count C, not the candidate EXCHANGE, was the key's whole
    * cost — C = 66.1M pairs survived positional + distinct on the
    * degenerate uniform-df corpus, and the verify's intermediate
    * exchange (candidates with the first doc's eff ARRAY already
    * attached, en route to the second verify join) shipped 35.6 GB of
    * the key's 37.2 GB total shuffle write at ~540 B/row. The K-count
    * gate collapses C to near-true-pair volume BEFORE any array
    * attaches (the containment restructure measured 63x at sf5), which
    * shrinks the dominant exchange by the same factor. The positional
    * ubound CANNOT coexist with the count gate — it deliberately kills
    * non-first-match rows, i.e. exactly the 2nd..K-th shared-prefix
    * rows the count needs — and it was the weaker filter here anyway
    * (66.3M → 66.1M measured).
    *
    * The quadratic pair stream gets the containment exchange
    * discipline: the (doc_a, doc_b) key rides PACKED into one long
    * (doc_ids < 2^32 — beyond that widen to the two-column key), the
    * self-join's single prefix exchange is explicitly repartitioned so
    * per-task join OUTPUT stays ~1e6 rows (ReuseExchange ships the
    * prefix ONCE — both join inputs are the same exchanged frame), and
    * the pair aggregate is explicitly repartitioned to partition-sized
    * key spaces. Both widths are sized from a MEASURED pair-stream
    * estimate Σ pdf²/2 (pdf = per-shingle prefix document frequency,
    * one vocabulary-sized aggregate over the prefix stream) rather than
    * an nDocs² model: the prefix join's output rides the corpus's
    * actual rarity profile (zipf text: ~answer-sized; the degenerate
    * uniform fixture: quadratic in docs-per-shingle), and only the
    * measurement sees which corpus it got. AQE cannot size either
    * exchange (its coalescing reads map INPUT bytes, not join output;
    * explicit-N repartitions are exempt from coalescing).
    *
    * Verification: the (few) candidates join back to the per-DOC
    * effective shingle arrays and the native codegen'd
    * `sorted_intersect_count` computes the exact shared count by an
    * allocation-free merge walk over the VALUE-sorted copies (r10: the
    * builtin `array_intersect` hash-set verify was the measured top CPU
    * sink at sf5 — it allocates a set AND the intersection array per
    * pair just to take its size). The round-2 rule ("never ship arrays
    * to the full Σ df² pair space") still stands: arrays meet only
    * gated candidates.
    *
    * The ceil is computed with a 1e-9 downward guard: t * n in doubles can
    * land an epsilon ABOVE an exact integer, which would shorten the
    * prefix by one and open a miss window; the guard only ever lengthens
    * the prefix (extra candidate, never a miss).
    *
    * LENGTH filter (kept from the r9 defense, zero-miss): J(x,y) >= t
    * forces o >= t*max(na,nb) and o <= min(na,nb), so t*max <= min — a
    * pair whose sizes differ more than t-fold can never qualify. It is
    * row-independent, so all K shared-prefix rows of a true pair
    * survive it together. */
  private[graft] def jaccardPairs(sgd: DataFrame, hard: Int,
      threshold: Double): DataFrame = {
    GraftSession.registerFunctions(sgd.sparkSession) // sorted_intersect_count
    val (_, eff) = effectiveShingles(sgd, hard, "ngramJaccard")
    // K-extended prefix, NO positions (the K-count gate replaced the
    // positional ubound — see the scaladoc); rows are (doc_id, n_eff, sh)
    val prefix = eff.select(col("doc_id"), col("n_eff"), explode(expr(
      s"""slice(eff, 1, least(size(eff),
         |  size(eff) - cast(ceil($threshold * size(eff) - 1e-9) as int)
         |  + $JaccardShareGate))""".stripMargin)).as("sh"))
    val shortDoc = ceil(lit(threshold) * col("n_eff") - 1e-9) < JaccardShareGate
    // MEASURED pair-stream estimate: the self-join emits exactly Σ pdf²
    // ordered rows (incl. self-pairs) before filters, so Σ pdf²/2 upper-
    // bounds the a<b stream. One vocabulary-sized aggregate over the
    // (cached-eff-derived) prefix stream; double sum — pdf <= hard caps
    // each term but a 100 TB corpus's Σ could overflow a long. The same
    // job also carries (r20, ADVICE) the packed-key doc_id bounds and
    // the side leg's broadcast volume (short docs index their FULL
    // array, so their prefix row count IS the broadcast row count).
    val statRow = prefix.groupBy("sh").agg(count(lit(1)).as("pdf"),
        sum(when(shortDoc, lit(1L)).otherwise(lit(0L))).as("srows"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .agg(sum(col("pdf").cast("double") * col("pdf")).as("p2"),
        sum(col("srows")).as("shortRows"),
        min(col("lo")).as("lo"), max(col("hi")).as("hi")).head
    val pairEst = if (statRow.isNullAt(0)) 0.0 else statRow.getDouble(0) / 2.0
    val shortRows = if (statRow.isNullAt(1)) 0L else statRow.getLong(1)
    if (!statRow.isNullAt(2))
      requirePackableIds(statRow.getLong(2), statRow.getLong(3), "jaccardPairs")
    // join width: per-task pair OUTPUT ~2e6 rows (~60 MB of sorter pages
    // + partial-aggregate table — the r18 two-question sizing lesson);
    // aggregate width: per-task KEY space ~1e6 packed longs (~64 MB),
    // the containment r21 receipt applied here after the same stage-
    // attribution read: at sf10 the old 3e5/1e6 divisors planned the
    // pair exchange at 1300 maps x 4096 reducers = 5.3M ~0.5 KB blocks
    // for a 241M-record stream (59k keys per reduce task — the Σ pdf²/2
    // estimate runs ~5x the post-filter stream, so the widths were sized
    // for rows that never arrive). Note pairEst OVERESTIMATES here
    // (containment's is exact), so the effective per-task numbers stay
    // conservative.
    val joinParts = math.max(32.0, math.min(2048.0, pairEst / 2e6)).toInt
    val pairParts = math.max(32.0, math.min(4096.0, pairEst / 1e6)).toInt
    // ONE exchange for both self-join inputs: repartition first, project
    // twice — the two join children canonicalize identically, so
    // ReuseExchange ships the prefix stream once.
    val pw = prefix.filter(!shortDoc).repartition(joinParts, col("sh"))
    val lengthOk = lit(threshold) * greatest(col("na"), col("nb")) <=
      least(col("na"), col("nb")).cast("double") + 1e-9
    val candMain = pw.select(col("doc_id").as("doc_a"), col("n_eff").as("na"),
        col("sh"))
      .join(pw.select(col("doc_id").as("doc_b"), col("n_eff").as("nb"),
        col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(lengthOk)
      .select(shiftleft(col("doc_a"), 32).bitwiseOR(col("doc_b")).as("pk"))
      .repartition(pairParts, col("pk"))
      .groupBy("pk").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= JaccardShareGate)
      .select(shiftrightunsigned(col("pk"), 32).as("doc_a"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"))
    // SIDE leg — every pair with a short (ceil(t*n) < K) member: the
    // K-count bound does not apply there (the pair's overlap may be
    // < K), so the classic one-shared-prefix-shingle rule + distinct
    // decides. The short prefix stream is bounded by (#short docs) x
    // n_eff < K/t rows — corpus noise — so it BROADCASTS and the whole
    // leg runs map-side over the prefix scan (the containment side
    // leg's r19 shape); its probe side is the FULL prefix stream, so
    // short x long pairs (possible at low thresholds) are generated
    // too. Orientation is normalized to doc_a < doc_b after the
    // symmetric filters. The broadcast is gated on the MEASURED short
    // stream (r20, ADVICE — [[SideLegBroadcastMaxRows]]): a short-doc-
    // dominated corpus falls back to the shuffled join instead of
    // shipping ~#docs x 2 rows through the driver.
    val shortPrefix = prefix.filter(shortDoc).select(
      col("doc_id").as("doc_a"), col("n_eff").as("na"), col("sh"))
    val shortSide =
      if (shortRows <= SideLegBroadcastMaxRows) broadcast(shortPrefix)
      else shortPrefix
    val candSide = prefix.select(col("doc_id").as("doc_b"),
        col("n_eff").as("nb"), col("sh"))
      .join(shortSide, Seq("sh"))
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(lengthOk)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
    val cand = candMain.unionAll(candSide)
    // ARRAY VERIFY, deliberately NOT the count-based shape — measured
    // both at sf5: the per-pair intersect (r9 hash-set array_intersect:
    // 17.5 s; r10 native sorted merge: cheaper still) beats the ×n_eff
    // postings count-join's 230 s by an order of magnitude, and the
    // K-share gate above is what keeps C (and with it the intermediate
    // cand+ea exchange between the two joins — the r18 shape's measured
    // 35.6 GB) answer-sized. The eff legs carry a shuffle_hash hint so
    // AQE's runtime broadcast conversion can never hash-build the
    // pair-scaled cand side on the driver (the containment sf5 OOM
    // mode); the build side is one doc-scaled eff partition.
    cand
      .join(eff.select(col("doc_id").as("doc_a"), col("effv").as("ea"),
        col("n_eff").as("na")).hint("shuffle_hash"), Seq("doc_a"))
      .join(eff.select(col("doc_id").as("doc_b"), col("effv").as("eb"),
        col("n_eff").as("nb")).hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("c", expr("sorted_intersect_count(ea, eb)"))
      // accept on the EXACT ratio (r11, closing the r10 advice gap): the
      // candidate gates are derived from o >= ceil(t·n − 1e-9), and with
      // the exact acceptance that bound IS the acceptance — a rounded
      // filter (round(o/n,4) >= t) would admit o = ceil(t·n) − 1 once
      // 0.00005·n exceeds the fractional gap, i.e. pairs the gates can
      // legitimately prune. The rounded value remains as display output;
      // the DuckDB oracle accepts on the same exact ratio.
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= threshold)
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 4))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Asymmetric containment near-dup pairs: C(a, b) = |Sa ∩ Sb| / |Sa| >=
    * 0.9 over the df <= hard-cap shingle universe — the OTHER Broder
    * measure next to [[ngramJaccard]]'s resemblance. Jaccard misses the
    * corpus case containment exists for: a short document (an abstract, a
    * quoted passage, a syndicated excerpt) fully embedded in a much longer
    * one has J ≈ |Sa|/|Sb| ≈ 0 but C(a→b) = 1. Pairs are DIRECTED
    * (contained, container); a mutually-near-identical pair appears in
    * both directions by design. */
  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(shingled(spark, dir), ShingleDfHardCap, 0.9)

  /** The containment core over a (doc_id, sg, n) shingle frame — the
    * asymmetric leg of the prefix-filtering family ([[jaccardPairs]]).
    *
    * Candidate generation: C(a, b) >= t still means the shared count
    * o >= ceil(t * n_a), so the CONTAINED side keeps the Jaccard-style
    * zero-miss prefix (its `l = n - ceil(t*n) + 1` globally-rarest
    * shingles must hold a shared shingle). The CONTAINER side has no such
    * bound — o / n_b can be arbitrarily small for a huge container — so it
    * indexes ALL its effective shingles. The join is therefore
    * prefix(contained) ⋈ full(container): bigger than Jaccard's
    * prefix ⋈ prefix, but still bounded by the df cap (every indexed
    * shingle meets <= `hard` partners) and still running on the few
    * rarest shingles of every POTENTIALLY-contained doc rather than the
    * full Σ df² pair space.
    *
    * Verification is candidates-only and ARRAY-BASED, like Jaccard's —
    * see the in-body comment for the full sf5 history (array OOM at the
    * pre-bounds C ≈ 6e8 → count-join that survived the heap but shuffles
    * C×n_eff triples and filled the spill disk → bounds shrank C, array
    * verify wins on volume). Divide by n_a alone (the asymmetry), keep
    * >= t. Same 1e-9 ceil guard — it only ever LENGTHENS the prefix (an
    * extra candidate, never a miss).
    *
    * DEGENERATE-CORPUS DEFENSE (r9 sf5 finding, rebuilt in r10 — the
    * positional PPJoin bound proved nearly useless here because the
    * shared global rarity order puts a contained doc's prefix shingles
    * EARLY in the container too, so 3.3e8 of the 3.1e10 directed pairs
    * survived it at sf5; shipping arrays to 3.3e8 pairs spilled ~58 GB):
    *  - LENGTH (kept): o >= t*na and o <= min(na, nb) force
    *    nb >= ceil(t*na) — a container SMALLER than t x the contained
    *    doc can never hold it.
    *  - SHARE COUNT (r10, strengthened r18): index the contained doc's
    *    first l = min(na, m+K) rarest shingles (m = na - ceil(t*na), its
    *    miss budget; K = [[ContainmentShareGate]]) and require
    *    cnt >= least(K, ceil(t*na)) shared (prefix', container) shingles
    *    — a true pair misses at most m of ANY subset of Sa, so it shares
    *    >= l - m = least(K, na - m) of the prefix' and always clears the
    *    gate, while random single-shingle collisions (the degenerate
    *    corpus's whole problem) must now collide K times among the same
    *    doc's m+K rarest to survive. Candidates collapse from
    *    single-collision volume to near-true-pair volume and the verify
    *    join's array shipping scales with the ANSWER. Each +1 in K adds
    *    one prefix row per doc (~1/(m+K) more pair-stream volume) and
    *    buys another independent-collision factor of candidate
    *    selectivity — K=3 measured at sf5: verify candidates 4.8e6 →
    *    7.6e4 (63x) for ~17% more pair-stream rows. */
  private[graft] def containmentPairs(sgd: DataFrame, hard: Int,
      threshold: Double): DataFrame = {
    GraftSession.registerFunctions(sgd.sparkSession) // sorted_intersect_count
    val (dfreq, eff) = effectiveShingles(sgd, hard, "containment")
    // EXTENDED prefix + K-SHARE GATE candidates (r10, K raised 2 → 3 in
    // r18 — see [[ContainmentShareGate]]; this replaced the
    // positional-filter + distinct shape, whose measured sf5 survival
    // made it useless: the shared global rarity order puts a contained
    // doc's prefix shingles EARLY in every container too, so 3.3e8 of
    // 3.1e10 directed pairs survived and the array verify spilled
    // ~58 GB). With m = na - ceil(t*na) (the contained doc's miss
    // budget), index its first l = min(na, m+K) globally-rarest
    // shingles and require cnt >= least(K, ceil(t*na)) shared
    // (prefix', container) shingles per pair. Zero-miss: a true pair
    // misses at most m of ANY subset of Sa, so it shares >= l - m =
    // least(K, na - m) prefix' shingles. Selectivity is the point: on
    // the degenerate uniform-df corpus a random pair collides on ONE
    // "rare" shingle easily (every df ≈ 450) but on K of the same
    // doc's m+K rarest almost never — candidates collapse from 3.3e8
    // to near-true volume, and the verify join's array shipping scales
    // with the ANSWER.
    //
    // The count aggregate is deliberately fed through an EXPLICIT pair
    // repartition: without it, the partial (map-side) aggregate sees
    // ~8e8 mostly-unique pair keys per map task, thrashes its hash
    // table, and falls back to external sorts (measured: 139 GB spill,
    // the same disk blow-up it was meant to fix). Pre-partitioned on
    // the grouping key, the exchange is elided above the aggregate and
    // each task's key space is partition-sized (in-memory); the shuffle
    // moves ONE packed long per pair occurrence — never arrays.
    val prefix = eff.select(col("doc_id"), col("n_eff"), explode(expr(
      s"""slice(eff, 1, least(size(eff),
         |  size(eff) - cast(ceil($threshold * size(eff) - 1e-9) as int)
         |  + $ContainmentShareGate))"""
        .stripMargin)).as("sh"))
      .select(col("doc_id").as("contained"), col("n_eff").as("na"), col("sh"))
    val all = eff.select(col("doc_id").as("container"), col("n_eff").as("nb"),
        explode(col("eff")).as("sh"))
    // the pair key rides the exchange PACKED into one long (doc_ids are
    // < 2^32 up to ~4e9 documents — beyond that, widen to the two-column
    // key): a 1-field 8-data-byte row (16 B with the null word — r18
    // dropped `na` from the exchange entirely, see the leg split below),
    // a single-long hash, and radix-friendly aggregation.
    // Exchange widths are sized from the MEASURED pair-stream estimate
    // below (r20 — the worst case scales quadratically with the corpus,
    // but only the measurement knows whether this corpus is the worst
    // case; see the pairEst comment).
    // The stats aggregate is the materialization of the already-tracked
    // eff cache, paid once and reused by the prefix/all/verify consumers
    // below. Besides nDocs it carries (r20, ADVICE) the packed-key
    // doc_id bounds and the short-doc side leg's broadcast volume (a
    // short doc's prefix is its FULL array — ceil(t*na) < K leaves the
    // slice length at na — so Σ n_eff over short docs IS the broadcast
    // row count).
    val shortEff = ceil(lit(threshold) * col("n_eff") - 1e-9) <
      ContainmentShareGate
    val statRow = eff.agg(count(lit(1)).as("n"),
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
      sum(when(shortEff, col("n_eff")).otherwise(lit(0L))).as("shortRows")).head
    val nDocs = statRow.getLong(0)
    if (nDocs > 0L)
      requirePackableIds(statRow.getLong(1), statRow.getLong(2), "containmentPairs")
    val shortRows = if (statRow.isNullAt(3)) 0L else statRow.getLong(3)
    // MEASURED pair-stream estimate (r20, the r19 Jaccard trick applied
    // here — verdict #4): the prefix ⋈ all join emits EXACTLY
    // Σ_sh pdf_sh × df_sh rows before the row-local filters (each
    // prefix occurrence of a shingle meets each of its df container
    // occurrences), so one vocabulary-sized aggregate over the prefix
    // stream joined to the already-cached dfreq prices the stream
    // before paying for it. The nDocs² model this replaces was
    // calibrated on the degenerate uniform fixture (where the stream
    // really is ~n²/1e2) — on zipf text it OVERSIZES (thousands of
    // near-empty tasks), and on a same-nDocs corpus of much longer
    // documents it UNDERSIZES, which is the r18 sorter-spill mode
    // coming back. The estimate rides whatever rarity profile the
    // corpus actually has. sf10 cross-check (r20 event log): estimate
    // 2.1e9 vs measured stage output 2.099e9 records.
    val pairEstRow = prefix.groupBy("sh").agg(count(lit(1)).as("pdf"))
      .join(dfreq.filter(col("df") <= hard), Seq("sh"))
      .agg(sum(col("pdf").cast("double") * col("df").cast("double"))
        .as("est")).head
    val pairEst = if (pairEstRow.isNullAt(0)) 0.0 else pairEstRow.getDouble(0)
    // Per-task aggregate KEY space ~1e6 packed longs (~64 MB table).
    // r21 re-measured the r20 5e5 setting by stage attribution: at sf10
    // the pair exchange ran 2048 maps x 4096 reducers = 8.4M blocks of
    // ~2.2 KB, and the AGGREGATE READ side alone cost 2522 task-CPU-s
    // (1.2 us/row for a long-key hash agg — per-block open/decompress
    // overhead, the same r18 signature at a milder dose). Halving the
    // reducer count (blocks -> 2.75M of ~6.8 KB) read 131.9 s / 3652
    // CPU-s vs 152.4 / 4201 on the r20 widths, solo sf10, ZERO spill.
    // Halving the JOIN width too was ~5% faster still (125.5 s) but
    // pushed the map sorters to ~100 MB/task and brought back ~1.3 GB
    // of spill accounting — rejected: the shared-JVM bench envelope is
    // exactly where r20's UNABLE_TO_ACQUIRE lived. (The AQE-sized
    // default died in UNABLE_TO_ACQUIRE inside a memory-fragmented
    // shared JVM — keep the explicit width.)
    val pairParts = math.max(32.0, math.min(4096.0, pairEst / 1e6)).toInt
    // The JOIN's width is sized SEPARATELY (r18): it answers a different
    // question — per-task pair-stream OUTPUT volume (the downstream
    // exchange's map-side sorter must hold it in execution memory), not
    // per-task key space. Reusing pairParts for both was measured as a
    // shuffle-block explosion at sf10: 8192 join maps × 8192 aggregate
    // reducers = 67M ~700-byte blocks, whose per-block open/decompress
    // overhead tripled the key's CPU (10353 s vs 3993 baseline) and GC'd
    // 1930 s, against a few-MB per-task sorter that needed no such
    // width. pairEst/1.6e6 holds ~1.6e6 pair rows (~50 MB of sorter
    // pages) per join task — the r18 anchor (sf10: 1250 tasks ×
    // 1.68e6 rows, 38 MB total spill) re-derived from the measurement
    // instead of the model; blocks = joinParts × pairParts stay in the
    // low millions.
    val joinParts = math.max(32.0, math.min(2048.0, pairEst / 1.6e6)).toInt
    // The candidate JOIN runs joinParts-wide (r18): the pair stream is
    // the quadratic object here, and at the session's 32 partitions
    // each map task of the downstream pair exchange held ~1.4e7 sorter
    // records (~450 MB against ~150 MB of per-task execution memory) and
    // spilled the WHOLE stream through ShuffleExternalSorter (sf5
    // measured: 13.9 GB memory + 4.9 GB disk spill on a 4.9 GB exchange
    // write). Explicitly repartitioning both join inputs by the join key
    // widens the join stage itself — per-task pair output drops to
    // ~50 MB and the exchange write never leaves memory. AQE cannot
    // undo it: its coalescing reads the map-side INPUT size (~doc-scaled
    // MBs, it would coalesce to a handful of tasks), not the joined
    // output, and explicit-N repartitions are exempt.
    // Measured solo (this change + the K/na-drop below together):
    // sf5 wall 80.3 → 38.0 s, spill 19.3 → 2.0 GB, shuffle 15.0 →
    // 9.5 GB; sf10 wall 326.9 (battery) → 172.2 s, spill 78.1 →
    // 0.15 GB, shuffle 60.9 → 38.5 GB.
    val allW = all.repartition(joinParts, col("sh"))
    def pairsOf(p: DataFrame): DataFrame = p
      .repartition(joinParts, col("sh"))
      .join(allW, Seq("sh"))
      .filter(col("contained") =!= col("container"))
      // zero-miss length bound: the container must hold >= ceil(t*na)
      // shared shingles, so nb >= ceil(t*na)
      .filter(col("nb") >= ceil(lit(threshold) * col("na") - 1e-9))
    // LEG SPLIT (r18): the uniform K-share gate only applies where
    // ceil(t*na) >= K; shorter docs (na <= 2 at t = 0.9, K = 3) keep the
    // exact na-dependent gate on a side leg. The split is on the PREFIX
    // side (the condition only reads na), so the big join computes once;
    // the side leg's pair stream is bounded by (#short docs) × na × hard
    // — noise. The split is what lets the MAIN leg's exchange drop `na`
    // entirely — its gate is the constant K — so the dominant quadratic
    // pair stream ships one packed long per row instead of a (pk, na)
    // pair.
    val shortDoc = ceil(lit(threshold) * col("na") - 1e-9) <
      ContainmentShareGate
    // The side leg BROADCASTS its prefix stream instead of riding
    // pairsOf's joinParts-wide exchange (r19, ADVICE): its volume is
    // bounded by (#docs with ceil(t*na) < K) x na <= 2 rows — documents
    // with at most two effective shingles, corpus noise — so a
    // joinParts-wide (up to 2048) repartition gave thousands of
    // near-empty tasks per run. Broadcast-hash keeps the whole leg
    // map-side over the cached eff scan: zero exchanges until the
    // answer-sized aggregate, which AQE sizes freely (no explicit-N
    // repartition to exempt it). Worst case (a corpus made ENTIRELY of
    // <= 2-shingle docs) the broadcast would be #docs x 2 skinny rows —
    // so it is gated on the MEASURED short stream (r20, ADVICE —
    // [[SideLegBroadcastMaxRows]]): above the cap the leg falls back to
    // the shuffled join instead of shipping the corpus through the
    // driver.
    val shortSidePrefix = prefix.filter(shortDoc)
    val shortSide =
      if (shortRows <= SideLegBroadcastMaxRows) broadcast(shortSidePrefix)
      else shortSidePrefix
    val candSmall = all
      .join(shortSide, Seq("sh"))
      .filter(col("contained") =!= col("container"))
      .filter(col("nb") >= ceil(lit(threshold) * col("na") - 1e-9))
      .groupBy("contained", "container")
      .agg(count(lit(1)).as("cnt"), min("na").as("na"))
      .filter(col("cnt") >= ceil(lit(threshold) * col("na") - 1e-9))
      .select("contained", "container")
    val candMain = pairsOf(prefix.filter(!shortDoc))
      .select(shiftleft(col("contained"), 32).bitwiseOR(col("container")).as("pk"))
      .repartition(pairParts, col("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= ContainmentShareGate)
      .select(shiftrightunsigned(col("pk"), 32).as("contained"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("container"))
    val cand = candMain.unionAll(candSmall)
    // ARRAY VERIFY, the [[jaccardPairs]] shape (r9 final form — this
    // verify's history IS the sf5 story: the pre-bounds array verify
    // OOM'd at C ≈ 6e8 candidates; the count-based postings join that
    // replaced it survived the heap but multiplies candidates by n_eff —
    // C×n̄ 24-byte triples through the SECOND join's shuffle, which at
    // the post-bounds C ≈ 2e7, n̄ ≈ 98 is ~2e9 rows and filled the
    // 77 GB spill disk in the full sf5 bench. The array verify ships
    // each candidate's two arrays exactly ONCE — C×~800 B ≈ 16 GB on
    // the degenerate corpus, linear in C — strictly less volume than
    // the count join whenever n_eff > ~33 shingles, and the PPJoin
    // bounds above are precisely what keep C small enough for it.)
    // Exactness: eff arrays are duplicate-free (shinglesExpr's
    // array_distinct) and effv is value-sorted, so the native
    // sorted_intersect_count merge walk returns exactly o (r10: it
    // replaced the array_intersect hash-set verify — the measured top
    // CPU sink of the whole sf5 bench at ~3e8 candidates on the
    // degenerate corpus; the merge walk is allocation-free and stays
    // inside whole-stage codegen). shuffle_hash hints, same rationale
    // as [[jaccardPairs]]: the pair-scaled side must never hash-build
    // on the driver via a runtime broadcast conversion; the build side
    // is one doc-scaled eff partition.
    cand
      .join(eff.select(col("doc_id").as("contained"), col("effv").as("ea"),
        col("n_eff").as("na")).hint("shuffle_hash"), Seq("contained"))
      .join(eff.select(col("doc_id").as("container"), col("effv").as("eb"))
        .hint("shuffle_hash"), Seq("container"))
      .withColumn("c", expr("sorted_intersect_count(ea, eb)"))
      // exact-ratio acceptance, same rationale as [[jaccardPairs]] (r11):
      // the 2-share/length gates assume o >= ceil(t·na − 1e-9); rounding
      // before the compare would accept pairs below that bound
      .filter(col("c").cast("double") / col("na") >= threshold)
      .withColumn("containment", round(col("c").cast("double") / col("na"), 4))
      .select("contained", "container", "na", "containment")
  }

  /** Shared content-defined chunks across documents — the rsync/LBFS-style
    * dedup that catches COPIED PASSAGES and boilerplate, not just whole
    * near-duplicate documents. Each doc's bytes are cut at rolling-hash
    * boundaries (native [[graft.functions.CdcChunks]] expression; cut
    * points depend only on local content, so a shifted or partially-edited
    * copy re-synchronizes and reproduces the same chunks), and the output
    * is every chunk fingerprint present in >= 2 documents with its
    * document and occurrence counts.
    *
    * Scale shape: chunking is map-side codegen'd byte work; the only
    * shuffle is one partial/final aggregation on the 64-bit fingerprint —
    * the same cheapest-possible shape as [[exact]]. Chunk volume is
    * ~n_bytes/64 rows of 16 bytes each. */
  def cdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    GraftSession.registerFunctions(spark) // cdc_chunks
    Tables(spark, dir).documents
      .select(col("doc_id"),
        explode(expr("cdc_chunks(encode(text, 'utf-8'))")).as("chunk"))
      .groupBy("chunk")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
  }

  /** MinHash + LSH near-dup detection, exact-verified.
    *
    * 32 MinHash signature slots per document: shingles arrive as 64-bit
    * feature hashes (see [[shinglesExpr]]), and the 32 permutations are
    * derived inside the native [[graft.functions.MinHash32]] expression
    * from SplitMix64 constants (one codegen'd 32xN loop, no
    * per-permutation re-hash of the underlying text).
    * Signatures are banded 16 bands x 2 rows: a pair is a candidate
    * iff both min-hashes of some band collide. At Jaccard 0.9 (where this
    * corpus's near-dups live) the miss probability is (1-0.81)^16 ~ 3e-12;
    * exact verification then makes the output equal the exact-Jaccard
    * result — which is what the oracle computes. r=2 matters: with r=1
    * every pair sharing ANY shingle becomes a candidate (~9% of all pairs
    * on a small-vocabulary corpus), which degenerates to all-pairs verify.
    *
    * Scale: signatures are computed map-side from the shingle array (no
    * shuffle); candidates come from a 16-way band equi-join (AQE splits
    * skewed buckets); exact verify touches only candidate pairs — a
    * zero-miss length gate first, then the native allocation-free
    * `sorted_intersect_count` merge walk (r21; see [[minhashLsh]]).
    */
  /** Candidate near-dup pairs from the 16x2 MinHash band join (no verify).
    * Shared by [[minhashLsh]] (exact-Jaccard verify) and [[simhash]]
    * (Hamming verify). `sgd` must be the cached [[shingled]] frame. */
  private def minhashCandidates(sgd: DataFrame): DataFrame = {
    // shingles are already 64-bit feature hashes; the 32 permutation minima
    // derive inside the native minhash32 expression (one codegen'd 32xN loop)
    val sig = sgd
      .select(col("doc_id"), expr("minhash32(sg)").as("sig"))
    // band key = both rows of the band hashed together (r=2)
    val bands = sig.select(col("doc_id"),
      posexplode(expr("transform(sequence(0, 15), b -> xxhash64(sig[2 * b], sig[2 * b + 1]))"))
        .as(Seq("band", "h")))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    GraftSession.registerFunctions(spark) // minhash32, sorted_intersect_count
    val sgd = shingled(spark, dir)
    // Verify rebuilt on the r21 plan-metrics read (sf10 final plan: the
    // band join emits 18.2M candidates, verify passes 7358, and the
    // verify stage alone was ~236 of the key's ~270 task-CPU-s — and the
    // same stage re-runs inside dedup_clusters / pipeline_clean_corpus /
    // pipeline_keep_best, which recompute the pair graph per key):
    //  - LENGTH GATE before any array work (zero-miss: c <= least(na, nb)
    //    and u >= greatest(na, nb), so j >= 0.8 forces
    //    4 * greatest <= 5 * least; an LSH noise collision between
    //    different-length docs dies on two long compares).
    //  - sorted_intersect_count over per-doc sort_array(sg) (the r10
    //    jaccard/containment lesson applied here: the hash-set
    //    array_intersect builds and materializes a set per PAIR; the
    //    merge walk is allocation-free and codegen-resident. Sorting is
    //    paid once per doc side, not per pair; sg is distinct by
    //    [[shinglesExpr]], so the count is the exact overlap).
    val verified = minhashCandidates(sgd)
      .join(sgd.select(col("doc_id").as("doc_a"),
        sort_array(col("sg")).as("sga"), col("n").as("na")), Seq("doc_a"))
      .join(sgd.select(col("doc_id").as("doc_b"),
        sort_array(col("sg")).as("sgb"), col("n").as("nb")), Seq("doc_b"))
      .filter(greatest(col("na"), col("nb")) * 4 <=
        least(col("na"), col("nb")) * 5)
      .withColumn("c", expr("sorted_intersect_count(sga, sgb)").cast("long"))
      // exact-ratio acceptance (r11, consistent with [[jaccardPairs]]):
      // the rounded value is display-only
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= 0.8)
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 4))
      .select("doc_a", "doc_b", "jaccard")
    verified
  }

  /** SimHash near-dup pairs (Hamming distance <= 3 over 64-bit sketches) —
    * a sketch CASCADE: candidates come from the MinHash band join,
    * verification is the native codegen'd
    * [[graft.functions.HammingDistance64]] expression over the 64-bit
    * SimHash sketches.
    *
    * Why not SimHash's own 4x16-bit band join (pigeonhole-lossless for
    * Hamming <= 3)? On homogeneous corpora SimHash bits are strongly
    * correlated across documents, so 16-bit bands collide massively and
    * the band join degenerates toward all-pairs (measured 30x slower than
    * the cascade at sf0.1). The MinHash candidate generator has already
    * solved skew-proof candidate generation once — reusing it keeps every
    * sketch verifier O(candidates). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    GraftSession.registerFunctions(spark)
    val sgd = shingled(spark, dir)
    // native simhash64 expression: one codegen'd counting loop per doc
    val sketches = GraftSession.trackCache(sgd
      .select(col("doc_id"), expr("simhash64(sg)").as("simhash")))
    minhashCandidates(sgd)
      .join(sketches.select(col("doc_id").as("doc_a"), col("simhash").as("sha")), Seq("doc_a"))
      .join(sketches.select(col("doc_id").as("doc_b"), col("simhash").as("shb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("hamming64(sha, shb)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Near-dup cluster assignment: connected components over the verified
    * MinHash pair graph, labels = min doc_id in the component (the
    * representative each cluster keeps). Distributed min-label
    * propagation — one join per iteration, converges in O(component
    * diameter) rounds (near-dup clusters are shallow), every step a plain
    * shuffle join that AQE handles at any scale. Each round is one
    * checkpoint job: an Observation on it counts the changed labels, so
    * the convergence test launches no job of its own. */
  def clusters(spark: SparkSession, dir: String): DataFrame = clusterLabels(spark, dir)._1

  /** [[clusters]] and its row count (the number of clustered docs), both
    * from the propagation's own checkpoint jobs: the labels are the last
    * round's checkpoint, and its Observation holds the count. */
  private[graft] def clusterLabels(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val pairs = minhashLsh(spark, dir).select("doc_a", "doc_b")
    val edges = GraftSession.trackCache(
      pairs.union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    // localCheckpoint (eager) on every generation: the label frame's plan
    // is always ONE join deep, never the whole iteration history — without
    // it, 10+ iterations of stacked lineage blow up analysis/planning time
    // at scale. The checkpointed blocks of the superseded generation are
    // freed explicitly below.
    var labels = edges.select(col("doc_a").as("doc")).distinct()
      .withColumn("lbl", col("doc"))
      .localCheckpoint()
    var converged = false
    var nDocs = 0L
    var iter = 0
    val maxIter = 50
    while (!converged && iter < maxIter) {
      // neighbor minimum + pointer jump in one round: candidate label =
      // min(own, min over neighbors, label-of-label). The jump shortcuts
      // chains, so convergence takes O(log diameter) rounds instead of
      // O(diameter) — at small SF each round is dominated by fixed
      // job/checkpoint overhead, and at 100 TB rounds are whole shuffle
      // stages, so halving the round count pays in both regimes. The
      // Observation counts changed labels (the convergence test) and rows.
      val (next, m) = GraftSession.checkpointObserved(obs => edges
        .join(labels.withColumnRenamed("doc", "doc_b").withColumnRenamed("lbl", "nlbl"), Seq("doc_b"))
        .groupBy(col("doc_a").as("doc")).agg(min("nlbl").as("nbr"))
        .join(labels, Seq("doc"))
        .join(labels.select(col("doc").as("lbl"), col("lbl").as("jmp")), Seq("lbl"), "left")
        .select(col("doc"),
          least(col("nbr"), col("lbl"), coalesce(col("jmp"), col("lbl"))).as("lbl"),
          (least(col("nbr"), coalesce(col("jmp"), col("lbl"))) < col("lbl")).as("chg"))
        .observe(obs, count(when(col("chg"), 1)).as("changed"), count(lit(1)).as("n")))
      converged = m.getLong(0) == 0L
      nDocs = m.getLong(1)
      freeLocalCheckpoint(labels)
      labels = next.select("doc", "lbl")
      iter += 1
    }
    // the oracle computes the full transitive closure — exiting un-converged
    // would silently mislabel any component with diameter > maxIter
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIter iterations")
    (labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id")), nDocs)
  }

  /** Frees the block-store copy behind a localCheckpoint()ed frame (the
    * ContextCleaner would get there eventually via GC; superseded label
    * generations are large enough to free deterministically). */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
    }

  /** Number of hash blocks for [[embeddingCosine]]'s tiled self-join. Size
    * rule at scale: pick B so one block (n/B vectors) fits comfortably in
    * one task's memory — per-tile work is one block-pair GEMM, shuffle
    * volume is ~B·n/2 rows per side, task count is B(B+1)/2 (keep it a
    * few × the core count so the tile hash spreads evenly). */
  val EmbeddingBlocks = 16

  /** One replicated vector row headed to a [[embeddingCosine]] tile. */
  private[operators] case class TileVec(tile: Int, vec_id: Long, v: Array[Double])

  /** An emitted near-dup pair (id_a < id_b, cosine rounded to 4). */
  private[operators] case class EmbPair(id_a: Long, id_b: Long, cosine: Double)

  private val EmbCosTau = 0.42

  /** Embedding near-dup pairs: exact cosine >= 0.42 between ALL vector
    * pairs, via a tiled cogroup — never a nested-loop/cartesian join, and
    * (since round 11) never a materialized per-pair row stream either.
    *
    * Exact all-pairs similarity is inherently O(n²) dot products; what a
    * 100 TB design controls is the SHAPE of that work. Vectors hash into
    * B = [[EmbeddingBlocks]] blocks; side A replicates each vector to tiles
    * (blk, j) for j >= blk, side B to tiles (i, blk) for i < blk, so every
    * unordered pair lands in exactly one tile (diagonal tiles iterate their
    * own upper triangle). The two sides COGROUP on the tile id and a dense
    * per-tile kernel ([[tileKernel]]) emits only the passing pairs: the
    * r10 shape was semantically identical but streamed all n²/2 joined
    * pair ROWS through codegen — 5e9 rows × two 64-double arrays at sf5 —
    * and that row traffic, not the arithmetic (~3e11 flops ≈ seconds of
    * compute), was 95% of its 164 s. Per-task memory stays bounded by two
    * blocks; shuffle volume is ~B·n/2 replicated vector rows per side.
    *
    * Why candidate pruning CANNOT be the checked default here: at τ = 0.42
    * on this corpus the answer is dominated by borderline background pairs
    * — measured on the driver's sf0.1 data, ALL 441 oracle pairs have
    * cosine in [0.42, 0.61) (none above), and at those angles (θ ≈ 55-65°)
    * the in-repo 4-table × 6-plane hyperplane config retains a pair with
    * p = 1-(1-(1-θ/π)⁶)⁴ ≈ 0.25 — banding would silently drop ~¾ of the
    * correct answer, which DedupSpec pins as a measured fact. Norm/annulus
    * bucketing cannot prune either (unit-norm vectors). Banding is sound
    * exactly when τ is high enough that true pairs share buckets w.h.p. —
    * the real near-dup regime (τ >= 0.9) — so that tier is provided behind
    * `banded = true` (8 tables × 8 planes, same exact rounded-threshold
    * verify, hence always a SUBSET of the exact answer), with
    * [[Similarity.lshTopK]]/[[Similarity.ivfTopK]] as the top-k cousins.
    *
    * Cost pin (r14 verdict #6 — the sf10 "unexplained doubling" 68.2 →
    * 126.1 s on unchanged code, attributed by the r15 solo A/B): solo at
    * sf10 this key reads 56.5/52.8 s under an 8 g heap (passes 1/2, one
    * JVM) and 54.7/54.4 s under 12 g — heap-INSENSITIVE and
    * pass-INSENSITIVE, clean cost ≈ 53–56 s. The r15 full-pass reading
    * is 64.6 s and the r14 committed 126.1 s therefore carried ~2.3× of
    * pass-context/host-contention inflation, not a plan or heap effect
    * (the same r15 pass also REVERSED r14's q_percent_rank and
    * wh_sketch_state_merge drifts). The declared-exact O(n²) tier's cost
    * story is the solo number; in-pass readings inherit the disclosed
    * contention band. */
  def embeddingCosine(spark: SparkSession, dir: String,
      banded: Boolean = false): DataFrame = {
    import spark.implicits._
    val nb = EmbeddingBlocks
    val e = Similarity.doubleVecs(spark, dir)
    if (banded) return bandedEmbedding(spark, e)
    val blocked = e.withColumn("blk", pmod(xxhash64(col("vec_id")), lit(nb)).cast("int"))
    val a = blocked.select(
      explode(expr(s"transform(sequence(blk, ${nb - 1}), j -> blk * $nb + j)")).as("tile"),
      col("vec_id"), col("v")).as[TileVec]
    // b-side stops BELOW the diagonal (slice drops i = blk): diagonal tiles
    // are self-contained on the a-side, so those rows never shuffle twice
    val b = blocked.select(
      explode(expr(s"transform(slice(sequence(0, blk), 1, blk), i -> i * $nb + blk)")).as("tile"),
      col("vec_id"), col("v")).as[TileVec]
    a.groupByKey(_.tile).cogroup(b.groupByKey(_.tile))(tileKernel(nb)).toDF()
  }

  /** Dense per-tile verify for [[embeddingCosine]]: packs both blocks into
    * flat primitive matrices and runs the block-pair dot products as tight
    * loops, emitting only pairs whose ROUNDED cosine passes τ. Summation
    * order (sequential over the 64 dims) and rounding (decimal-string
    * BigDecimal, HALF_UP — what Spark's `round` does) are bit-identical to
    * the r10 SQL formulation and to the DuckDB oracle. */
  private def tileKernel(nb: Int)(
      tile: Int, as: Iterator[TileVec], bs: Iterator[TileVec]): Iterator[EmbPair] = {
    val A = as.toArray
    if (A.isEmpty) return Iterator.empty
    val diag = tile / nb == tile % nb
    val B = if (diag) A else bs.toArray
    if (B.isEmpty) return Iterator.empty
    val dim = A(0).v.length
    def pack(xs: Array[TileVec]): (Array[Long], Array[Double], Array[Double]) = {
      val ids = new Array[Long](xs.length)
      val m = new Array[Double](xs.length * dim)
      val nrm = new Array[Double](xs.length)
      var i = 0
      while (i < xs.length) {
        ids(i) = xs(i).vec_id
        val v = xs(i).v
        System.arraycopy(v, 0, m, i * dim, dim)
        var s = 0.0
        var k = 0
        while (k < dim) { s += v(k) * v(k); k += 1 }
        nrm(i) = math.sqrt(s)
        i += 1
      }
      (ids, m, nrm)
    }
    val (ia, ma, ra) = pack(A)
    val (ib, mb, rb) = if (diag) (ia, ma, ra) else pack(B)
    val out = scala.collection.mutable.ArrayBuffer.empty[EmbPair]
    var i = 0
    while (i < ia.length) {
      val oa = i * dim
      var j = if (diag) i + 1 else 0
      while (j < ib.length) {
        val ob = j * dim
        var s = 0.0
        var k = 0
        while (k < dim) { s += ma(oa + k) * mb(ob + k); k += 1 }
        val c = s / (ra(i) * rb(j))
        // fast-path cut safely below any double that could round up to τ;
        // only the ~1e-3 borderline fraction pays the BigDecimal round
        if (c >= EmbCosTau - 6e-5) {
          val r = BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (r >= EmbCosTau) {
            val idA = ia(i); val idB = ib(j)
            // strict-less pair contract (matches the oracle's a.id < b.id):
            // duplicate vec_ids share a hash block, so a dup-id corpus
            // would otherwise emit (x, x, 1.0) self-pairs from the
            // diagonal's positional i < j loop
            if (idA < idB) out += EmbPair(idA, idB, r)
            else if (idB < idA) out += EmbPair(idB, idA, r)
          }
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  /** The banded (LSH-candidate) tier of [[embeddingCosine]]: candidates
    * from 8 tables × 8 hyperplanes (bucket equi-self-join on distinct
    * membership — shuffle scales with collisions, not n²), then the SAME
    * rounded-threshold exact verify, so the result is always a subset of
    * the exact tier and equals it whenever every true pair shares a
    * bucket — the τ >= 0.9 near-dup regime this tier is for (retention
    * 1-(1-(1-θ/π)⁸)⁸ > 0.999 at cosine 0.95). NOT the checked config at
    * τ = 0.42 — see [[embeddingCosine]]'s scaladoc for the measured why. */
  private def bandedEmbedding(spark: SparkSession, e: DataFrame): DataFrame = {
    GraftSession.registerFunctions(spark)
    val pl = typedLit(Similarity.planes(8, 8, 64))
    val keyed = e
      .withColumn("pl", pl)
      .select(col("vec_id"), explode(expr(
        """transform(sequence(0, 7), t ->
          |  aggregate(sequence(0, 7), cast(t * 256 as bigint), (acc, p) ->
          |    acc * 2 + CASE WHEN dot_product(v, element_at(element_at(pl, t + 1), p + 1)) > 0
          |                   THEN 1L ELSE 0L END))""".stripMargin)).as("bucket"))
    val cand = keyed.select(col("vec_id").as("id_a"), col("bucket"))
      .join(keyed.select(col("vec_id").as("id_b"), col("bucket")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"),
        expr("sqrt(dot_product(v, v))").as("nrma")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"),
        expr("sqrt(dot_product(v, v))").as("nrmb")), Seq("id_b"))
      .withColumn("cosine", round(
        expr("dot_product(va, vb)") / (col("nrma") * col("nrmb")), 4))
      .filter(col("cosine") >= EmbCosTau)
      .select("id_a", "id_b", "cosine")
  }

  /** Bucketed semantic dedup (`dedup_semantic`) — the SemDeDup shape
    * (Abbas et al. 2023, arXiv:2303.09540): partition the embedding space
    * into buckets, compare cosines ONLY within a bucket, and keep one
    * representative per near-dup adjacency (the min-id neighbor wins —
    * deterministic, like SemDeDup's keep-one-per-group with a pinned
    * choice). Where [[embeddingCosine]] is the declared-exact O(n²)
    * audit tool, this key is the sub-quadratic production path: the pair
    * space shrinks from n² to Σ_b n_b², and each bucket's work is an
    * independent task.
    *
    * The bucketing function is pluggable by design — production uses
    * fine k-means cluster ids ([[Similarity]]'s sampled-Lloyd machinery)
    * with capped cluster sizes; the CHECKED instance pins the simplest
    * deterministic member of the family, the sign pattern of the first 4
    * dimensions (16 buckets), because a DuckDB oracle can compute it
    * exactly — same role the fixed-hyperplane tier plays for
    * [[bandedEmbedding]]. Recall is within-bucket only — that bound IS
    * the method (SemDeDup reports the cross-cluster loss as acceptable);
    * the exact tier stays available as the audit.
    *
    * Output: every vector with its bucket, `kept` flag, and the min-id
    * witness it duplicates (−1 when kept). Cosine rides the same
    * sequential-fold + 1e-4 HALF-UP rounding contract as
    * [[embeddingCosine]], τ = 0.42.
    *
    * Execution is the [[tileKernel]] lesson applied per bucket: a
    * bucket-keyed self-JOIN would materialize the Σ n_b² candidate ROW
    * stream (two 64-double arrays per pair — the exact bottleneck the
    * r11 `dedup_embedding` rebuild removed), so each bucket instead
    * cogroups once into a dense primitive kernel that scans candidates
    * id-ascending and STOPS at the first qualifying witness (the min-id
    * contract makes early exit exact). One bucket's vectors must fit a
    * task (n_b · d doubles — the capped-cluster-size invariant
    * production k-means enforces; 16 fixed buckets here). Plan: one
    * bucket shuffle for the cogroup, one doc-keyed left join back — no
    * global sort, no window, no pair rows. */
  def semantic(spark: SparkSession, dir: String): DataFrame =
    bucketDedup(GraftSession.trackCache(Similarity.doubleVecs(spark, dir)
      .withColumn("bucket", expr(
        """aggregate(sequence(1, 4), 0L, (acc, i) ->
          |  acc + IF(element_at(v, i) >= cast(0 as double),
          |           cast(shiftleft(1, i - 1) as bigint), 0L))""".stripMargin))))

  /** The production bucketing [[semantic]]'s scaladoc names, wired as a
    * benchable config (`dedup_semantic_kmeans`, the pruned-ANN pattern:
    * benched + spec-gated, not oracle-replayable — Lloyd's float means
    * have no exact DuckDB unroll): buckets are sampled-Lloyd k-means
    * cells ([[Similarity.kmeans]] — ONE bounded driver collect, the
    * corpus touched once by the assignment pass) with a HARD size cap.
    * Any cell larger than `cap` is sub-split deterministically by
    * vec_id-rank chunks (`row_number() over (partition by cid order by
    * vec_id)`, chunk = (rn−1) div cap), so every bucket is ≤ cap rows by
    * construction — the invariant that keeps one bucket's dense pack
    * (n_b · d doubles ≤ cap·512 B at d=64) inside a single task at ANY
    * corpus size, the 100 TB gap the 16-sign-bucket checked instance
    * leaves open (its buckets grow as n/16). The construction's envelope
    * (r14, advice): the chunk rank is a per-cell `row_number()`
    * (IntegerType), so one k-means CELL is bounded at 2^31 rows — beyond
    * that the rank wraps and the cap claim breaks. That bound is guarded
    * LOUDLY below (one k-sized aggregate over the cached assignment,
    * naming "raise k" as the remedy — the bucketKernel:894 pattern), and
    * the bucket id packs cid into the high 32 bits so chunk ids can use
    * the full 2^31 range without colliding across adjacent cells (the
    * old 2^20 chunk field collided past cap·2^20 rows/cell). At the
    * scaladoc's 100 TB shape (~2e11 vectors) this means k must satisfy
    * n/k < 2^31, i.e. k >= ~100 — a config check, not a silent wrap.
    * The window rides a NARROW
    * (vec_id, cid) projection — vectors never enter the sort — and the
    * kernel, acceptance contract (τ, fast-path cut, HALF_UP borderline)
    * and output shape are IDENTICAL to [[semantic]]; only the bucket
    * function differs. Recall is within-bucket like all SemDeDup
    * configs; rank-chunk sub-splitting trades recall inside oversized
    * cells for the hard cap (SemDeDup itself caps cluster size by
    * construction of k; this keeps the guarantee under any skew). */
  def semanticKMeans(spark: SparkSession, dir: String,
      k: Int = 64, cap: Int = 2048): DataFrame = {
    val e = Similarity.doubleVecs(spark, dir)
    val centroids = Similarity.kmeans(e, k, iters = 3)
    val asg = GraftSession.trackCache(Similarity.assignedTo(e, centroids))
    // loud envelope guard (r14 advice): the sub-split rank below is a
    // per-cell row_number() — IntegerType — so a single k-means cell
    // larger than 2^31 rows wraps the rank and silently breaks the hard
    // cap this function exists to guarantee. One k-sized aggregate over
    // the cached assignment (materializing the cache the window reuses)
    // turns that into a config error naming the remedy.
    val maxCellRow = asg.groupBy("cid").agg(count(lit(1)).as("n"))
      .agg(max("n")).head
    val maxCell = if (maxCellRow.isNullAt(0)) 0L else maxCellRow.getLong(0)
    require(maxCell <= Int.MaxValue.toLong,
      s"semanticKMeans: largest k-means cell holds $maxCell vectors " +
        s"(> 2^31): the per-cell sub-split rank would wrap — raise k " +
        s"(currently $k) so every cell stays under 2^31 rows")
    // bucket id: cid in the high 32 bits, rank-chunk in the low 32 —
    // collision-free for any cell <= 2^31 rows (guarded above) at any
    // cap >= 1; the old cid*2^20+chunk packing collided across adjacent
    // cids once a cell exceeded cap*2^20 rows
    val sub = asg.select("vec_id", "cid")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cid").orderBy("vec_id")))
      .select(col("vec_id"),
        (shiftleft(col("cid").cast("long"), 32) +
          ((col("rn") - 1) / cap).cast("long")).as("bucket"))
    bucketDedup(asg.select("vec_id", "v").join(sub, "vec_id"))
  }

  /** The SemDeDup tail shared by [[semantic]] and [[semanticKMeans]] over
    * (vec_id, v, bucket) rows: one bucket shuffle into [[bucketKernel]],
    * then a left join back gives every vector its min-id witness `dup_of`
    * (-1 when kept) and its `kept` flag. */
  private def bucketDedup(keyed: DataFrame): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val dropped = keyed.select(col("bucket"), col("vec_id"), col("v")).as[BVec]
      .groupByKey(_.bucket)
      .flatMapGroups(bucketKernel _)
      .toDF()
    keyed.select(col("vec_id"), col("bucket"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(col("w"), lit(-1L)).as("dup_of"),
        col("w").isNull.cast("bigint").as("kept"))
  }

  /** Per-bucket witness search for [[semantic]]: pack the bucket dense,
    * then for each vector scan smaller-id members IN ID ORDER and emit
    * the first cosine ≥ τ — identical acceptance (fast-path cut +
    * borderline BigDecimal HALF_UP) and identical witness (first hit in
    * ascending order == min id) as the declarative formulation. */
  private def bucketKernel(bucket: Long, members: Iterator[BVec]): Iterator[BucketDrop] = {
    val xs = members.toArray.sortBy(_.vec_id)
    if (xs.length < 2) return Iterator.empty
    // loud size guard (r12 advice): one bucket's dense pack (n_b·d
    // doubles) and its worst-case O(n_b²) witness scan must fit ONE
    // task. [[semanticKMeans]] guarantees this by construction (hard
    // cap); [[semantic]]'s 16 sign buckets grow as n/16, so a corpus
    // too big for the checked instance fails HERE with the remedy named
    // instead of OOMing the executor mid-pack.
    require(xs.length <= 262144,
      s"semantic bucket $bucket holds ${xs.length} vectors (> 262144): " +
        "the fixed-sign-bucket checked instance does not scale to this " +
        "corpus — use semanticKMeans (capped k-means cells)")
    val dim = xs(0).v.length
    val n = xs.length
    val ids = new Array[Long](n)
    val m = new Array[Double](n * dim)
    val nrm = new Array[Double](n)
    var i = 0
    while (i < n) {
      ids(i) = xs(i).vec_id
      System.arraycopy(xs(i).v, 0, m, i * dim, dim)
      var s = 0.0
      var k = 0
      while (k < dim) { s += m(i * dim + k) * m(i * dim + k); k += 1 }
      nrm(i) = math.sqrt(s)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[BucketDrop]
    var j = 1
    while (j < n) {
      val oj = j * dim
      var i2 = 0
      var found = false
      while (i2 < j && !found) {
        val oi = i2 * dim
        var s = 0.0
        var k = 0
        while (k < dim) { s += m(oi + k) * m(oj + k); k += 1 }
        val c = s / (nrm(i2) * nrm(j))
        if (c >= EmbCosTau - 6e-5) {
          val r = BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (r >= EmbCosTau) { out += BucketDrop(ids(j), ids(i2)); found = true }
        }
        i2 += 1
      }
      j += 1
    }
    out.iterator
  }

  private[operators] case class BVec(bucket: Long, vec_id: Long, v: Array[Double])
  private[operators] case class BucketDrop(vec_id: Long, w: Long)
}
