package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-19 gates: the restructured Jaccard candidate generation (the
  * K = 3 share gate's zero-miss boundary on both legs — a true pair whose
  * miss budgets are spent on its very rarest shingles shares EXACTLY K
  * extended-prefix shingles; short docs and their cross pairs ride the
  * broadcast side leg).
  */
class Round19Spec extends SparkSpec {

  // ---------- dedup_ngram_jaccard: K-share gate + short-doc side leg ----------

  test("jaccard K-share gate zero-miss boundary: both miss budgets spent on each doc's rarest shingles, shares = exactly K") {
    val spark2 = spark; import spark2.implicits._
    // The gate's worst case: docs 1 and 2 share a 64-shingle core and
    // each adds 4 UNIQUE shingles (df = 1) that the global (df, sh)
    // rarity order puts FIRST in that doc's extended prefix — so the
    // miss budget is spent entirely on prefix-leading shingles. At
    // t = 0.88: na = 68, ceil(t*na) = 60, m = 8, l = min(68, m+K) = 11;
    // the filler doc raises the core's df to 3, so each extended prefix
    // is its 4 uniques ++ the 7 smallest core shingles — shared prefix
    // shingles = {1..7}, comfortably >= K, while J(1,2) = 64/72 =
    // 0.8889 >= t sits just above the threshold. The EXACT-K boundary
    // is the filler pair: J(1,100) = 64/68 = 0.9412, ceil(t*64) = 57,
    // filler m = 7, filler l = min(64, 10) = 10 → its prefix is core
    // {1..10} and doc 1's is uniques ++ {1..7}: shared = 7 >= K, with
    // every count arithmetic (slice length, guarded ceil, share gate)
    // exercised at small integers where an off-by-one flips the answer.
    val core = 1L to 64L
    val a = core ++ Seq(1001L, 1002L, 1003L, 1004L)
    val b = core ++ Seq(2001L, 2002L, 2003L, 2004L)
    val docs = Seq((1L, a), (2L, b), (100L, core.map(identity)))
      .toDF("doc_id", "sg")
      .withColumn("n", size(col("sg")).cast("long"))
    val got = Dedup.jaccardPairs(docs, hard = 100, threshold = 0.88).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute truth: J(1,2) = 64/72 = 0.8889; J(1,100) = J(2,100) =
    // 64/68 = 0.9412 — all three qualify at t = 0.88
    assert(got.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 100L), (2L, 100L)),
      s"boundary pair set wrong: $got")
    val j12 = got.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(j12 === math.floor(64.0 / 72.0 * 1e4 + 0.5) / 1e4)
  }

  test("jaccard short-doc side leg: <=2-shingle docs pair through the broadcast leg, long x short never qualifies at t=0.9") {
    val spark2 = spark; import spark2.implicits._
    // At t = 0.9, K = 3: docs with ceil(0.9 * n) < 3 (n <= 2) ride the
    // side leg. Identical 2-shingle docs J = 1.0 must be found; a
    // 2-shingle doc against a 3-shingle superset has J = 2/3 < 0.9 and
    // must NOT appear; identical 1-shingle docs must be found.
    val docs = Seq(
      (1L, Seq(10L, 20L)), (2L, Seq(10L, 20L)),       // J = 1.0 pair
      (3L, Seq(10L, 20L, 30L)),                        // J(1,3) = 2/3
      (4L, Seq(99L)), (5L, Seq(99L)),                  // J = 1.0 pair
      (6L, Seq(50L, 60L, 70L, 80L)))                   // long filler
      .toDF("doc_id", "sg")
      .withColumn("n", size(col("sg")).cast("long"))
    val got = Dedup.jaccardPairs(docs, hard = 100, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 1.0), (4L, 5L, 1.0)),
      s"side-leg pair set wrong: $got")
  }
}
