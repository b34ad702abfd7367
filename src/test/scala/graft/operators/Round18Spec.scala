package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-18 gates: the restructured containment candidate generation (the K = 3 share
  * gate's zero-miss boundary — a true pair whose miss budget is spent on
  * its very rarest shingles shares EXACTLY K prefix' shingles — plus the
  * short-doc side leg that keeps the exact na-dependent gate).
  */
class Round18Spec extends SparkSpec {

  // ---------- dedup_containment: K-share gate + short-doc leg ----------

  test("containment K-share gate zero-miss boundary: misses spent on the contained doc's rarest shingles, shares = exactly K") {
    val spark2 = spark; import spark2.implicits._
    // doc 1 (contained): 20 shingles; exactly m = 2 of them (1001, 1002)
    // appear NOWHERE else, and the global (df, sh) rarity order puts them
    // FIRST in doc 1's prefix — the worst case for the K-share gate: of
    // the l = m + K = 5 indexed prefix shingles {1001, 1002, 1, 2, 3},
    // the container shares only {1, 2, 3} — exactly K = 3. o = 18 =
    // ceil(0.9 * 20) and nb = 18 = ceil(0.9 * na): every gate sits at
    // its exact boundary, so any off-by-one in slice length, share
    // count, or the nb length bound surfaces here as a missed pair.
    val a = (1L to 18L) ++ Seq(1001L, 1002L)
    val b = 1L to 18L
    // fillers pad every shared shingle's df to 3 (> the pair's 2) so the
    // shared shingles are strictly LESS rare than 1001/1002 (df 1) —
    // pinning the prefix order — while staying under the df hard cap
    val fillers = (1L to 18L).map(s => Seq(s, 500L + s))
    val docs = Seq(1L -> a, 2L -> b) ++
      fillers.zipWithIndex.map { case (s, i) => (10L + i) -> s }
    val sgd = docs.toDF("doc_id", "sg")
      .withColumn("n", size(col("sg")).cast("long"))
    val got = Dedup.containmentPairs(sgd, hard = 100, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got.contains((1L, 2L, 0.9)),
      s"boundary pair (o = ceil(t*na), shares = exactly K) missed: $got")
    // and the reverse direction holds trivially (b fully inside a)
    assert(got.contains((2L, 1L, 1.0)), s"full-subset direction missed: $got")
  }

  test("containment short-doc leg: na <= 2 contained docs keep the exact na gate (below the uniform K floor)") {
    val spark2 = spark; import spark2.implicits._
    // doc 1 has TWO effective shingles, both inside doc 2 → C(1→2) = 1.0;
    // doc 3 has two shingles with only ONE inside doc 2 → C(3→2) = 0.5,
    // which the short leg's exact gate (cnt >= ceil(0.9 * 2) = 2) must
    // reject — these docs sit below ceil(t * na) >= K, the main leg's
    // floor, so only the side leg can emit or suppress them
    val docs = Seq(
      1L -> Seq(1L, 2L),
      2L -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L),
      3L -> Seq(1L, 600L))
    val sgd = docs.toDF("doc_id", "sg")
      .withColumn("n", size(col("sg")).cast("long"))
    val got = Dedup.containmentPairs(sgd, hard = 100, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got.contains((1L, 2L, 1.0)), s"short contained doc missed: $got")
    assert(!got.exists(p => p._1 == 3L),
      s"half-contained short doc must not pass the exact gate: $got")
  }
}
