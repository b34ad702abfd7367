package graft.operators

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The graph family's fixed-point loops on seeded random graphs built
  * from the shapes that stress them: chains, stars, isolated pairs and
  * long paths (diameter drives the round count), plus small cliques so a
  * k-core survives. Each loop is pinned against a plain reference of the
  * same recurrence, round by round. */
class GraphLoopSpec extends SparkSpec {

  /** Undirected edges (a, b), a != b, over shuffled node ids. */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val ids = rnd.shuffle((1L to 2000L).toVector).iterator
    def take(n: Int) = Vector.fill(n)(ids.next())
    def path(n: Int) = take(n).sliding(2).map(p => (p(0), p(1))).toSeq
    val chains = Seq.fill(4)(path(2 + rnd.nextInt(5))).flatten
    val longPaths = Seq.fill(2)(path(30 + rnd.nextInt(40))).flatten
    val stars = Seq.fill(3) {
      val star = take(3 + rnd.nextInt(8))
      star.tail.map(l => (star.head, l))
    }.flatten
    val pairs = Seq.fill(5)(path(2)).flatten
    val cliques = Seq.fill(2) {
      val ns = take(4 + rnd.nextInt(3))
      for (i <- ns.indices; j <- ns.indices if i < j) yield (ns(i), ns(j))
    }.flatten
    // a few random bridges join some shapes into larger components
    val all = chains ++ longPaths ++ stars ++ pairs ++ cliques
    val nodes = all.flatMap { case (a, b) => Seq(a, b) }.distinct.toVector
    val bridges = Seq.fill(3)((nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size))))
      .filter { case (a, b) => a != b }
    all ++ bridges
  }

  private def canonical(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges.map { case (a, b) => (a max b, a min b) }.distinct

  private def edgeSet(df: DataFrame): Set[(Long, Long)] =
    df.select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The Large-Star/Small-Star round as neighborhood-min aggregates
    * joined back, with a distinct after each star — the rendition
    * [[Graph.componentRound]] replaced. */
  private def joinRound(prev: DataFrame): DataFrame = {
    val sym = prev.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val lsMin = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    val ls = sym.join(lsMin, "u").where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")).distinct()
    val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
    val j = ls.join(ssMin, "u")
    j.select(col("u"), col("m").as("v"))
      .unionByName(j.where(col("v") =!= col("m")).select(col("v").as("u"), col("m").as("v")))
      .distinct()
  }

  test("the LS/SS round equals the join-and-distinct round, round by round, and stops with it") {
    import spark.implicits._
    Seq(11L, 12L, 13L).foreach { seed =>
      val edges = canonical(randomGraph(seed))
      var e = edges.toDF("u", "v").localCheckpoint()
      var prevSet = edgeSet(e)
      var round = 0
      var stopped = false
      while (!stopped) {
        round += 1
        assert(round <= 12, s"seed $seed: no fixed point within 12 rounds")
        val want = edgeSet(joinRound(e))
        val (next, oneSided) = Graph.componentRound(e)
        val got = edgeSet(next)
        assert(got == want, s"seed $seed round $round: " +
          s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
        assert(oneSided == ((got -- prevSet).size + (prevSet -- got).size),
          s"seed $seed round $round: the observed one-sided count must be the set difference")
        stopped = want == prevSet
        assert((oneSided == 0L) == stopped, s"seed $seed round $round: stop mismatch")
        e = next
        prevSet = got
      }
      // the long paths need more than one round, so the test bites
      assert(round > 2, s"seed $seed converged in $round rounds")
      // the fixed point is the star labeling union-find gives
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      prevSet.foreach { case (u, v) => assert(find(u) == v, s"seed $seed: $u -> $v") }
      val roots = edges.flatMap { case (a, b) => Seq(a, b) }.map(find).toSet
      assert(prevSet.map(_._1) == edges.flatMap { case (a, b) => Seq(a, b) }.toSet -- roots,
        s"seed $seed: every non-root node points at its root")
    }
  }

  test("the k-core profile equals the driver-side peel on random graphs") {
    import spark.implicits._
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
    for (seed <- Seq(21L, 22L, 23L); k <- Seq(2, 3)) {
      val sym = canonical(randomGraph(seed)).flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val expected = peel(sym, k, 8)
      val got = Graph.kcoreProfile(sym.toDF("src", "dst"), k, 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expected, s"seed $seed k=$k: got $got, want $expected")
      assert(got.last._3 > 0, s"seed $seed k=$k: the cliques survive the peel")
    }
  }
}
