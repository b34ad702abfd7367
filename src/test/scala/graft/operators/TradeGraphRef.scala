package graft.operators

import org.apache.spark.sql.SparkSession

/** The trade graph collected driver-side: the one reference the Graph
  * family's specs replay against. `w` maps each (customer key, supplier
  * key) pair to its lineitem count, built in plain Scala from the raw
  * orders and lineitem rows (no Spark join or aggregate, so it shares
  * nothing with the engine's pair build). Node ids follow the engine's
  * declared format: customer k is node 2k, supplier k is node 2k+1. */
final case class TradeGraphRef(w: Map[(Long, Long), Long]) {

  /** Every pair as node ids with its weight. */
  def weightedNodes: Seq[(Long, Long, Long)] =
    w.toSeq.map { case ((c, s), n) => (c * 2, s * 2 + 1, n) }

  /** The repeat-trade pairs (customer key, supplier key): ≥ 2 lineitems.
    * Iterator first: `collect` on a Map would rebuild a MAP from the
    * emitted tuples and collapse the pairs by customer. */
  def repeat: Seq[(Long, Long)] =
    w.iterator.collect { case (cs, n) if n >= 2 => cs }.toSeq

  /** The repeat-trade pairs as node ids. */
  def repeatNodes: Seq[(Long, Long)] = repeat.map { case (c, s) => (c * 2, s * 2 + 1) }

  /** Both directions of every repeat-trade pair, as node ids. */
  def symmetric: Seq[(Long, Long)] =
    repeatNodes.flatMap { case (c, s) => Seq((c, s), (s, c)) }

  /** The co-trade projection `(a, b), a < b`: customers linked iff some
    * supplier with at most `smax` repeat customers has both. */
  def cotrade(smax: Int = Graph.CotradeSmax): Set[(Long, Long)] =
    repeat.groupBy(_._2).values.filter(_.size <= smax).flatMap { cs =>
      val custs = cs.map(_._1).sorted
      for (i <- custs.indices; j <- i + 1 until custs.length) yield (custs(i), custs(j))
    }.toSet
}

object TradeGraphRef {
  def apply(spark: SparkSession, dir: String): TradeGraphRef = {
    val t = graft.Tables(spark, dir)
    val ord = t.orders.select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val w = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    t.lineitem.select("l_orderkey", "l_suppkey").collect().foreach { r =>
      ord.get(r.getLong(0)).foreach { ck => w((ck, r.getLong(1))) += 1L }
    }
    TradeGraphRef(w.toMap)
  }
}
