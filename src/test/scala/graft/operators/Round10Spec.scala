package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-10 invariants for the six keys that landed in the r9 snapshot
  * commit without property coverage: each checked against a driver-side
  * brute-force recompute of the same declared arithmetic (the Round9Spec
  * pattern) at spec scale, where collecting the corpus is cheap.
  */
class Round10Spec extends SparkSpec {

  private def eventsCents =
    graft.Tables(spark, sf).events
      .select(col("event_type"), col("ts"), col("event_id"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))

  test("q_linreg equals the driver-side exact-integer OLS per type") {
    val got = Analytics.linReg(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        Option(r.get(2)).map(_ => r.getDouble(2)),
        Option(r.get(3)).map(_ => r.getDouble(3)),
        Option(r.get(4)).map(_ => r.getDouble(4)))).toMap
    val cal = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
    val brute = eventsCents.groupBy(_._1).map { case (t, rows) =>
      val xy = rows.map { case (_, ts, _, c) =>
        cal.setTimeInMillis(ts.getTime)
        (cal.get(java.util.Calendar.HOUR_OF_DAY).toLong, c)
      }
      val n = BigInt(xy.length)
      val sx = BigInt(xy.map(_._1).sum); val sy = xy.map(x => BigInt(x._2)).sum
      val sxx = BigInt(xy.map(p => p._1 * p._1).sum)
      val sxy = xy.map(p => BigInt(p._1) * p._2).sum
      val syy = xy.map(p => BigInt(p._2) * p._2).sum
      val num = n * sxy - sx * sy
      val denX = n * sxx - sx * sx
      val denY = n * syy - sy * sy
      def r4(v: Double) = math.rint(v * 1e4) / 1e4
      val slope = if (denX > 0) Some(math.rint(num.toDouble / denX.toDouble * 1e6) / 1e6) else None
      val icept = if (denX > 0) Some(r4((sy * sxx - sx * sxy).toDouble / denX.toDouble)) else None
      val r2 = if (denX > 0 && denY > 0)
        Some(r4(num.toDouble * num.toDouble / (denX.toDouble * denY.toDouble))) else None
      t -> (xy.length.toLong, slope, icept, r2)
    }
    assert(got == brute, s"linreg diverged: got=$got brute=$brute")
    assert(got.nonEmpty && got.values.exists(_._2.isDefined))
  }

  test("q_mad equals the brute-force lower-median-of-deviations per type") {
    val got = Analytics.mad(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def lowerMedian(vs: Seq[Long]): Long = {
      val s = vs.sorted; s((s.length - 1) / 2)
    }
    val brute = eventsCents.groupBy(_._1).map { case (t, rows) =>
      val vs = rows.map(_._4).toSeq
      val m = lowerMedian(vs)
      (t, m, lowerMedian(vs.map(v => math.abs(v - m))))
    }.toSet
    assert(got == brute, s"mad diverged: extra=${got.diff(brute)} missing=${brute.diff(got)}")
  }

  test("q_theils_u equals the brute-force quantized-entropy ratio") {
    val row = Analytics.theilsU(spark, sf).collect().head
    val (n, u) = (row.getLong(0), row.getDouble(1))
    def q(c: Long): BigInt =
      BigInt(math.floor(math.log(c.toDouble) / math.log(2.0) * 1e6 + 0.5).toLong)
    val cal = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
    val cells = eventsCents.groupBy { case (t, ts, _, _) =>
      cal.setTimeInMillis(ts.getTime)
      (t, cal.get(java.util.Calendar.DAY_OF_WEEK).toLong)
    }.view.mapValues(_.length.toLong).toMap
    val total = cells.values.sum
    assert(n == total)
    val sxy = cells.values.map(c => BigInt(c) * q(c)).sum
    val sx = cells.groupBy(_._1._1).values.map(_.values.sum).map(c => BigInt(c) * q(c)).sum
    val sy = cells.groupBy(_._1._2).values.map(_.values.sum).map(c => BigInt(c) * q(c)).sum
    val t = BigInt(total) * q(total)
    val want = math.rint((t - sx - sy + sxy).toDouble / (t - sx).toDouble * 1e4) / 1e4
    assert(u == want, s"theils_u $u != brute $want")
    assert(u >= 0.0 && u <= 1.0)
  }

  test("q_lttb equals the brute-force per-bucket triangle argmax") {
    val got = Analytics.lttb(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val width = 43200000000L
    val pts = eventsCents.map { case (t, ts, id, c) =>
      (t, ts.getTime * 1000L, id, c) // UTC micros
    }
    val brute = pts.groupBy(_._1).flatMap { case (t, rows) =>
      val byBucket = rows.groupBy(r => Math.floorDiv(r._2, width)).toSeq.sortBy(_._1)
      val anchors = byBucket.map { case (b, rs) =>
        val st = rs.map(r => BigInt(r._2)).sum
        val sc = rs.map(r => BigInt(r._4)).sum
        // Spark's `div` on decimal is floor-toward-negative-infinity? No:
        // integer div truncates toward zero for positives; micros/cents
        // here are positive so / is safe
        (b, (st / rs.length).toLong, (sc * 100 / rs.length).toLong)
      }
      anchors.sliding(3).filter(_.length == 3).map { w =>
        val Seq((bp, axp, ayp), (b, _, _), (bn, axn, ayn)) = w: @unchecked
        val cand = byBucket.find(_._1 == b).get._2
        val best = cand.maxBy { r =>
          val area2 = ((BigInt(r._2) - axp) * (BigInt(ayn) - ayp) -
            (BigInt(axn) - axp) * (BigInt(r._4) * 100 - ayp)).abs
          (area2, -r._2, -r._3)
        }
        (t, b, best._3, best._4)
      }
    }.toSet
    assert(got == brute,
      s"lttb diverged: extra=${got.diff(brute).take(3)} missing=${brute.diff(got).take(3)}")
    assert(got.nonEmpty)
  }

  test("pipeline_weighted_sample equals the brute-force deterministic Poisson draw") {
    val got = Pipeline.weightedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val wTotal = docs.map(_._2).sum
    val md = java.security.MessageDigest.getInstance("MD5")
    val brute = docs.flatMap { case (id, w) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 6)
      val h24 = java.lang.Long.parseLong(hex, 16)
      if (h24 < 16777216L * 100L * w / wTotal) Some((id, w, h24)) else None
    }.toSet
    assert(got == brute,
      s"weighted sample diverged: extra=${got.diff(brute).take(3)} missing=${brute.diff(got).take(3)}")
    assert(got.nonEmpty, "expected a non-empty sample at k=100")
  }

  test("round-10 plan shapes: broadcast interval dim, native merge verify in the dedup plans") {
    // q_range_join: the interval dim is a driver literal now — the join
    // must be a broadcast hash join (the r9 shape planned SMJ against a
    // fact-rooted dim lineage; the r9 spec only asserted no-BNLJ)
    val rj = Analytics.rangeJoin(spark, sf).queryExecution.executedPlan.toString
    assert(rj.contains("BroadcastHashJoin"),
      s"interval dim not broadcast:\n${rj.take(600)}")
    // both shingle verifies run the native sorted_intersect_count — if a
    // refactor fell back to array_intersect's hash-set verify, the top
    // CPU sink of the sf5 bench would silently return
    val cj = Dedup.containment(spark, sf).queryExecution.optimizedPlan.toString
    assert(cj.contains("sorted_intersect_count"),
      "containment verify lost the native merge-walk expression")
    val jj = Dedup.ngramJaccard(spark, sf).queryExecution.optimizedPlan.toString
    assert(jj.contains("sorted_intersect_count"),
      "jaccard verify lost the native merge-walk expression")
  }

  test("wh_partition_ops: visibility rules replayed on raw rows, reattach preserves data") {
    val got = Warehouse.partitionOps(spark, sf).collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSet
    // oracle semantics: dropped (01-20) and still-detached (01-12) days
    // absent; the reattached 01-05 present with its full original rows
    val brute = eventsCents
      .map { case (_, ts, _, c) => (ts.toInstant.toString.substring(0, 10), c) }
      .groupBy(_._1)
      .collect { case (d, rows) if d != "2024-01-12" && d != "2024-01-20" =>
        (d, rows.length.toLong, rows.map(_._2).sum)
      }.toSet
    assert(got == brute,
      s"partition visibility diverged: extra=${got.diff(brute).take(3)} missing=${brute.diff(got).take(3)}")
    assert(got.exists(_._1 == "2024-01-05"), "the reattached day must be visible")
    // DETACH/ATTACH are renames: the reattached day's part file is the
    // same inode as before the round trip (no copy, no rewrite)
    val (before, after) = Warehouse.partOpsInodes
    assert(before != null && after != null, "part-file inodes were not observed")
    assert(before == after, s"reattached part file changed inode: $before -> $after")
  }
}
