package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed (pre-partitioned) storage — the co-located-join half of the
  * SURVEY §4 scale design.
  *
  * At 100 TB the single biggest avoidable cost in a fact-fact join is
  * shuffling both tables on the join key for every query. Bucketing pays
  * that shuffle ONCE at write time: both tables are hash-clustered (and
  * sorted) by the key into the same bucket count, so every later join on
  * that key is planned as a SortMergeJoin over matching buckets with NO
  * Exchange on either side — WarehouseSpec asserts exactly that on the
  * physical plan. This is the Spark analog of the reference engine keeping
  * MergeTree parts ordered by the table's ORDER BY key.
  *
  * The bucket count is a real tuning knob: buckets ≈ total-cores wanted in
  * the join stage; each bucket must fit a task comfortably (same sizing
  * rule as shuffle partitions, but chosen once at layout time).
  */
object Warehouse {

  /** Which testdata dir each session's shingle layout was materialized
    * from. [[shingleLayout]] serves a layout back ONLY for the same dir: a
    * catalog-existence check alone would silently feed sf0.001 shingles to
    * an sf0.01 query after a scale switch on a shared session.
    *
    * Keyed by a WEAK reference to the session: a strong key would pin
    * every session that ever materialized a layout (plus its state) for
    * the JVM lifetime — suites and long-lived drivers create and stop
    * many sessions. Entries vanish with their session; dropShingleLayout
    * remains the explicit path for a live one. Access is synchronized on
    * the map (WeakHashMap is not thread-safe; registry traffic is a few
    * lookups per query, so contention is nil). */
  private val shingleDirs =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  /** Per-session registration map, CREATED on first write. Read paths use
    * [[registeredDir]] instead — a pure lookup that never inserts (a
    * session that merely queries should not allocate and hold a registry
    * entry until it is collected). */
  private def dirsOf(spark: SparkSession): scala.collection.mutable.Map[String, String] =
    shingleDirs.synchronized {
      var m = shingleDirs.get(spark)
      if (m == null) { m = scala.collection.mutable.Map.empty[String, String]; shingleDirs.put(spark, m) }
      m
    }

  private def registeredDir(spark: SparkSession, table: String): Option[String] =
    shingleDirs.synchronized {
      Option(shingleDirs.get(spark)).flatMap(_.get(table))
    }

  /** Writes `orders` and `lineitem` bucketed + sorted by their join key
    * into the session catalog (tables `<prefix>_orders` /
    * `<prefix>_lineitem`). One-time layout cost; every subsequent
    * key-equal join of the two is shuffle-free. */
  def bucketizeOrders(spark: SparkSession, dir: String, buckets: Int = 8,
      prefix: String = "wh"): Unit = {
    val t = graft.Tables(spark, dir)
    // pre-shuffle on the bucket key (same as materializeShingles): each
    // task then owns whole buckets and the write emits ONE file per
    // bucket instead of tasks x buckets — at 1000 executors the
    // unrepartitioned write is a small-file explosion (32k files for a
    // 32-bucket table), and locally the file churn was the bulk of the
    // r8 wh_colocated_join "regression" (write-phase, per the r9 probe
    // split)
    t.orders.repartition(buckets, col("o_orderkey"))
      .write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(s"${prefix}_orders")
    t.lineitem
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .repartition(buckets, col("l_orderkey"))
      .write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(s"${prefix}_lineitem")
    // same registry the shingle layout uses: records WHICH dir built this
    // layout so [[colocatedRevenue]] can reuse it instead of re-paying the
    // write (the production amortize-across-queries shape, and what lets
    // the bench probe report the write and the join as separate phases)
    shingleDirs.synchronized { dirsOf(spark)(s"${prefix}_orders") = dir }
  }

  /** The corpus-pipeline sibling of [[bucketizeOrders]]: materializes the
    * tokenize→shingle projection ONCE as a doc_id-bucketed table. Every
    * dedup query recomputes the shingle frame from raw text today (cheap
    * per query, but at 100 TB the tokenize pass IS a full corpus scan);
    * a pipeline running the whole dedup family amortizes it by writing
    * `(doc_id, sg, n)` once and pointing every consumer at the layout —
    * WarehouseSpec proves the consumers then plan WITHOUT any tokenizer
    * in the tree and reproduce the exact same near-dup pairs. */
  def materializeShingles(spark: SparkSession, dir: String, buckets: Int = 8,
      prefix: String = "wh"): Unit = {
    graft.Tables(spark, dir).documents
      .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("tk"))
      .select(col("doc_id"), expr(Dedup.shinglesExpr).as("sg"))
      .withColumn("n", size(col("sg")).cast("long"))
      // pre-shuffle on the bucket key: each task then owns whole buckets,
      // so the write emits one file per bucket instead of tasks x buckets
      .repartition(buckets, col("doc_id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_shingles")
    shingleDirs.synchronized { dirsOf(spark)(s"${prefix}_shingles") = dir }
  }

  /** The materialized shingle table IF this session built one from exactly
    * this dir (None otherwise — consumers fall back to the raw scan).
    * [[graft.operators.Dedup]] consults this, so materializing once makes
    * the whole dedup family tokenizer-free. */
  def shingleLayout(spark: SparkSession, dir: String,
      prefix: String = "wh"): Option[DataFrame] = {
    val tbl = s"${prefix}_shingles"
    val registered = registeredDir(spark, tbl).contains(dir)
    if (registered && spark.catalog.tableExists(tbl)) Some(spark.table(tbl))
    else None
  }

  /** Drops the layout table + its registry entry (spec hygiene: suites
    * running after a layout test must see the raw path again). */
  def dropShingleLayout(spark: SparkSession, prefix: String = "wh"): Unit = {
    shingleDirs.synchronized {
      val m = shingleDirs.get(spark)
      if (m != null) m.remove(s"${prefix}_shingles")
    }
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_shingles")
  }

  /** The bucketed co-located join as a driver-checkable query: lays out
    * orders + lineitem bucketed by orderkey (paying the join shuffle ONCE,
    * at write time) and runs the revenue join over the layout — the join
    * plans bucket-to-bucket with no Exchange on either side (WarehouseSpec
    * asserts the plan). The layout cost is inside the query ONLY when no
    * layout for this dir exists yet: a session that already bucketized
    * (this query run twice, or the bench's explicit write phase) reuses
    * the tables — the amortize-across-queries production shape, and the
    * split that lets the bench probe time `wh_bucketize_write` and the
    * join as separate phases instead of one unadjudicable number. */
  def colocatedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val built = registeredDir(spark, "whq_orders").contains(dir) &&
      spark.catalog.tableExists("whq_orders") &&
      spark.catalog.tableExists("whq_lineitem")
    if (!built) bucketizeOrders(spark, dir, buckets = 8, prefix = "whq")
    revenueByPriorityCoLocated(spark, prefix = "whq")
  }

  /** Date-partitioned layout + static partition pruning as a CHECKED key —
    * the Spark rendition of the reference engine's `PARTITION BY
    * toYYYYMMDD(timestamp)` table layout (README.rst's MergeTree tables
    * order/partition on the event timestamp). The events table is written
    * `partitionBy(event_date)`, and the one-day query then never OPENS the
    * other 29 days: the date predicate is a PartitionFilter resolved
    * against directory names, not row data — at 100 TB this is the single
    * biggest scan reducer there is, ahead of any row-group statistic.
    * WarehouseSpec asserts the plan carries the PartitionFilter; the
    * oracle is the same one-day aggregation over the raw table. */
  def partitionPrunedDaily(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables(spark, dir).events
      .withColumn("event_date", col("ts").cast("date"))
      .write.mode("overwrite").partitionBy("event_date")
      .saveAsTable("whp_events")
    spark.table("whp_events")
      .filter(col("event_date") === lit("2024-01-15").cast("date"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
  }

  /** Stored partial-aggregate state + query-time merge — the reference's
    * Step 4 concept (README.rst: a `SummingMergeTree` table stores
    * `maxState`/`minState`/`avgState` per (day, subject) and queries
    * finish with `maxMerge`/`minMerge`/`avgMerge`) as a CHECKED key.
    * Spark already runs the same split per query (partial/final
    * HashAggregate); this key makes the partial state a STORED layout:
    *
    *   1. State build: one scan of raw events aggregates to a persisted
    *      `(day, event_type, sum_cents, cnt, min_v, max_v)` table — the
    *      mergeable state of every algebraic aggregate (avg's state is
    *      the (sum, count) pair, exactly ClickHouse's `avgState`).
    *   2. Merge query: a later query rolls the states up to the coarser
    *      per-day key — sums and counts ADD, mins MIN, maxes MAX, and avg
    *      finishes as merged-sum / merged-count (`avgMerge`).
    *
    * Oracle = the direct whole-range aggregation over raw events;
    * equality proves the stored state is lossless. Value sums are stored
    * as exact integer cents so state merging is associative bit-for-bit
    * (double partial sums would make the merge order observable — SURVEY
    * §5); the one avg division is a single identical IEEE chain on both
    * engines.
    *
    * Scale: this is the pre-aggregation pattern that makes dashboards
    * cheap at 100 TB — the raw corpus is scanned ONCE at state-build time
    * (partial-aggregated shuffle down to days x types rows), and every
    * later merge query touches only the tiny state table. The state key
    * is deliberately finer than the query key so the merge step is real
    * work, not a rename. */
  def aggStateMerge(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables(spark, dir).events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_cents"),
        count(lit(1)).as("cnt"),
        min("value").as("min_v"),
        max("value").as("max_v"))
      .write.mode("overwrite").saveAsTable("wh_agg_state")
    spark.table("wh_agg_state")
      .groupBy("day")
      .agg(
        sum("cnt").as("n"),
        round(min("min_v"), 4).as("min_value"),
        round(max("max_v"), 4).as("max_value"),
        sum("sum_cents").as("sc"))
      .select(col("day"), col("n"), col("min_value"), col("max_value"),
        round(col("sc").cast("double") / lit(100.0) / col("n").cast("double"), 4)
          .as("avg_value"))
  }

  /** 32→64-bit Morton bit-spread: inserts a zero between every bit of a
    * 32-bit value (the textbook magic-mask ladder, e.g. Hacker's Delight
    * §7-2 / interleaved-coordinates literature), built from codegen'd
    * builtin shifts and masks only. */
  private def spreadBits(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    def step(v: Column, sh: Int, mask: Long): Column =
      (v.bitwiseOR(shiftleft(v, sh))).bitwiseAND(lit(mask))
    val v0 = c.bitwiseAND(lit(0xFFFFFFFFL))
    val v1 = step(v0, 16, 0x0000FFFF0000FFFFL)
    val v2 = step(v1, 8, 0x00FF00FF00FF00FFL)
    val v3 = step(v2, 4, 0x0F0F0F0F0F0F0F0FL)
    val v4 = step(v3, 2, 0x3333333333333333L)
    step(v4, 1, 0x5555555555555555L)
  }

  /** Z-order (Morton) interleave of two 32-bit keys into one 64-bit sort
    * key: bit i of `x` lands at position 2i, bit i of `y` at 2i+1, so
    * z-adjacent rows are close in BOTH dimensions at every scale. */
  private[operators] def morton2(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))

  /** Z-order-clustered layout + 2-D range query as a CHECKED key — the
    * multi-dimension sibling of [[partitionPrunedDaily]]'s 1-D partition
    * pruning (the Delta/Iceberg `OPTIMIZE ZORDER BY` concept on plain
    * parquet). A layout sorted on ONE key gives row-group min/max
    * locality on that key only; a query ranging over a second key reads
    * everything. Interleaving the bits of both keys and range-writing on
    * the interleave gives every file/row-group a tight rectangle in
    * (orderkey, partkey) space, so parquet footer min/max statistics
    * prune most row groups for ANY 2-D range query — at 100 TB this is
    * how a second (and third) filterable dimension is bought after
    * partitioning spent the first.
    *
    * The write range-partitions on z (each output file covers a disjoint
    * z interval — WarehouseSpec asserts file disjointness and the Morton
    * arithmetic) and sorts within partitions so row groups inherit the
    * locality. The query is an ordinary 2-D range aggregate; its filter
    * reaches the scan as pushed parquet predicates over both columns.
    * Oracle = the same aggregate on the raw table (layout invisible to
    * semantics). */
  /** Writes the z-clustered layout to a fresh temp dir (registered for
    * JVM-exit sweep — no catalog table, no spark-warehouse leak across
    * repeated bench invocations) and returns its path.
    *
    * KEY-WIDTH ASSUMPTION: [[spreadBits]] masks each key to its low 32
    * bits, so keys above 2^32 (very large scale factors) alias high bits
    * and z-locality degrades for them — SEMANTICS stay correct (the
    * layout is invisible to query results; the oracle runs on the raw
    * table), only pruning quality decays. At such scales pre-rank or
    * bucket the keys into 32 bits before interleaving. */
  /** ONE layout dir per JVM, overwritten in place by each invocation —
    * the same reclaim semantics the earlier saveAsTable("whz_lineitem")
    * rendition had (a NEW invocation invalidates a previous invocation's
    * still-lazy result frame, exactly as mode("overwrite") always did),
    * without the unbounded one-copy-per-call growth that per-invocation
    * temp dirs would accumulate between exit sweeps. */
  private lazy val zorderDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-zorder")
    p
  }

  private[graft] def writeZorderLayout(spark: SparkSession, dir: String): String = {
    val out = zorderDir
    graft.Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_extendedprice"), col("l_discount"))
      .withColumn("z", morton2(col("l_orderkey"), col("l_partkey")))
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite").parquet(out.toString)
    out.toString
  }

  def zorderRange(spark: SparkSession, dir: String): DataFrame = {
    val layout = writeZorderLayout(spark, dir)
    spark.read.parquet(layout)
      .filter(col("l_orderkey").between(1000, 3000) &&
        col("l_partkey").between(100, 800))
      .agg(count(lit(1)).as("n"),
        Olap.centsSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
  }

  /** ORC storage round-trip as a CHECKED key (`wh_orc_roundtrip`): the
    * reference engine ingests/exports ORC as a first-class format
    * (ClickHouse `FORMAT ORC`), and Spark carries a native vectorized ORC
    * reader/writer — a user switching engines keeps their ORC lake. The
    * projected lineitem columns are written as zlib ORC to an exit-swept
    * temp dir and read back through the vectorized scan into the same
    * revenue aggregate the parquet table answers; the oracle runs on the
    * raw parquet table, so equality proves the ORC leg is lossless for
    * these types (DECIMAL/DATE/STRING/BIGINT). Predicate pushdown and
    * column pruning work on the ORC scan exactly as on parquet —
    * Round8Spec asserts the pushed filter. One file-format boundary, no
    * extra shuffles: the aggregate is the familiar partial/final pair. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.GraftSession.scratchDir("graft-orc")
    graft.Tables(spark, dir).lineitem
      .select("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount", "l_returnflag")
      .write.mode("overwrite").option("compression", "zlib").orc(out.toString)
    spark.read.orc(out.toString)
      .filter(col("l_shipdate") >= lit("1996-01-01"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        Olap.centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** Version-wins upsert merge as a CHECKED key (`wh_replacing_merge`) —
    * the reference engine's ReplacingMergeTree concept: a table keyed on
    * `o_orderkey` receives later VERSIONS of some rows, and a read must see
    * only the newest version of each key (ClickHouse resolves this lazily
    * at merge/SELECT-FINAL time; the Spark rendition resolves it in one
    * aggregation). The update stream is synthesized deterministically from
    * the base table (every 10th order gets a version-2 row: status forced
    * to 'F', an exact +500-cent adjustment), so the oracle replays the
    * identical arithmetic with no side channel.
    *
    * The merge itself is the scale story: `max_by(struct(...), version)`
    * is an ALGEBRAIC aggregate, so Spark plans it as the familiar
    * partial/final HashAggregate pair — each map task first collapses its
    * local rows per key, and only one already-collapsed row per (task,
    * key) crosses the wire. The naive rendition (`row_number() OVER
    * (PARTITION BY key ORDER BY version DESC)`) moves EVERY version
    * through a sort-based WindowExec; the aggregate form shuffles less
    * and never sorts. Money is exact integer cents throughout (SURVEY §5
    * — no double summing, so the merge is bit-reproducible in any engine).
    *
    * At 100 TB this is the CDC-compaction pattern: base ∪ updates is one
    * union (no join), the only shuffle is the per-key collapse, and AQE
    * handles key skew like any single-shuffle aggregate. */
  /** The deterministic (base, updates) version stream both the batch key
    * and its streaming twin consume — and [[versionWinsCollapse]] is the
    * ONE merge both run, so stream == batch is a property of shared code,
    * not parallel implementations. */
  private[operators] def replacingFrames(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = graft.Tables(spark, dir).orders
      .select(col("o_orderkey"), lit(1L).as("version"), col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("total_cents"))
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit(2L).as("version"), lit("F").as("o_orderstatus"),
        (col("total_cents") + lit(500L)).as("total_cents"))
    (base, updates)
  }

  /** Version-wins collapse: per `key`, the row with the largest `version`
    * — one algebraic `max_by(struct(payload), version)` aggregate, where
    * the payload is every non-key column. Output: the key columns, then
    * the payload in input order. Associative AND commutative (versions
    * are distinct per key), so any batch split of the version stream —
    * including a streaming arrival order — converges to the identical
    * table. `wh_replacing_merge`, its streaming twin and the ClickHouse
    * dialect's `FROM t FINAL` all run this one collapse. */
  private[graft] def versionWinsCollapse(rows: DataFrame, key: Seq[String],
      version: String): DataFrame = {
    val payload = rows.columns.filterNot(key.contains)
    rows.groupBy(key.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), col(version)).as("__graft_r"))
      .select(key.map(col) ++ payload.map(c => col(s"__graft_r.$c").as(c)): _*)
  }

  def replacingMerge(spark: SparkSession, dir: String): DataFrame = {
    val (base, updates) = replacingFrames(spark, dir)
    versionWinsCollapse(base.unionByName(updates), Seq("o_orderkey"), "version")
  }

  /** ONE fragmented-layout dir + ONE compacted dir per JVM, overwritten in
    * place per invocation (same reclaim semantics as [[zorderDir]]). */
  private lazy val compactionDirs: (java.nio.file.Path, java.nio.file.Path) = {
    val frag = graft.GraftSession.scratchDir("graft-frag")
    val comp = graft.GraftSession.scratchDir("graft-compact")
    (frag, comp)
  }

  private def parquetFiles(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** How many parquet data files each side of the last compaction holds —
    * WarehouseSpec asserts fragmented >> compacted. */
  private[graft] def compactionFileCounts(): (Int, Int) = {
    val (frag, comp) = compactionDirs
    (parquetFiles(frag.toString).length, parquetFiles(comp.toString).length)
  }

  /** Small-file compaction as a CHECKED key (`wh_compaction`) — the
    * operational staple every 100 TB lake needs: streaming/ingest jobs
    * land MANY small files (here: a deliberate 64-way fragmented write of
    * the events projection), and every later scan pays per-file open cost,
    * tiny row groups, and footer overhead. Compaction rewrites the layout
    * into files sized from the ACTUAL input bytes (ceil(total/128 MB),
    * floor 1 — the driver lists one directory, bounded work) via
    * `coalesce(n)`, which merges partitions WITHOUT a shuffle: each output
    * task reads a handful of small files sequentially and writes one big
    * one — the whole compaction moves every byte exactly once and never
    * crosses the wire. (`repartition(n)` would shuffle the full table to
    * get balanced output; for uniformly-sized ingest files coalesce gives
    * the same sizing for free — that trade is the point of the key.)
    *
    * The query then answers the per-type revenue aggregate FROM the
    * compacted layout; the oracle runs on the raw events table, so
    * equality proves compaction is semantically invisible. WarehouseSpec
    * asserts the file counts (64 fragmented → ceil-sized compacted). */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val (frag, comp) = compactionDirs
    graft.Tables(spark, dir).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .repartition(64) // simulate a small-files ingest layout
      .write.mode("overwrite").parquet(frag.toString)
    val totalBytes = parquetFiles(frag.toString).map(_.length).sum
    val targetBytes = 128L * 1024 * 1024
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(frag.toString)
      .coalesce(n)
      .write.mode("overwrite").parquet(comp.toString)
    spark.read.parquet(comp.toString)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_cents"))
  }

  private lazy val sketchStateDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-hll-state")
    p
  }

  /** Stored HLL sketch state + query-time merge as a CHECKED key
    * (`wh_sketch_state_merge`) — the APPROXIMATE sibling of
    * [[aggStateMerge]], i.e. the reference engine's `uniqState` /
    * `uniqMerge` pair: distinct-user sketches are built per fine key
    * (day, event_type), persisted as binary columns, and a later query
    * merges them up to the coarser per-day key WITHOUT touching raw data.
    * An exact distinct cannot do this — `countDistinct` state is the full
    * value set, which is why pre-aggregated dashboards at 100 TB run on
    * sketches: HLL register arrays merge by pointwise max, so the stored
    * state is a few KB per key and the merge is associative — the merged
    * estimate is BIT-IDENTICAL to sketching the raw union directly
    * (WarehouseSpec asserts exactly that, plus a 5% accuracy band vs the
    * exact count; the estimate is engine-specific, so the driver check is
    * rows-only by design like the other sketch keys).
    *
    * Scale: the raw corpus is scanned once at state-build time
    * (partial-aggregated to days x types sketch rows); every later merge
    * query reads KBs. lgConfigK = 12 (the Spark/DataSketches default) is
    * declared at BOTH build and merge — merging sketches of different
    * precision silently degrades to the coarsest, so the knob is part of
    * the stored contract, not a query-time choice. */
  def sketchStateMerge(spark: SparkSession, dir: String): DataFrame = {
    val state = sketchStateDir.toString
    graft.Tables(spark, dir).events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("user_sketch"),
        count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(state)
    spark.read.parquet(state)
      .groupBy("day")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("user_sketch"), lit(false)))
          .as("approx_users"),
        sum("cnt").as("n_events"))
  }

  private lazy val mutationDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-mutation")
    p
  }

  private lazy val updateDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-update")
    p
  }

  /** (gen0, gen1) of the last mutation — WarehouseSpec checks the
    * untouched-part carry-over really is a hard link (shared inode). */
  private[graft] def mutationGens: (java.nio.file.Path, java.nio.file.Path) =
    (mutationDir.resolve("gen0"), mutationDir.resolve("gen1"))

  /** (files in layout, files the last mutation rewrote) — WarehouseSpec
    * asserts rewritten < total, i.e. the delete was surgical. */
  @volatile private[graft] var mutationCounts: (Int, Int) = (0, 0)

  /** Row-level DELETE as a SURGICAL file rewrite (`wh_mutation_delete`)
    * — the reference engine's `ALTER TABLE ... DELETE WHERE` mutation:
    * at 100 TB a predicate delete must NOT rewrite the table; it
    * rewrites only the parts that can contain matching rows and leaves
    * every other file untouched (ClickHouse mutates part-by-part;
    * lakehouse formats do the same under a manifest commit).
    *
    * The layout is RANGE-clustered on user_id (the delete key), so
    * per-file min/max statistics localize any point predicate to ~one
    * file. The mutation: (1) one column-pruned pass computes per-file
    * (min, max) of the key; (2) files whose range can contain the
    * victim are rewritten WITHOUT the matching rows (a filtered scan of
    * only those files); (3) untouched files carry over by HARD LINK —
    * the metadata-only re-link a table format's manifest commit does,
    * never a data read or byte copy. The checked query
    * aggregates the mutated layout; the oracle applies the same
    * predicate to the raw table — equality proves the delete removed
    * exactly the victim's rows and nothing else. The victim is
    * deterministic (min user id divisible by 97), so both engines
    * target the same rows. */
  def mutationDelete(spark: SparkSession, dir: String): DataFrame = {
    val (gen1, counts) = surgicalMutation(spark, dir, mutationDir) {
      (affected, victim) => affected.filter(col("user_id") =!= victim)
    }
    mutationCounts = counts
    spark.read.parquet(gen1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("v_cents").as("sum_cents"))
  }

  /** (gen0, gen1) of the last update mutation + its (total, rewritten)
    * file counts — WarehouseSpec asserts the update was surgical too. */
  private[graft] def updateGens: (java.nio.file.Path, java.nio.file.Path) =
    (updateDir.resolve("gen0"), updateDir.resolve("gen1"))
  @volatile private[graft] var updateCounts: (Int, Int) = (0, 0)

  /** Row-level UPDATE as a SURGICAL file rewrite (`wh_mutation_update`)
    * — `ALTER TABLE ... UPDATE v = f(v) WHERE ...`, the delete's
    * sibling mutation sharing the identical part discipline: per-file
    * range statistics localize the predicate, only range-hit parts are
    * rewritten (with the transform applied to matching rows and
    * everything else carried verbatim), untouched parts hard-link over.
    * The mutation doubles the victim user's value cents — a pure
    * BIGINT transform, so the mutated table reproduces bit-for-bit and
    * the oracle can replay it with a CASE over the raw rows. At 100 TB
    * the shape is the point: an UPDATE's cost is proportional to the
    * parts that CAN match, not to the table. */
  def mutationUpdate(spark: SparkSession, dir: String): DataFrame = {
    val (gen1, counts) = surgicalMutation(spark, dir, updateDir) {
      (affected, victim) => affected.withColumn("v_cents",
        when(col("user_id") === victim, col("v_cents") * 2L)
          .otherwise(col("v_cents")))
    }
    updateCounts = counts
    spark.read.parquet(gen1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("v_cents").as("sum_cents"))
  }

  /** The shared ALTER-TABLE mutation machinery behind [[mutationDelete]]
    * and [[mutationUpdate]]: (1) write the user_id-range-clustered gen0
    * layout (16 sorted parts — per-file min/max localize any point
    * predicate to ~one file); (2) locate the deterministic victim (min
    * user id divisible by 97) from the already-written layout — column-
    * pruned, never a second raw-table scan, degrading to a sentinel
    * no row carries when no user qualifies (tiny smoke slices), which
    * makes the mutation a clean no-op matching the oracle's
    * IS DISTINCT FROM convention; (3) stats-partition the files into
    * range-hit vs untouched; (4) untouched parts carry over by HARD
    * LINK — the metadata-only re-link a table format's manifest commit
    * performs, never a byte copy (Files.copy only as the link-less-
    * filesystem fallback); (5) `rewrite` runs over ONLY the range-hit
    * files. Returns the gen1 path and (total, rewritten) file counts. */
  private def surgicalMutation(
      spark: SparkSession, dir: String, root: java.nio.file.Path)(
      rewrite: (DataFrame, Long) => DataFrame): (String, (Int, Int)) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val gen0 = root.resolve("gen0").toString
    val gen1 = root.resolve("gen1")
    graft.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v_cents"))
      .repartitionByRange(16, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(gen0)
    val vrow = spark.read.parquet(gen0)
      .filter(col("user_id") % 97 === 0)
      .agg(min("user_id")).collect()(0)
    val victim = if (vrow.isNullAt(0)) Long.MinValue else vrow.getLong(0)
    val stats = spark.read.parquet(gen0)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("lo"), max("user_id").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (affected, untouched) = stats.partition { case (_, lo, hi) =>
      lo <= victim && victim <= hi }
    graft.TempSweep.deleteRecursively(gen1)
    Files.createDirectories(gen1)
    untouched.foreach { case (f, _, _) =>
      val src = Paths.get(new java.net.URI(f))
      val dst = gen1.resolve(src.getFileName)
      try Files.createLink(dst, src)
      catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    if (affected.nonEmpty) {
      val tmp = root.resolve("rewrite")
      rewrite(spark.read.parquet(affected.map(_._1): _*), victim)
        .write.mode("overwrite").parquet(tmp.toString)
      val rewritten = Files.list(tmp)
      try rewritten.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("part-"))
          Files.move(p, gen1.resolve("rw-" + n), StandardCopyOption.REPLACE_EXISTING)
      } finally rewritten.close()
      graft.TempSweep.deleteRecursively(tmp)
    }
    (gen1.toString, (stats.length, affected.length))
  }

  private lazy val summingDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-summing")
    p
  }

  /** SummingMergeTree semantics as a CHECKED key (`wh_summing_merge`) —
    * the third member of the reference engine's mutable-table trio next
    * to [[replacingMerge]] (version-wins) and [[collapsingMerge]]
    * (sign-annihilation): parts carry PARTIAL SUMS per sort key, merges
    * add them, and a key whose summed metrics have ALL become zero is
    * DROPPED from the merged view (the engine's documented "row is
    * deleted" rule — how counter tables shed dead keys without a
    * delete).
    *
    * The layout writes three parts: two half-year partial aggregates of
    * per-(user, type) spend counters, plus an adjustment part that
    * exactly negates a deterministic slice of users (`user_id % 13 = 0`)
    * — the SummingMergeTree way to retract a counter. The merged read is
    * a union of PART-SIZED frames (partials, never raw rows) + one
    * key-grouped sum + the all-zero drop filter; summed metrics are
    * exact integer cents so annihilation is bit-for-bit. The oracle
    * replays the whole contract from RAW events: full-year totals for
    * keys off the slice, absence for keys on it. vs [[collapsingMerge]]:
    * Summing stores one PARTIAL ROW per key per part (no sign column,
    * no cancel-state copies) and pays a key-cardinality merge; vs
    * [[aggStateMerge]]: the mergeable state is plain addition, so the
    * stored parts stay queryable by any SQL reader. */
  def summingMerge(spark: SparkSession, dir: String): DataFrame = {
    val out = summingDir.toString
    val e = graft.Tables(spark, dir).events.select(
      col("user_id"), col("event_type"), month(col("ts")).as("m"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    def part(f: org.apache.spark.sql.Column) = e.filter(f)
      .groupBy("user_id", "event_type")
      .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n_rows"))
    part(col("m") <= 6).write.mode("overwrite").parquet(s"$out/part=h1")
    part(col("m") > 6).write.mode("overwrite").parquet(s"$out/part=h2")
    part(lit(true)).filter(col("user_id") % 13 === 0)
      .select(col("user_id"), col("event_type"),
        (-col("sum_cents")).as("sum_cents"), (-col("n_rows")).as("n_rows"))
      .write.mode("overwrite").parquet(s"$out/part=adj")
    spark.read.parquet(out)
      .groupBy("user_id", "event_type")
      .agg(sum("sum_cents").as("sum_cents"), sum("n_rows").as("n_rows"))
      .filter(!(col("sum_cents") === 0L && col("n_rows") === 0L))
  }

  private lazy val bitmapStateDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-bitmapstate")
    p
  }

  /** The state layout's path, exposed so the spec can audit the stored
    * bitmap widths without duplicating the dir bookkeeping. */
  private[graft] def bitmapStateDirForTest: String = bitmapStateDir.toString

  /** EXACT distinct users from stored mergeable BITMAP states
    * (`wh_bitmap_state_merge`) — the exact sibling of
    * [[sketchStateMerge]]'s approximate HLL: ClickHouse's
    * `groupBitmapState` / AggregatingMergeTree-with-bitmaps pattern,
    * where per-part bitmap states OR together at read and cardinality
    * is a popcount, never a re-scan of raw ids.
    *
    * Spark's built-in bucketed-bitmap family carries the whole key:
    * ids bucket into fixed 4096-BYTE bitmaps
    * (`bitmap_bucket_number`/`bitmap_bit_position`), each (day, type,
    * bucket) group folds its ids map-side via `bitmap_construct_agg`,
    * and the stored states merge with `bitmap_or_agg` + `bitmap_count`
    * at read — all codegen'd built-ins, no UDF, no native extension
    * needed. 100 TB story: per-group memory is bounded at 4 KiB by
    * construction (the bucket width), states merge associatively so a
    * day's ingest appends parts without touching history, and the read
    * shuffles only (type, bucket) bitmap rows — id-domain/32768 of
    * them — never ids. Unlike the HLL key this one is EXACT, so it
    * carries a real SQL oracle (`count(DISTINCT user_id)`), proving
    * the whole state-at-rest round trip bit-perfect. */
  def bitmapStateMerge(spark: SparkSession, dir: String): DataFrame = {
    val state = bitmapStateDir.toString
    graft.Tables(spark, dir).events
      .select(to_date(col("ts")).as("day"), col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bucket"),
        expr("bitmap_bit_position(user_id)").as("pos"))
      .groupBy("day", "event_type", "bucket")
      .agg(expr("bitmap_construct_agg(pos)").as("user_bitmap"))
      .write.mode("overwrite").parquet(state)
    spark.read.parquet(state)
      .groupBy("event_type", "bucket")
      .agg(expr("bitmap_or_agg(user_bitmap)").as("merged"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(merged)")).as("n_users"))
  }

  private lazy val evolutionDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-evolve")
    p
  }

  /** Schema evolution across layout generations as a CHECKED key
    * (`wh_schema_evolution`) — the lake reality ClickHouse handles with
    * `ALTER TABLE ADD COLUMN` defaults and Spark handles with
    * `mergeSchema`: a table accumulates files written under an OLD schema
    * (generation 1: event_id, user_id, value) and a WIDENED one
    * (generation 2 adds event_type), and a read must span both without
    * rewriting history — at 100 TB rewriting every historical file to
    * backfill one column is exactly the job nobody can afford.
    *
    * `mergeSchema` unions the parquet footers at planning time (a
    * file-listing-sized driver cost, not a data scan); old files simply
    * yield nulls for the new column, and the query's `coalesce(...,
    * 'unknown')` is the declared backfill default. The generation split
    * here is deterministic (even/odd event_id), so the oracle replays it
    * as a CASE over the raw table — equality proves old-generation rows
    * take the default and new-generation rows keep their real values,
    * i.e. the evolved read loses nothing. Per-file pruning/pushdown still
    * work on the shared columns; the aggregate is the ordinary
    * partial/final pair. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = evolutionDir.toString
    val e = graft.Tables(spark, dir).events
    e.filter(col("event_id") % 2 === 0)
      .select("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(s"$out/gen=1")
    e.filter(col("event_id") % 2 === 1)
      .select("event_id", "user_id", "value", "event_type")
      .write.mode("overwrite").parquet(s"$out/gen=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce(col("event_type"), lit("unknown")).as("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_cents"))
  }

  /** The deterministic sign stream the collapsing-merge key and its spec
    * share: every order contributes a +1 state row; every 7th key is
    * CANCELLED by a -1 twin of its exact state; cancelled keys not also
    * divisible by 21 are RESTATED with a +1 row (status forced to 'F',
    * an exact +250-cent adjustment) — so %21 keys are pure deletes and
    * the other %7 keys are in-place corrections. Pure function of the
    * base table: the oracle replays it with no side channel. */
  private[operators] def collapsingStream(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
        lit(1L).as("sign"))
    val cancels = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        lit(-1L).as("sign"))
    val restates = base.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 21 =!= 0)
      .select(col("o_orderkey"), lit("F").as("o_orderstatus"),
        (col("cents") + lit(250L)).as("cents"), lit(1L).as("sign"))
    base.unionByName(cancels).unionByName(restates)
  }

  /** Sign-annihilation merge as a CHECKED key (`wh_collapsing_merge`) —
    * the reference engine's CollapsingMergeTree, the OTHER mutable-table
    * concept next to [[replacingMerge]]'s version-wins: deletes and
    * corrections arrive as rows with `sign = -1` carrying the EXACT state
    * they cancel (plus an optional +1 restatement), and aggregates run
    * over the RAW uncollapsed stream as `sum(sign)` / `sum(sign * x)` —
    * cancelled rows annihilate inside the aggregation itself, so no
    * per-key collapse, join, or window ever materializes the current
    * table. That algebra is the entire point of the engine: a count
    * becomes `sum(sign)`, a sum becomes `sum(sign * x)`, and both stay
    * ALGEBRAIC — Spark plans the familiar partial/final HashAggregate
    * pair, map tasks annihilate locally, and the only shuffle carries one
    * collapsed row per (task, status).
    *
    * vs [[replacingMerge]]: Replacing needs the per-KEY `max_by` collapse
    * (a key-cardinality shuffle) before any aggregate is trustworthy;
    * Collapsing pays only the aggregate's own tiny-key shuffle because
    * the cancel row carries enough state to subtract itself. The price is
    * the writer must KNOW the old state — exactly ClickHouse's documented
    * trade between the two engines.
    *
    * At 100 TB this is the mutable-fact-table pattern: the sign stream is
    * append-only (CDC-friendly), the aggregate never touches a key-sized
    * shuffle, and money stays exact integer cents so annihilation is
    * bit-for-bit (SURVEY §5). WarehouseSpec proves the sign aggregate
    * equals a brute-force per-key final-state reconstruction and that
    * pure-deleted keys contribute exactly zero. */
  def collapsingMerge(spark: SparkSession, dir: String): DataFrame =
    collapsingStream(spark, dir)
      .groupBy("o_orderstatus")
      .agg(sum("sign").as("n_live"),
        sum(col("sign") * col("cents")).as("sum_cents"))

  private lazy val ttlDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-ttl")
    p
  }

  /** How many `event_date=` partition dirs the last TTL run kept vs
    * started with — WarehouseSpec asserts expired dirs are physically
    * gone. */
  @volatile private[graft] var ttlPartitionCounts: (Int, Int) = (0, 0)

  /** TTL expiry as a CHECKED key (`wh_ttl_expire`) — the reference
    * engine's `TTL timestamp + INTERVAL ...` retention clause: rows past
    * the retention horizon are dropped BY PARTITION, not by scan. The
    * events table is laid out `partitionBy(event_date)` (the same layout
    * [[partitionPrunedDaily]] proves prunes), and expiry then DELETES the
    * expired `event_date=` directories off the file listing — a
    * metadata-sized driver operation that never opens a data file, which
    * is the only affordable shape at 100 TB (a predicate DELETE would
    * rewrite the table; ClickHouse's TTL drop-part does exactly this
    * directory drop). Day partitioning makes the horizon align with
    * partition boundaries, so file-level expiry IS row-level expiry —
    * the declared contract of a daily-partitioned TTL table.
    *
    * The query then aggregates the RETAINED layout (partition discovery
    * rebuilds `event_date` from the surviving directory names);
    * `min(event_date)` rides along so the retention boundary is part of
    * the checked result. Oracle = the same aggregate over raw events
    * filtered to the horizon — equality proves the drop removed exactly
    * the expired days. */
  def ttlExpire(spark: SparkSession, dir: String): DataFrame = {
    val out = ttlDir.toString
    graft.Tables(spark, dir).events
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val cutoff = java.time.LocalDate.parse("2024-01-20")
    val partDirs = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    val expired = partDirs.filter { d =>
      java.time.LocalDate.parse(d.getName.stripPrefix("event_date=")).isBefore(cutoff)
    }
    expired.foreach(d => graft.TempSweep.deleteRecursively(d.toPath))
    ttlPartitionCounts = (partDirs.length, partDirs.length - expired.length)
    spark.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_cents"),
        min(col("event_date")).as("first_day"))
  }

  private[graft] lazy val dictDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-dict")
    p
  }

  /** Dictionary encoding as a CHECKED key (`wh_dictionary_encode`) — the
    * reference engine's `LowCardinality(String)` column type: a
    * low-cardinality string column is stored ONCE as a (string → dense
    * int id) dictionary sidecar, and the fact table carries only the int
    * codes. Parquet dictionary-encodes string PAGES on its own; what the
    * column type buys beyond that is the EXECUTION side — every group-by
    * key, join key, and shuffle row carries a 4-byte int instead of a
    * string, hashing and comparing ints, with the one string decode
    * deferred to the final (vocabulary-sized) join.
    *
    * Build: distinct types (a bounded vocabulary — the LowCardinality
    * contract) get dense ids via [[GlobalRank.boundedRowNumbered]] (no
    * WindowExec); the fact rewrite is one broadcast join; both land in an
    * exit-swept layout dir. Query: the aggregate runs ENTIRELY on int
    * codes and decodes per GROUP at the end through a broadcast of the
    * dictionary. Oracle = the same aggregate on the raw string table —
    * equality proves the encoding invisible; WarehouseSpec asserts the
    * encoded layout carries no string column and the decode join
    * broadcasts. */
  def dictionaryEncode(spark: SparkSession, dir: String): DataFrame = {
    val out = dictDir.toString
    val e = graft.Tables(spark, dir).events
    val dict = GlobalRank.boundedRowNumbered(
      e.select("event_type").distinct(), "type_id", col("event_type"))
    dict.write.mode("overwrite").parquet(s"$out/dict")
    e.join(broadcast(spark.read.parquet(s"$out/dict")), Seq("event_type"))
      .select(col("event_id"), col("user_id"), col("type_id"),
        expr("cast(round(value * 100) as bigint)").as("v_cents"))
      .write.mode("overwrite").parquet(s"$out/facts")
    spark.read.parquet(s"$out/facts")
      .groupBy("type_id")
      .agg(count(lit(1)).as("n_events"), sum("v_cents").as("sum_cents"))
      .join(broadcast(spark.read.parquet(s"$out/dict")), Seq("type_id"))
      .select(col("event_type"), col("n_events"), col("sum_cents"))
  }

  private lazy val bloomIdxDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-bloomidx")
    p
  }

  /** (files in layout, files the last bloom-indexed query opened) —
    * WarehouseSpec asserts opened < total. */
  @volatile private[graft] var bloomSkipCounts: (Int, Int) = (0, 0)

  /** Bloom data-skipping index as a CHECKED key (`wh_bloom_skip_index`) —
    * the reference engine's `INDEX ... TYPE bloom_filter` skip index: for
    * a HIGH-cardinality column that the sort/partition keys don't cover
    * (here the unique event_id in a layout distributed by user_id),
    * footer min/max prunes nothing — hash scatter makes every file span
    * the whole id range. A per-file Bloom filter sidecar answers "might
    * this file contain event e?" at the file-listing level, so a point
    * lookup opens ~one file instead of scanning the table.
    *
    * Build: ONE distributed pass — `groupBy(input_file_name())` with the
    * native [[graft.functions.BloomAgg]] per-group bloom aggregate (the
    * aggregate Spark doesn't expose publicly; `stat.bloomFilter` builds
    * one filter per FRAME, which would cost K jobs here). Each task folds
    * its rows into an in-memory filter, filters merge associatively by
    * bitwise OR, and only the K finished BIT ARRAYS reach the driver (the
    * `pipeline_decontaminate_bloom` contract); [[graft.functions
    * .BloomMightContain]] is the codegen'd probe half of the same pair.
    *
    * Query: the probed key is the corpus's min event_id (one tiny
    * aggregate — no magic constant that breaks at another SF); sidecars
    * are consulted DRIVER-side (index-sized work), the scan reads only
    * surviving files, and the exact predicate still applies — bloom
    * false positives cost I/O, never correctness. Oracle = the same
    * point lookup over the raw table. */
  def bloomSkipIndex(spark: SparkSession, dir: String): DataFrame = {
    val out = bloomIdxDir.toString
    graft.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v_cents"))
      .repartition(16, col("user_id")) // event_id deliberately NOT the layout key
      .write.mode("overwrite").parquet(out)
    val files = parquetFiles(out)
    // per-file expected items: total rows over the files actually written
    // (a parquet count is footer metadata, not a scan), overprovisioned 2x
    // against hash skew — undersizing a bloom silently raises its fpp
    val totalRows = spark.read.parquet(out).count()
    val expected = math.max(totalRows * 2L / math.max(files.length, 1), 64L)
    // ONE pass builds every sidecar; an EMPTY file (hash scatter with
    // fewer hot keys than buckets) yields no group — pruned by absence
    val agg = udaf(new graft.functions.BloomAgg(expected, 0.01))
    val index = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(agg(col("event_id")).as("bloom"))
      .collect()
      .map(r => r.getString(0) ->
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom"))))
    val probe = graft.Tables(spark, dir).events
      .agg(min("event_id")).collect()(0).getLong(0)
    val hits = index.filter(_._2.mightContainLong(probe)).map(_._1)
    bloomSkipCounts = (files.length, hits.length)
    spark.read.parquet(hits.toIndexedSeq: _*)
      .filter(col("event_id") === probe)
      .select("event_id", "user_id", "event_type", "v_cents")
  }

  private lazy val projectionDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-projection")
    p
  }

  /** A stored pre-aggregate: `dims` are its grouping columns; the data at
    * `path` carries those dims plus the mergeable partials
    * (sum_qty / revenue_cents / n_rows). */
  private[graft] final case class Projection(name: String, dims: Seq[String], path: String)

  /** Name of the projection the last [[projectionAnswer]] call routed to
    * (observability for the spec — the routing claim, not prose). */
  @volatile private[graft] var lastProjection: String = ""

  /** Builds the two stored projections of the lineitem revenue facts:
    * `p_ym` keyed (year, month) and `p_ymf` keyed (year, month, flag) —
    * each ONE partial aggregation pass whose output rows are bounded by
    * the key domain, written columnar to the per-JVM exit-swept dir. */
  private[graft] def buildProjections(spark: SparkSession, dir: String): Seq[Projection] = {
    val base = graft.Tables(spark, dir).lineitem.select(
      year(col("l_shipdate")).cast("long").as("l_year"),
      month(col("l_shipdate")).cast("long").as("l_month"),
      col("l_returnflag"),
      expr("cast(round(l_quantity) as bigint)").as("qty"),
      expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)").as("cents"))
    val partials = Seq(
      ("p_ym", Seq("l_year", "l_month")),
      ("p_ymf", Seq("l_year", "l_month", "l_returnflag")))
    partials.map { case (name, dims) =>
      val out = projectionDir.resolve(name).toString
      base.groupBy(dims.map(col): _*)
        .agg(sum("qty").as("sum_qty"), sum("cents").as("revenue_cents"),
          count(lit(1)).as("n_rows"))
        .write.mode("overwrite").parquet(out)
      Projection(name, dims, out)
    }
  }

  /** The read-path router: among projections whose dims COVER the
    * requested grouping set, pick the most pre-aggregated one (fewest
    * stored dims), finish with a rollup of the mergeable partials —
    * sums of sums, sum of counts. Falls back to nothing here by design:
    * the registry always contains a covering projection for the checked
    * keys, and a caller asking for uncovered dims gets a loud error
    * rather than a silent full scan. */
  private[graft] def projectionAnswer(spark: SparkSession,
      projs: Seq[Projection], want: Seq[String]): DataFrame = {
    val candidates = projs.filter(p => want.forall(p.dims.contains))
    require(candidates.nonEmpty,
      s"no projection covers ${want.mkString(",")} — query the base table")
    val pick = candidates.minBy(_.dims.size)
    lastProjection = pick.name
    spark.read.parquet(pick.path)
      .groupBy(want.map(col): _*)
      .agg(sum("sum_qty").as("sum_qty"), sum("revenue_cents").as("revenue_cents"),
        sum("n_rows").as("n_rows"))
  }

  /** ClickHouse PROJECTION semantics as a CHECKED key (`wh_projection`):
    * a table carries stored alternate pre-aggregations and the reader
    * picks one AUTOMATICALLY — the query asks for revenue by year and is
    * answered from the (year, month) projection by merging its partials,
    * never rescanning the fact rows. Projections are first-class in the
    * reference's engine (the ClickHouse the README.rst tutorial drives);
    * cf. AggregatingMergeTree, whose stored *State this repo covers as
    * `wh_agg_state_merge` — a projection is the same partial-aggregate
    * algebra ROUTED transparently at read time.
    *
    * 100 TB story: the projection build is one partial-agg pass bounded
    * by the key domain (years x months rows stored — KiBs); every
    * subsequent covered query costs a scan of the projection, not the
    * corpus. Exactness: integer cents summed per row before any
    * aggregation (the exact-cents pattern), so projection-merge equals
    * raw-aggregate bit-for-bit — which is precisely what the oracle
    * (GROUP BY year over RAW lineitem) checks. WarehouseSpec proves the
    * router picks the SMALL projection here, routes to the wider one
    * when the grouping set demands it, and refuses uncovered dims. */
  def projectionRouted(spark: SparkSession, dir: String): DataFrame = {
    val projs = buildProjections(spark, dir)
    projectionAnswer(spark, projs, Seq("l_year"))
      .select("l_year", "sum_qty", "revenue_cents", "n_rows")
  }

  /** Revenue per order priority over the BUCKETED tables: the
    * orders⋈lineitem join runs bucket-to-bucket (no Exchange before the
    * SortMergeJoin); the only shuffle left is the final small aggregation. */
  def revenueByPriorityCoLocated(spark: SparkSession, prefix: String = "wh"): DataFrame =
    spark.table(s"${prefix}_orders")
      .join(spark.table(s"${prefix}_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(Olap.centsSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))

  private lazy val partOpsDir: java.nio.file.Path = {
    val p = graft.GraftSession.scratchDir("graft-partops")
    p
  }

  /** The table root and detached/ area of the last partition-ops run +
    * the part-file inode observed before the detach→attach round trip —
    * WarehouseSpec asserts the reattached file is the SAME inode (the
    * ops never read or copied data). */
  private[graft] def partOpsPaths: (java.nio.file.Path, java.nio.file.Path) =
    (partOpsDir.resolve("table"), partOpsDir.resolve("detached"))
  @volatile private[graft] var partOpsInodes: (Object, Object) = (null, null)

  /** Partition lifecycle DDL (`wh_partition_ops`) — the reference
    * engine's `ALTER TABLE ... DETACH / ATTACH / DROP PARTITION`: at
    * 100 TB these are METADATA operations — a partition leaves or joins
    * the table by directory rename, never by reading a byte of data
    * (ClickHouse moves the part dir to `detached/`; lakehouse formats
    * flip manifest entries).
    *
    * The run writes events day-partitioned (one file per day — the
    * writer pre-repartitions by the partition key so tasks own whole
    * partitions, the [[bucketizeOrders]] small-files lesson), then:
    * DETACHes two days out to `detached/`, DROPs one day outright, and
    * re-ATTACHes the first detached day — all four ops are directory
    * renames (`Files.move` within one filesystem), so the reattached
    * day returns with its original inode, which the spec checks. The
    * checked query aggregates the surviving table; the oracle replays
    * the visibility rules on raw rows (dropped + still-detached days
    * absent, reattached day present). Partition discovery re-infers
    * the `day` column from directory names — the read needs no state
    * beyond the directory tree, exactly how an engine's parts list
    * works. */
  def partitionOps(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val (table, detached) = partOpsPaths
    graft.TempSweep.deleteRecursively(partOpsDir.resolve("table"))
    graft.TempSweep.deleteRecursively(partOpsDir.resolve("detached"))
    Files.createDirectories(detached)
    val e = graft.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v_cents"),
        to_date(col("ts")).as("day"))
    e.repartition(32, col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(table.toString)
    def part(d: String) = table.resolve(s"day=$d")
    def detach(d: String): Unit =
      if (Files.exists(part(d)))
        Files.move(part(d), detached.resolve(s"day=$d"), StandardCopyOption.ATOMIC_MOVE)
    def inodeOf(p: java.nio.file.Path): Object =
      if (!Files.exists(p)) null
      else {
        val s = Files.list(p)
        try s.filter(f => f.getFileName.toString.startsWith("part-")).findFirst
          .map[Object](f => Files.readAttributes(f, "unix:ino").get("ino"))
          .orElse(null)
        finally s.close()
      }
    // DETACH 01-05 and 01-12; DROP 01-20; ATTACH 01-05 back
    val inode0 = inodeOf(part("2024-01-05"))
    detach("2024-01-05")
    detach("2024-01-12")
    graft.TempSweep.deleteRecursively(part("2024-01-20"))
    if (Files.exists(detached.resolve("day=2024-01-05")))
      Files.move(detached.resolve("day=2024-01-05"), part("2024-01-05"),
        StandardCopyOption.ATOMIC_MOVE)
    val inode1 = inodeOf(part("2024-01-05"))
    partOpsInodes = (inode0, inode1)
    spark.read.parquet(table.toString)
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"), sum("v_cents").as("sum_cents"))
  }
}
