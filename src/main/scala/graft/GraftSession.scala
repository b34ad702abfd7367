package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CdcChunks, CharStats, DotProduct, GramStats, HammingDistance64, MinHash32, SimHash64, SortedIntersectCount}
import graft.plans.{TopKPerKeyExtension, TopKPerKeyRewrite, TopKPerKeyStrategy}

/** Session factory for the graft engine.
  *
  * Tuned for the harness's local[32] single-JVM mode, but every setting is
  * what we'd want on a real cluster too: AQE (runtime re-plan + skew-join
  * splitting), modest shuffle parallelism at small SF (on a 1000-executor
  * cluster this would be raised to ~2-3x total cores), UTC session TZ so
  * time bucketing matches the DuckDB oracle.
  */
object GraftSession {

  /** Injects graft's native Catalyst functions (codegen'd, no UDF overhead). */
  class Extensions extends (SparkSessionExtensions => Unit) {
    override def apply(ext: SparkSessionExtensions): Unit = {
      ext.injectFunction(
        (new FunctionIdentifier("hamming64"),
          new ExpressionInfo(classOf[HammingDistance64].getName, "hamming64"),
          (children: Seq[Expression]) => HammingDistance64(children(0), children(1))))
      ext.injectFunction(
        (new FunctionIdentifier("dot_product"),
          new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
          (children: Seq[Expression]) => DotProduct(children(0), children(1))))
      ext.injectFunction(
        (new FunctionIdentifier("simhash64"),
          new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
          (children: Seq[Expression]) => SimHash64(children.head)))
      ext.injectFunction(
        (new FunctionIdentifier("minhash32"),
          new ExpressionInfo(classOf[MinHash32].getName, "minhash32"),
          (children: Seq[Expression]) => MinHash32(children.head)))
      ext.injectFunction(
        (new FunctionIdentifier("cdc_chunks"),
          new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
          (children: Seq[Expression]) => CdcChunks(children.head)))
      ext.injectFunction(
        (new FunctionIdentifier("gram_stats"),
          new ExpressionInfo(classOf[GramStats].getName, "gram_stats"),
          (children: Seq[Expression]) => GramStats(children(0),
            children(1).eval().asInstanceOf[Number].intValue)))
      ext.injectFunction(
        (new FunctionIdentifier("char_stats"),
          new ExpressionInfo(classOf[CharStats].getName, "char_stats"),
          (children: Seq[Expression]) => CharStats(children.head)))
      ext.injectFunction(
        (new FunctionIdentifier("sorted_intersect_count"),
          new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
          (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1))))
      ext.injectOptimizerRule(_ => TopKPerKeyRewrite)
      ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    }
  }

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new Extensions()(_))
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the driver's parquet writer stores `ts` as timestamp[us] with
      // isAdjustedToUTC=false; Spark 4 would infer TIMESTAMP_NTZ from
      // that and NTZ breaks the instant functions (unix_micros & co).
      // With inference off the column reads as a plain UTC TIMESTAMP —
      // identical values under the UTC session zone above, and the same
      // naive reading the DuckDB oracle uses
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Shuffles PLAN at 512 partitions and AQE coalesces down (its
      // parallelism-first default keeps >= the core count for small
      // stages), so a data-heavy exchange gets many small per-task sorts
      // instead of 32 huge ones. The r9 sf5 run is the motivating
      // failure: a 19 GB verify-join shuffle at 32 static partitions
      // meant 600 MB unsafe sorts per task, 32 concurrent, which spilled
      // then OOM'd the spill-merge read-ahead in an 8 GiB heap; at 512
      // initial partitions the same stage is ~40 MB per task and never
      // spills. On a 1000-executor cluster this is the same 2-3x
      // total-cores starting point the scaladoc above prescribes.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      // REQUIRED COMPANION of the 512 above: cached plans refuse AQE
      // output-partitioning changes by default, so every trackCache'd
      // aggregate was MATERIALIZING at 512 uncoalesced partitions and
      // every downstream stage ran 512 tiny tasks — q_ntile went 1.1 s →
      // 3.6 s (A/B, min of 3, fresh JVMs per config). With the flag on,
      // AQE coalesces through InMemoryRelation too (512/true measures
      // FASTER than the old static-32 on the GlobalRank family). Safe for
      // the partition-id-dependent GlobalRank caches: both sit on
      // explicit-count repartitionByRange (REPARTITION_BY_NUM), which
      // coalescing never touches.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Floor on SCAN parallelism (r21, guide §6): a corpus table that
      // lands in one or two parquet files produces one or two scan tasks
      // at the default 128 MB maxPartitionBytes, so every downstream
      // consumer of documents/embeddings decodes the corpus nearly
      // single-threaded (emb_pca at sf10: 51 s wall on 124 task-CPU-s —
      // parallelism ~3 on a 32-core box). minPartitionNum is the
      // SCALE-ADAPTIVE knob for exactly this: Spark sizes splits as
      // max(openCost, totalBytes/minPartitionNum) capped at
      // maxPartitionBytes, so small inputs split down to ~4 MB (openCost)
      // and a genuinely large input — the 100 TB case, already thousands
      // of splits — is untouched. 1× cores, A/B-chosen (r21, paired sf10
      // solo probes): at 2× cores the floor OVERSPLIT already-parallel
      // inputs — the 32-file shingle layout went to 64 scan tasks
      // (dedup_minhash_lsh 10.1 → 11.6 s) and lineitem from 10 to 64
      // (q_hits +276 task-CPU-s) — while 1× keeps those at their natural
      // width and still takes the single-file corpus scans from 1 task
      // to ~13 (ann_lsh 13.6 → 4.0 s: embeddings 51 MB in
      // openCost-floored ~4 MB splits).
      .config("spark.sql.files.minPartitionNum", shufflePartitions.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      // the AppStatusListener populates its InMemoryStore even with the
      // UI off, at the DEFAULT retentions (1000 jobs/stages with up to
      // 100k tasks each, 1000 SQL executions with full metric graphs) —
      // across a 192-query sf10 bench pass that store alone exhausted
      // the 8 g driver heap (r13: the single-pass probe died with JVM
      // exit 52 after 179 keys). Monitoring state is not evidence — the
      // probe's own accumulator listener is retention-independent — so
      // keep only a small diagnostic window.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // --- cache hygiene -------------------------------------------------------
  // Query builders cache frames reused inside ONE query (shingle arrays,
  // sketches). On the driver's shared session those caches used to strand
  // block-store memory across the 38-query pass; tracking them lets the next
  // query sweep its predecessor's blocks. Unpersisting is always safe —
  // Spark lazily recomputes an unpersisted frame.
  private val liveCaches =
    scala.collection.mutable.Map.empty[SparkSession, scala.collection.mutable.Buffer[DataFrame]]
  /** Contexts whose application end sweeps their sessions' caches. */
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean])

  /** `df.cache()` + remember the frame so [[sweepCaches]] can free it. */
  def trackCache(df: DataFrame): DataFrame = synchronized {
    df.cache()
    val session = df.sparkSession
    val sc = session.sparkContext
    // a session whose context stops is never swept by a next query, and
    // Spark keeps a stopped context reachable (its long-lived threads
    // inherit the active session): without this its cache manager keeps
    // every cached plan and RDD lineage for the rest of the JVM. At
    // application end nothing can read the context's caches again, so
    // they are all dropped at once — one by one, each uncache would try
    // to rebuild the entries that read it, on a context already stopping.
    // `SparkContext.stop` drains the listener bus before it stops the
    // block manager, so the drop still reaches the stored blocks
    // (GraftSessionSpec stops a context and checks its cache manager).
    if (watched.add(sc)) sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onApplicationEnd(end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
        GraftSession.synchronized {
          liveCaches.keys.filter(_.sparkContext eq sc).toSeq.foreach(liveCaches.remove)
          session.catalog.clearCache()
        }
    })
    liveCaches.getOrElseUpdate(df.sparkSession, scala.collection.mutable.Buffer.empty) += df
    df
  }

  /** Unpersists every cache tracked on this session (called by each
    * SparkEntry query wrapper at entry, freeing the previous query's).
    * BLOCKING (r12): the async variant let a timed query start while its
    * predecessor's blocks still occupied the block store, so mid-pass
    * queries ran with partially-stolen storage memory — cache eviction
    * there silently RECOMPUTES the evicted partitions (the multi-
    * consumer caches this tracks are exactly the expensive ones), one
    * suspected driver of the measured isolated-vs-in-bench gap (e.g.
    * dedup_ngram_jaccard 8.5 s isolated vs 47.9 s inside the r11
    * 171-key pass at sf5, ~5x the CPU on the identical plan). Dropping
    * blocks is cheap; waiting for it is the deterministic choice. */
  def sweepCaches(spark: SparkSession): Unit = synchronized {
    liveCaches.remove(spark).foreach(_.foreach(_.unpersist(blocking = true)))
  }

  /** A self-cleaning scratch directory: created now, recursively deleted
    * at JVM exit. Round-15 lesson: 1000+ per-run temp dirs (each bench
    * JVM's warehouse carries a full 500 MB shingle layout at sf ≥ 5, and
    * the warehouse-operator keys leave data-scale staging dirs behind)
    * had accumulated ~26 GB across rounds until a zipf-graph probe died
    * ENOSPC mid-spill — scratch space must be bounded by construction
    * (one JVM's lifetime), not by manual sweeps. Deletion is at EXIT,
    * not eager: within a run every consumer may still re-read the
    * layout.
    *
    * Deletion is delegated to [[TempSweep]] — ONE hook, ONE walk
    * (`Files.walk` does not follow symlinks, so a symlink inside a
    * scratch dir can never delete its target's contents). Round-15's
    * first cut re-inlined a per-call hook here, which both violated
    * TempSweep's single-registry contract and registered hundreds of
    * shutdown threads per bench JVM. */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    TempSweep.register(p)
    p
  }

  /** Like [[scratchDir]] but registers NO deleter at all — for callers
    * that own an ORDERED cleanup of the dir (JdbcUpsertSink's single
    * quiesce-then-delete hook must be the only deleter of Derby dirs;
    * a concurrent sweep races the engine's checkpoint-on-exit, which
    * can recreate log files mid-walk). */
  def scratchDirUnmanaged(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  /** Registers graft functions on a session graft did not build (e.g. the
    * driver-owned session handed to SparkEntry.queries). Idempotent. */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val hammingId = new FunctionIdentifier("hamming64")
    if (!reg.functionExists(hammingId)) {
      reg.registerFunction(
        hammingId,
        new ExpressionInfo(classOf[HammingDistance64].getName, "hamming64"),
        (children: Seq[Expression]) => HammingDistance64(children(0), children(1)))
    }
    val dotId = new FunctionIdentifier("dot_product")
    if (!reg.functionExists(dotId)) {
      reg.registerFunction(
        dotId,
        new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
        (children: Seq[Expression]) => DotProduct(children(0), children(1)))
    }
    val simhashId = new FunctionIdentifier("simhash64")
    if (!reg.functionExists(simhashId)) {
      reg.registerFunction(
        simhashId,
        new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
        (children: Seq[Expression]) => SimHash64(children.head))
    }
    val minhashId = new FunctionIdentifier("minhash32")
    if (!reg.functionExists(minhashId)) {
      reg.registerFunction(
        minhashId,
        new ExpressionInfo(classOf[MinHash32].getName, "minhash32"),
        (children: Seq[Expression]) => MinHash32(children.head))
    }
    val cdcId = new FunctionIdentifier("cdc_chunks")
    if (!reg.functionExists(cdcId)) {
      reg.registerFunction(
        cdcId,
        new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
        (children: Seq[Expression]) => CdcChunks(children.head))
    }
    val gramId = new FunctionIdentifier("gram_stats")
    if (!reg.functionExists(gramId)) {
      reg.registerFunction(
        gramId,
        new ExpressionInfo(classOf[GramStats].getName, "gram_stats"),
        (children: Seq[Expression]) => GramStats(children(0),
          children(1).eval().asInstanceOf[Number].intValue))
    }
    val charId = new FunctionIdentifier("char_stats")
    if (!reg.functionExists(charId)) {
      reg.registerFunction(
        charId,
        new ExpressionInfo(classOf[CharStats].getName, "char_stats"),
        (children: Seq[Expression]) => CharStats(children.head))
    }
    val sicId = new FunctionIdentifier("sorted_intersect_count")
    if (!reg.functionExists(sicId)) {
      reg.registerFunction(
        sicId,
        new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
        (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1)))
    }
    TopKPerKeyExtension.install(spark)
  }
}
