package graft

import scala.collection.concurrent.TrieMap
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loaders for the driver's TPC-H-ish star schema.
  *
  * Column pruning + predicate pushdown happen automatically because callers
  * select/filter on the returned (lazy) DataFrame before any action — check
  * `.explain("formatted")`: `ReadSchema` must list only the used columns and
  * `PushedFilters` must carry the query predicates.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = read(name)._1

  /** The table `name` read with its memoized schema, and its layout. */
  private def read(name: String): (DataFrame, Tables.Layout) = {
    val path = s"$dir/$name.parquet"
    val layout = Tables.layout(spark, path)
    (spark.read.schema(layout.schema).parquet(path), layout)
  }

  /** Gated scatter for the compute-heavy per-row tables (documents,
    * embeddings). The driver's testdata writes each table as ONE parquet
    * row group — one scan split, so every tokenize/shingle/dot-product
    * pass downstream would run on a single core no matter how declarative
    * the plan is. When the scan yields fewer splits than the cluster has
    * slots, redistribute once so map-side compute uses every core; on a
    * real many-split 100 TB table the gate makes this a no-op (the scan
    * already feeds the cluster), so the extra shuffle is only ever paid
    * when it buys parallelism that the file layout withheld. */
  private def scattered(name: String): DataFrame = {
    val (df, layout) = read(name)
    val slots = spark.sparkContext.defaultParallelism
    // the split-count probe (`df.rdd.getNumPartitions`) forces a full
    // physical-planning + RDD-conversion pass, so it is memoized with the
    // table's layout (which a rewrite of the files replaces). The count
    // is also a function of the session's file-split configs, so they
    // key it — two sessions in one JVM with different maxPartitionBytes
    // (or a different parallelism) must not share a count, or the gate
    // would silently skip/apply the scatter under the wrong plan shape.
    // plain .get (no custom default): these are registered confs, and
    // Spark 4 type-validates any caller-supplied default string
    val key = (spark.conf.get("spark.sql.files.maxPartitionBytes"),
      spark.conf.get("spark.sql.files.openCostInBytes"), slots)
    val splits = layout.splits.getOrElseUpdate(key, df.rdd.getNumPartitions)
    if (splits < slots) df.repartition(slots) else df
  }

  // Relational tables are NOT scattered, measured deliberately: their
  // queries either collapse rows map-side before any exchange (partial
  // aggregation over a handful of keys) or shuffle on a join/window key
  // anyway, so a scatter only adds a raw-row shuffle in front (q1/q3/
  // sessionize each measured ~1 s slower at sf0.1 with it). The scatter
  // pays only where per-row COMPUTE dominates the scan — the text and
  // vector tables below.
  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 only reads via
    * the nanosAsLong legacy conf (runtime-settable, so we set it here and
    * it works on driver-owned sessions too). The raw nanos are truncated to
    * microseconds — exactly what a native TimestampType read would hold. */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.withMicrosTs(t("events"))
  }
  def documents: DataFrame = scattered("documents")
  def embeddings: DataFrame = scattered("embeddings")
}

object Tables {
  /** What one table's files fix: the schema Spark infers from them, and
    * the scan split counts [[Tables.scattered]] probed, per split-config
    * key (maxPartitionBytes, openCostInBytes, parallelism). */
  private[graft] final case class Layout(schema: StructType,
      splits: TrieMap[(String, String, Int), Int] = TrieMap.empty)

  /** The confs that change the schema Spark infers from parquet footers. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private val layouts = TrieMap.empty[(String, Seq[(String, Long, Long)], Seq[String]), Layout]

  /** The layout of the parquet table at `path`. Schema inference is a
    * Spark job (a footer read), so each table is inferred once. The memo
    * key is the table's files — name, size and modification time of each
    * — and the inference confs, so rewritten files or a changed conf
    * infer afresh and nothing needs an explicit clear. */
  private[graft] def layout(spark: SparkSession, path: String): Layout = {
    val key = (path, files(spark, path), inferenceConfs.map(spark.conf.get))
    layouts.getOrElseUpdate(key, Layout(spark.read.parquet(path).schema))
  }

  /** (name, size, mtime) of every file under `path`, sorted; empty when
    * `path` does not exist (the read then fails with Spark's own error). */
  private def files(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new HadoopPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => }
    out.result().sorted
  }

  /** The `ts` rebuild for an events frame, batch or stream: a nanos long
    * (the TIMESTAMP(NANOS) layout read under nanosAsLong) becomes a
    * microsecond timestamp; a native timestamp column passes through. */
  def withMicrosTs(events: DataFrame): DataFrame = events.schema("ts").dataType match {
    case LongType => events.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case _ => events
  }
}
