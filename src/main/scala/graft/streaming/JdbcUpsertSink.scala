package graft.streaming

import java.sql.{DriverManager, SQLException}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** A REAL JDBC keyed-upsert sink — the warehouse-MERGE rendition of
  * [[ParquetUpsertSink]]'s contract, executed against an actual database
  * over JDBC. Embedded Derby plays the database here (it ships on Spark's
  * classpath for the Hive metastore), but the SQL is a portable keyed
  * DELETE+INSERT inside one transaction, so any JDBC target works; on
  * warehouses with MERGE the two statements collapse into one.
  *
  * IMPORTANT — embedded Derby is LOCAL-MODE-ONLY: a `jdbc:derby:<path>`
  * URL without a host opens a database file-path-local to whichever JVM
  * runs the statement. In `local[*]` executors share the driver JVM, so
  * writes and the driver's read-back see the same files; on a real
  * cluster each executor would `create=true` its own empty database on
  * its own disk and the writes would silently vanish. Cluster
  * deployments MUST use a network JDBC URL (client/server Derby,
  * Postgres, a warehouse endpoint, ...). [[upsertBatch]] enforces this:
  * an embedded-Derby URL on a non-local master throws rather than
  * losing data silently.
  *
  * Exactly-once: Structured Streaming replays an uncommitted micro-batch
  * with the SAME deterministic content, and the keyed upsert overwrites
  * the same keys with the same values — a replay is a no-op (the spec
  * proves it by double-applying a batch, the same drill
  * ParquetUpsertSinkSpec runs on the parquet rendition).
  *
  * Scale shape: the write runs `foreachPartition` on the EXECUTORS — one
  * connection and one prepared-statement batch per partition, the same
  * shape Spark's own JDBC writer uses; nothing is collected to the
  * driver. Requirement: at most one row per key per call (update-mode
  * aggregation guarantees it; `dropDuplicates(keys)` upstream otherwise).
  */
object JdbcUpsertSink {

  /** Derby-owned scratch dirs, deleted ONLY by the single
    * quiesce-then-delete hook armed below. JVM shutdown hooks run
    * concurrently with no ordering, so the engine shutdown (Derby's
    * checkpoint-on-exit could otherwise recreate log files mid-sweep) and
    * the delete walk MUST share one hook — never TempSweep, never a
    * generic [[graft.GraftSession.scratchDir]] hook (a concurrent sweep
    * reintroduces the race). A successful engine shutdown SIGNALS by
    * throwing SQLState XJ015 — swallowed here. */
  private val derbyDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val derbyHookArmed = new java.util.concurrent.atomic.AtomicBoolean
  private def derbyScratch(prefix: String): java.nio.file.Path = {
    val p = graft.GraftSession.scratchDirUnmanaged(prefix)
    derbyDirs.add(p)
    if (derbyHookArmed.compareAndSet(false, true)) {
      sys.addShutdownHook {
        try DriverManager.getConnection("jdbc:derby:;shutdown=true")
        catch { case _: Throwable => () }
        derbyDirs.forEach(graft.TempSweep.deleteRecursively)
      }
      ()
    }
    p
  }

  /** Keep Derby's engine log out of the repo working directory (the
    * embedded engine writes `derby.log` to `derby.system.home`). */
  private def quietDerby(): Unit =
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        derbyScratch("graft-derby-home").toString)

  /** One embedded database per JVM, created lazily under a temp dir that
    * the ordered Derby hook removes. Derby database CREATION
    * (`create=true`) builds the entire system catalog — seconds of
    * driver-side wall time — so a fresh database per invocation dominates
    * any small upsert. Callers that need a clean slate [[dropTable]] +
    * [[ensureTable]] their own table inside this shared database instead
    * (milliseconds, not seconds). */
  lazy val sharedEmbeddedUrl: String = {
    quietDerby()
    val root = derbyScratch("graft-derby-shared")
    s"jdbc:derby:${root.resolve("db")};create=true"
  }

  /** Drops `table` if it exists (Derby has no IF EXISTS; the missing-table
    * SQLSTATE is swallowed). Pairs with [[ensureTable]] for a per-invocation
    * clean slate inside [[sharedEmbeddedUrl]]. */
  def dropTable(url: String, table: String): Unit = {
    quietDerby()
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $table")
      catch { case e: SQLException if e.getSQLState == "42Y55" => () } // absent
      finally st.close()
    } finally conn.close()
  }

  /** Embedded (in-JVM, file-path) Derby URL: `jdbc:derby:` NOT followed by
    * a subprotocol with a host (the `jdbc:derby://host` and
    * `jdbc:derby:net:host` client/server forms). Such a URL only makes
    * sense when executors share the driver JVM — see the class doc. */
  private[streaming] def isEmbeddedDerby(url: String): Boolean =
    url.startsWith("jdbc:derby:") &&
      !url.startsWith("jdbc:derby://") &&
      !url.startsWith("jdbc:derby:net:")

  private def requireLocalForEmbedded(spark: SparkSession, url: String): Unit = {
    val master = spark.sparkContext.master
    require(!isEmbeddedDerby(url) || master.startsWith("local"),
      s"embedded-Derby URL '$url' is local-mode-only (each executor JVM would " +
        s"open its own empty database); master is '$master' — use a network " +
        "JDBC URL (client/server Derby or a real warehouse) on a cluster")
  }

  private def sqlType(dt: DataType): String = dt match {
    case StringType => "VARCHAR(4000)"
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case other => throw new IllegalArgumentException(s"no JDBC mapping for $other")
  }

  /** Creates the target table from the frame's schema (no-op if it already
    * exists — Derby has no IF NOT EXISTS, so the already-exists SQLSTATE is
    * swallowed). */
  def ensureTable(url: String, table: String, schema: StructType): Unit = {
    quietDerby()
    val cols = schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE $table ($cols)")
      catch { case e: SQLException if e.getSQLState == "X0Y32" => () } // exists
      finally st.close()
    } finally conn.close()
  }

  /** One idempotent keyed upsert of `batch` into `table`: per partition,
    * one transaction of batched `DELETE WHERE key` + `INSERT`. Public so a
    * replay can be simulated in tests by applying the same frame twice. */
  def upsertBatch(batch: DataFrame, url: String, table: String,
      keyCols: Seq[String]): Unit = {
    quietDerby()
    requireLocalForEmbedded(batch.sparkSession, url)
    val schema = batch.schema
    val names = schema.fieldNames.toSeq
    val keyIdx = keyCols.map(schema.fieldIndex)
    val deleteSql =
      s"DELETE FROM $table WHERE " + keyCols.map(k => s"$k = ?").mkString(" AND ")
    val insertSql =
      s"INSERT INTO $table (${names.mkString(", ")}) VALUES (${names.map(_ => "?").mkString(", ")})"
    batch.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(deleteSql)
          val ins = conn.prepareStatement(insertSql)
          rows.foreach { r =>
            keyIdx.zipWithIndex.foreach { case (ki, p) => del.setObject(p + 1, r.get(ki)) }
            del.addBatch()
            names.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
            ins.addBatch()
          }
          del.executeBatch()
          ins.executeBatch()
          conn.commit()
          del.close(); ins.close()
        } finally conn.close()
      }
    }
  }

  /** Attach the sink to an update-mode aggregated stream: each micro-batch
    * MERGEs (delete+insert) into the JDBC table, keyed. Like
    * [[ParquetUpsertSink.attach]], one micro-batch per drain, on a clone
    * of the caller's session taken here: see [[UpdateModeWriter]]. */
  def attach(aggregated: DataFrame, url: String, table: String,
      keyCols: Seq[String]): DataStreamWriter[Row] =
    UpdateModeWriter(aggregated)
      .foreachBatch((batch: DataFrame, _: Long) => upsertBatch(batch, url, table, keyCols))

  /** Reads the table back through Spark's JDBC source (the state a
    * downstream consumer sees). Derby reports uppercase identifiers;
    * callers re-alias as needed. */
  def read(spark: SparkSession, url: String, table: String,
      driver: String = "org.apache.derby.jdbc.EmbeddedDriver"): DataFrame = {
    quietDerby()
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).option("driver", driver)
      .load()
  }
}
