package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** The update-mode writer that [[ParquetUpsertSink]] and [[JdbcUpsertSink]]
  * attach through: one micro-batch per drain of what the source holds.
  *
  * After a data batch that moves the watermark, Structured Streaming runs
  * a no-data micro-batch (a planned job with no input) only to evict
  * expired state. In update mode an aggregation emits nothing in it, and
  * the next data batch evicts under the same watermark, so the sink's
  * contents do not change without it. The writer therefore runs the query
  * on a clone of the caller's session with
  * `spark.sql.streaming.noDataMicroBatches.enabled` = false; the caller's
  * own conf is never touched.
  *
  * The clone is taken here, so a conf the caller sets after `attach` and
  * before `start()` does not reach the query. The query belongs to the
  * clone's `streams` manager: the caller's `spark.streams` does not list
  * it; use the `StreamingQuery` that `start()` returns.
  *
  * Only for aggregations: an operator that emits on a timer
  * (`flatMapGroupsWithState` timeouts) emits in no-data batches.
  */
private[streaming] object UpdateModeWriter {
  def apply(aggregated: DataFrame): DataStreamWriter[Row] = {
    val lean = GraftSqlBridge.cloneSession(aggregated.sparkSession)
    lean.conf.set(SQLConf.STREAMING_NO_DATA_MICRO_BATCHES_ENABLED.key, "false")
    GraftSqlBridge.frame(lean, aggregated.queryExecution.logical)
      .writeStream
      .outputMode(OutputMode.Update())
  }
}
