package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The ONE place graft crosses Spark's `private[sql]` line: wrapping a
  * Catalyst `Expression` into a public `Column` (and back), a logical
  * plan into a `DataFrame` (a rewritten plan has no SQL text), and
  * cloning a session (a conf scoped to one streaming query). Every other
  * graft expression is registered in the function registry and reached
  * through SQL text, but an expression carrying a non-SQL-expressible
  * constructor argument — a `Broadcast` handle, e.g.
  * [[graft.functions.BloomMightContain]] — cannot be built from text, and
  * embedding the payload as a binary literal instead would ship it in the
  * plan string (megabytes of hex in every explain) rather than through
  * the broadcast machinery.
  *
  * `classic.ExpressionUtils.column/expression`, `classic.Dataset.ofRows`
  * and `SparkSession.cloneSession` are exactly what the DataFrame API and
  * the streaming engine themselves call; `private[sql]` (and the
  * `private[spark]` listener bus [[cloneSession]] tidies) compiles to
  * public bytecode and this file lives in `org.apache.spark.sql` solely
  * to satisfy the Scala access check. No Spark internals are
  * re-implemented here.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** A new session sharing `spark`'s context and cached data, with a copy
    * of its conf, functions and temp views: a conf set on the clone never
    * reaches `spark`.
    *
    * A streaming query started on the clone reports to `spark`'s
    * `StreamingQueryListener`s, and only to them, as if `spark` had
    * started it: the clone's own listeners are dropped, and its
    * query-started event is re-posted to `spark`'s listener bus, which
    * then follows that query's progress and termination on the shared
    * Spark bus. `spark.streams.active` does not list such a query. */
  def cloneSession(spark: SparkSession): SparkSession = {
    val caller = spark.asInstanceOf[classic.SparkSession]
    val clone = caller.cloneSession()
    val streams = clone.streams
    streams.listListeners().foreach(streams.removeListener)
    val forward = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        caller.streams.postListenerEvent(e)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    streams.addListener(forward)
    // The started event reaches `forward` directly, never through the
    // shared bus, and `forward` ignores every other event: the clone's
    // own bus comes off the shared bus, where one per clone would pile up.
    val shared = caller.sparkContext.listenerBus
    shared.findListenersByClass[StreamingQueryListenerBus]()
      .filter(_.listeners.contains(forward))
      .foreach(shared.removeListener)
    clone
  }
}
