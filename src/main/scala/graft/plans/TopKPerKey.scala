package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.IntegerType

/** Per-key top-k as a first-class operator.
  *
  * The declarative spelling of "top k rows per key" is
  * {{{
  *   df.withColumn("rnk", row_number().over(Window.partitionBy(key).orderBy(ord)))
  *     .filter(col("rnk") <= k)
  * }}}
  * which Spark executes as WindowExec: shuffle on key, then FULL SORT of
  * every partition, then rank + filter. At 100 TB the sort is the
  * bottleneck — O(n log n) over all rows when only k per key survive.
  *
  * [[TopKPerKeyRewrite]] recognizes exactly that pattern (row_number only —
  * rank/dense_rank have different tie semantics) and replaces it with
  * [[TopKPerKey]], planned by [[TopKPerKeyStrategy]] into
  * [[TopKPerKeyExec]]: one shuffle on the key (same as before), then an
  * O(n log k) bounded heap per key and NO partition sort. Results are
  * identical whenever the window ordering is total (ties, as with any
  * row_number, are otherwise arbitrary in both implementations).
  *
  * The rewrite is a pure optimization: sessions without it fall back to
  * WindowExec with the same output, so correctness never depends on the
  * extension being installed.
  *
  * MEMORY MODEL (the trade against WindowExec): the heap map holds
  * O(distinct-keys-per-partition x k) rows on-heap and does NOT spill,
  * where WindowExec's sort would. That is the right trade when k is small
  * (the top-N patterns this engine emits: k <= 20) — at 10^6 keys/partition
  * x k=20 x ~100 B rows it is ~2 GB, bounded by sizing partitions like any
  * hash aggregation. To keep the no-spill surface small the rewrite only
  * fires for k <= [[TopKPerKeyRewrite.MaxK]]; larger bounds keep the
  * spill-capable WindowExec plan.
  */
final case class TopKPerKey(
    k: Int,
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

final case class TopKPerKeyExec(
    k: Int,
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionSpec) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val childOutput = child.output
    val partSpec = partitionSpec
    val ordSpec = orderSpec
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(partSpec, childOutput)
      val ordering = GenerateOrdering.generate(ordSpec, childOutput)
      // PriorityQueue dequeues the MAX under the ordering = the worst
      // retained row, so eviction of the loser is O(log k)
      val heapOrd: Ordering[InternalRow] = ordering
      val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]()
      iter.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](heapOrd)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) {
          heap.enqueue(row.copy())
        } else if (ordering.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      val it = heaps.values().iterator()
      new Iterator[InternalRow] {
        private var current: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = current.hasNext || it.hasNext
        override def next(): InternalRow = {
          if (!current.hasNext) {
            val sorted = it.next().dequeueAll.reverse // ascending by ordering
            var rank = 0
            current = sorted.iterator.map { row =>
              rank += 1
              rankRow.update(0, rank)
              outProj(joined(row, rankRow))
            }
          }
          numOutputRows += 1
          current.next()
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Optimizer rule: Filter(row_number <= k) over Window(row_number) →
  * [[TopKPerKey]]. Conservative: fires only when the window has exactly one
  * window expression, it is row_number() over the standard frame, and the
  * filter condition is a simple bound on that attribute. */
object TopKPerKeyRewrite extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window => LWindow}

  /** Largest k the bounded-heap operator accepts: per-partition memory is
    * keys x k rows with no spill path, so a large k belongs in WindowExec
    * (which sorts and spills) rather than here. */
  val MaxK = 1024

  private def asBound(cond: Expression, rankAttr: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rankAttr) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rankAttr) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rankAttr) => Some(v)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        w @ LWindow(Seq(alias @ Alias(WindowExpression(_: RowNumber,
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)),
          partitionSpec, orderSpec, child, _)) if orderSpec.nonEmpty =>
      asBound(cond, alias.toAttribute) match {
        case Some(k) if k > 0 && k <= MaxK =>
          TopKPerKey(k, partitionSpec, orderSpec, alias.toAttribute, child)
        case _ => f
      }
  }
}

/** Plans the logical [[TopKPerKey]] node. */
object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, partitionSpec, orderSpec, rankAttr, child) =>
      TopKPerKeyExec(k, partitionSpec, orderSpec, rankAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKeyExtension {
  /** Installs rewrite + strategy on any session (idempotent) — usable on
    * driver-owned sessions via the public experimental hooks. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(TopKPerKeyRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKPerKeyRewrite
    }
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
  }
}
