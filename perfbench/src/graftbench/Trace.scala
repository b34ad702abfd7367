package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a graft module, timed on the client thread. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, endNs: Long)

/** Spans around each call the benchmark makes into graft. Spans are kept in
  * memory and written out when the run ends. While a span is open its id
  * is the SparkContext local property [[Tracer.SpanProperty]], so every job
  * the call launches (also from threads it starts, such as a streaming
  * query's) can be attributed to it. A disabled tracer runs the body and
  * records nothing. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  @volatile var sc: SparkContext = _

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val ctx = sc
      if (ctx != null) ctx.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (ctx != null && !ctx.isStopped)
          ctx.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.toString).orNull)
        done.synchronized { done += Span(id, name, layer, parent, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** Job, stage and task accounting owned by the benchmark (independent of
  * graft's own probes). Jobs are attributed to the span that was open when
  * they were submitted. */
final class SparkStats extends SparkListener {
  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  var stagesDone = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = Job(e.jobId, span, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobList: Seq[Job] = synchronized(jobs.values.toList)

  /** Wall time inside [t0, t1] during which at least one job ran. */
  def busyMs(t0: Long, t1: Long): Long = {
    val iv = jobList.map(j => (math.max(j.startMs, t0), math.min(if (j.endMs < 0) t1 else j.endMs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    busy + (curE - curS)
  }
}

/** Catalyst phase times of every query execution, read from its
  * `QueryPlanningTracker`, plus the duration of each write into a path
  * under `sinkRoot` (the streaming sink's micro-batch writes). */
final class PlanStats(sinkRoot: String) extends QueryExecutionListener {
  final case class Exec(durationMs: Double, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, sinkWrite: Boolean)
  val execs = new ConcurrentLinkedQueue[Exec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val sink = sinkRoot != null && qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.exists(_.contains(sinkRoot))
    execs.add(Exec(durationNs / 1e6, d("analysis"), d("optimization"), d("planning"), sink))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Every progress report of every streaming query. */
final class StreamStats extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The listeners of one traced measurement window. */
final class Probes(spark: SparkSession, sinkRoot: String) {
  val sparkStats = new SparkStats
  val plans = new PlanStats(sinkRoot)
  val streams = new StreamStats
  spark.sparkContext.addSparkListener(sparkStats)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  def close(): Unit = {
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkStats)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }
}

/** Machine-wide CPU time from /proc/stat (seconds; zeros where absent). */
final case class Cpu(busyS: Double, stealS: Double) {
  def -(o: Cpu): Cpu = Cpu(busyS - o.busyS, stealS - o.stealS)
}

object Cpu {
  def read(): Cpu =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      // cpu user nice system idle iowait irq softirq steal ...
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      val hz = 100.0
      val busy = f(0) + f(1) + f(2) + f(5) + f(6)
      Cpu(busy / hz, (if (f.length > 7) f(7) else 0L) / hz)
    } catch { case _: Exception => Cpu(0, 0) }
}

/** Old-generation occupancy after a full collection. */
object Heap {
  private def oldGen = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Two full collections with a pause between them, so objects that
    * Spark's ContextCleaner releases after the first are gone too. */
  def oldAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    oldGen.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}
