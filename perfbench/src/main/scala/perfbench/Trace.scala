package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call the benchmark makes into a layer of the engine. */
final case class Span(id: Int, parent: Int, op: Long, layer: String, name: String, startNs: Long, endNs: Long)

/** One unit of workload work (a point op, a rebuild, a micro-batch), with its
  * wall-clock window for attributing Spark jobs and query executions. */
final case class Op(id: Long, kind: String, startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, desc: String, stages: Seq[Int])
final case class StageRec(id: Int, var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
    var inputBytes: Long = 0, var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
    var spill: Long = 0, durations: ArrayBuffer[Long] = ArrayBuffer.empty)
final case class QeRec(analysisMs: Double, optimizationMs: Double, planningMs: Double,
    startMs: Long, filesRead: Long)
final case class BatchRec(query: String, batchId: Long, timestampMs: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateBytes: Long)

/** In-memory tracing, switched on only for traced runs: spans recorded from
  * the benchmark's own call sites, a SparkListener for jobs, stages and task
  * metrics, a QueryExecutionListener for the analysis/optimization/planning
  * phases and scan-node file counts, and a StreamingQueryListener for
  * micro-batch phases and state size. Nothing here is installed into the
  * engine; it all hangs off the session the benchmark builds. */
object Trace {
  @volatile var on: Boolean = false
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val jobs: ArrayBuffer[JobRec] = ArrayBuffer.empty
  val stages: scala.collection.mutable.Map[Int, StageRec] = scala.collection.mutable.Map.empty
  val qes: ArrayBuffer[QeRec] = ArrayBuffer.empty
  val batches: ArrayBuffer[BatchRec] = ArrayBuffer.empty

  private var nextSpan = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val currentOp = new ThreadLocal[Long] { override def initialValue(): Long = -1L }

  def withOp[T](op: Long)(body: => T): T = {
    currentOp.set(op)
    try body finally currentOp.set(-1L)
  }

  /** Time `body` as a span of `layer`; free when tracing is off. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextSpan += 1; nextSpan }
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized { spans += Span(id, parent, currentOp.get(), layer, name, t0, t1) }
      }
    }

  /** Self time per span: its duration minus the union of its children's. */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> ((s.endNs - s.startNs) - Stats.unionLength(cs))
    }.toMap
  }

  /** Files the executed plan's file scans read (their `numFiles` metric). */
  private def scanFiles(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case q: QueryStageExec => scanFiles(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(scanFiles).sum
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (on) Trace.synchronized {
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs += JobRec(e.jobId, e.time, -1L, desc, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) Trace.synchronized {
        val s = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
        val m = e.taskMetrics
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.durations += e.taskInfo.duration
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        val start = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
        val files = scanFiles(qe.executedPlan)
        Trace.synchronized { qes += QeRec(ms("analysis"), ms("optimization"), ms("planning"), start, files) }
      }
      override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
        val p = e.progress
        val d = p.durationMs
        val durations = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
        val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
        Trace.synchronized {
          batches += BatchRec(p.name, p.batchId, ts, durations, p.numInputRows,
            p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
        }
      }
    })
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Job intervals clipped to [startMs, endMs]. */
  def jobIntervals(startMs: Long, endMs: Long): Seq[(Long, Long)] = synchronized {
    jobs.toSeq.filter(j => j.startMs < endMs && (j.endMs < 0 || j.endMs > startMs))
      .map(j => (math.max(j.startMs, startMs), if (j.endMs < 0) endMs else math.min(j.endMs, endMs)))
  }
}
