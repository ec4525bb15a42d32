package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark-side counts for the traced run, recorded from the
  * benchmark's side of each call into the program. Spans stay in memory and
  * are written out once, when the run ends.
  *
  * Attribution: the driver thread sets the local property [[UnitKey]] to the
  * enclosing span's key before each call, so every job (and its stages and
  * tasks) is charged to that span. Jobs a streaming micro-batch runs carry
  * Spark's own batch-id property instead and are charged to `batch-<id>`.
  * Query executions (planning phases, sink writes, binaryFile scan rows)
  * carry no properties and are charged by time to the span holding their
  * start.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans = new mutable.ArrayBuffer[Span]
  private val open = new mutable.Stack[Int]
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val stages = new ConcurrentLinkedQueue[(String, Int)]
  val executions = new ConcurrentLinkedQueue[ExecRec]
  val progress = new ConcurrentLinkedQueue[ProgressRec]

  private val counts = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  /** Records one observation of a count made at a layer boundary. */
  def count(name: String, v: Double): Unit =
    counts.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  def countMean(name: String): Double =
    counts.get(name).map(b => b.sum / b.size).getOrElse(0.0)

  private val stageUnit = new java.util.concurrent.ConcurrentHashMap[Int, String]

  // Time spent inside the listener callbacks below: the tracing overhead
  // the listeners add to the run.
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong
  private def timedCallback(body: => Unit): Unit = {
    val s = System.nanoTime()
    try body finally listenerNs.addAndGet(System.nanoTime() - s)
  }
  def listenerS: Double = listenerNs.get / 1e9

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedCallback {
      val p = Option(e.properties)
      val unit = p.flatMap(x => Option(x.getProperty(BatchIdKey))).map(b => s"batch-$b")
        .orElse(p.flatMap(x => Option(x.getProperty(UnitKey)))).getOrElse("")
      e.stageIds.foreach(s => stageUnit.put(s, unit))
      jobs.add(JobRec(unit, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timedCallback {
      stages.add((stageUnit.getOrDefault(e.stageInfo.stageId, ""), e.stageInfo.stageId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(stageUnit.getOrDefault(e.stageId, ""),
        m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timedCallback(executions.add(execRec(qe, durationNs)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timedCallback {
        val p = e.progress
        progress.add(ProgressRec(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains Spark's listener bus so every event of finished work is in. */
  def flush(): Unit = org.apache.spark.PerfbenchBus.flush(spark.sparkContext)

  /** Runs `body` as a span; jobs it starts are charged to the span's key. */
  def span[A](name: String, id: String)(body: => A): A = {
    val idx = spans.size
    val key = s"$id/$name"
    spans += Span(name, id, if (open.isEmpty) -1 else open.top, nowMs(), 0.0, key)
    open.push(idx)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(UnitKey)
    sc.setLocalProperty(UnitKey, key)
    try body finally {
      sc.setLocalProperty(UnitKey, prev)
      open.pop()
      spans(idx) = spans(idx).copy(end = nowMs())
    }
  }

  /** Adds a span measured elsewhere (a write seen by the execution
    * listener, a micro-batch phase from a progress event). */
  def addSpan(name: String, id: String, parent: Int, start: Double, end: Double): Int = {
    spans += Span(name, id, parent, start, end, s"$id/$name")
    spans.size - 1
  }
}

object Trace {
  val UnitKey = "perfbench.unit"
  val BatchIdKey = "streaming.sql.batchId"

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs(): Double = base + System.nanoTime() / 1e6

  case class Span(name: String, id: String, parent: Int, start: Double, end: Double,
                  key: String)
  case class JobRec(unit: String, jobId: Int)
  case class TaskRec(unit: String, runMs: Long, gcMs: Long, shuffleWrite: Long,
                     spill: Long)
  /** One finished query execution: when it started planning, how long it
    * ran, its planning-phase time, the path it wrote (if a file write) with
    * the write's rows/files/bytes, and binaryFile rows scanned. */
  case class ExecRec(startMs: Double, durationMs: Double, planningMs: Long,
                     outputPath: String, rows: Long, files: Long, bytes: Long,
                     binaryRows: Long)
  case class ProgressRec(batchId: Long, startMs: Double, durationMs: Map[String, Long],
                         inputRows: Long)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def execRec(qe: QueryExecution, durationNs: Long): ExecRec = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
      else phases.values.map(_.startTimeMs).min
    val planning = phases.values.map(_.durationMs).sum
    val plan = qe.executedPlan
    val writes = PlanWalk.collect(plan) { case w: DataWritingCommandExec => w }
    val (path, rows, files, bytes) = writes.headOption.map { w =>
      val p = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case _ => ""
      }
      val m = w.cmd.metrics
      def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
      (p, v("numOutputRows"), v("numFiles"), v("numOutputBytes"))
    }.getOrElse(("", 0L, 0L, 0L))
    val binaryRows = PlanWalk.collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] =>
        metric(s, "numOutputRows")
    }.sum
    ExecRec(start.toDouble, durationNs / 1e6, planning, path, rows, files, bytes, binaryRows)
  }
}
