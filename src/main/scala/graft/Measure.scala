package graft

import scala.collection.mutable

import org.apache.spark.GraftBusFlush
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What one measured unit of work did: its wall seconds, the Spark jobs
  * it started (count and summed job wall), one row per stage it ran, the
  * streaming progress its queries reported (see [[Measure.StreamListener]])
  * and the generated-code classes compiled meanwhile (JVM-wide: Spark's
  * `CodegenMetrics` count every session's compiles). */
final case class Measured(wallS: Double, jobs: Int, jobWallMs: Long,
                          stages: Seq[Measured.Stage],
                          progress: Seq[StreamingQueryProgress],
                          compiles: Long = 0L) {
  def taskMs: Long = stages.map(_.taskMs).sum
  def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
}

object Measured {
  /** One stage (all its attempts): the job that submitted it (-1 if its
    * job started before the measurement), its first name line, stage wall
    * and summed task run time, shuffle and input bytes, and task count. */
  final case class Stage(id: Int, job: Int, name: String, wallMs: Long, taskMs: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         inputBytes: Long, tasks: Int)
}

/** The one measurement layer of the engine's tools: [[during]] wraps a
  * unit of work in one [[SparkListener]] and returns what it did as a
  * [[Measured]]. The listener bus is drained (not slept on) before and
  * after the body, so every event the body caused is counted and none
  * from before it is. `Dev prof`, the scale soaks and the specs' job-count
  * bounds all read their numbers here. */
object Measure {

  /** Runs `body` and returns its result with what it did. The wall time
    * covers the body and the trailing drain. */
  def during[T](spark: SparkSession)(body: => T): (T, Measured) = {
    val sc = spark.sparkContext
    GraftBusFlush.flush(sc)
    progress.clear()
    val l = new Listener
    sc.addSparkListener(l)
    try {
      val c0 = compiled
      val t0 = System.nanoTime()
      val out = body
      GraftBusFlush.flush(sc)
      val wallS = (System.nanoTime() - t0) / 1e9
      val evs = mutable.ArrayBuffer.empty[StreamingQueryProgress]
      progress.forEach(evs += _)
      (out, l.result(wallS, evs.toSeq).copy(compiles = compiled - c0))
    } finally sc.removeSparkListener(l)
  }

  /** Generated-code classes compiled in this JVM so far. */
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private final class Listener extends SparkListener {
    private final class Stage(val id: Int) {
      var name = "?"
      var wallMs, taskMs, shufR, shufW, input = 0L
      var tasks = 0
    }
    private val stages = mutable.LinkedHashMap.empty[Int, Stage]
    private val jobOfStage = mutable.Map.empty[Int, Int]
    private val jobWall = mutable.LinkedHashMap.empty[Int, Long]

    private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      j.stageIds.foreach(s => jobOfStage(s) = j.jobId)
      jobWall(j.jobId) = -j.time
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobWall(j.jobId) = jobWall.getOrElse(j.jobId, 0L) + j.time
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val r = stage(si.stageId)
      r.name = si.name.takeWhile(_ != '\n')
      r.wallMs += si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
      r.tasks += si.numTasks
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val m = te.taskMetrics
      if (m != null) {
        val r = stage(te.stageId)
        r.taskMs += m.executorRunTime
        r.shufR += m.shuffleReadMetrics.totalBytesRead
        r.shufW += m.shuffleWriteMetrics.bytesWritten
        r.input += m.inputMetrics.bytesRead
      }
    }

    def result(wallS: Double, progress: Seq[StreamingQueryProgress]): Measured = synchronized {
      Measured(wallS, jobWall.size, jobWall.values.filter(_ > 0).sum,
        stages.values.toSeq.map(r => Measured.Stage(r.id, jobOfStage.getOrElse(r.id, -1),
          r.name, r.wallMs, r.taskMs, r.shufR, r.shufW, r.input, r.tasks)),
        progress.sortBy(p => (p.timestamp, String.valueOf(p.name), p.batchId)))
    }
  }

  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  /** Queues every streaming micro-batch's progress for [[during]]. It is
    * registered by conf (`spark.sql.streaming.streamingQueryListeners`,
    * hence the no-arg constructor), not by `addListener`: streaming
    * entries run on `newSession()` children, each with its own
    * StreamingQueryManager that instantiates listeners from that conf, so
    * a listener added to the root session would never see their queries.
    * Without the conf, [[Measured.progress]] stays empty. */
  class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
