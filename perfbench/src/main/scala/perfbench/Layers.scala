package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.functions.udfs
import graft.ingestion.{MetadataPipeline, ZipExplode}
import graft.ingestion.model.{IngestionConfig, SkipGate, Zone}

/** Per-layer metrics of the traced run. Layers are the program's modules
  * and public functions: `scan` (MetadataPipeline.readZips), `explode`
  * (ZipExplode), `parse` (udfs.parse_properties), `state`
  * (MetadataPipeline.readState), `gates` and `process`
  * (MetadataPipeline.process), `sink` (the writes inside runBatch and
  * runStream), `spark` (scheduler work per unit), `stream` (runStream's
  * micro-batch phases) and `curate` (SparkEntry.queries entries).
  */
object Layers {
  val Gates: Seq[String] = Seq(SkipGate.AlreadyUploaded, SkipGate.WorkflowExists,
    SkipGate.IsbnFolderExists, SkipGate.DuplicateInBatch)

  /** Layer each span name is charged to for self time. */
  def layerOf(span: String): String = span match {
    case "state" | "scan" | "explode" | "parse" | "gates" | "process" => span
    case "runBatch" => "ingest"
    case s if s.startsWith("sink.") => "sink"
    case "batch" | "latestOffset" | "walCommit" | "queryPlanning" | "addBatch" |
         "commitOffsets" | "getBatch" => "stream"
    case "entry" => "curate"
    case _ => "bench"
  }
  val SelfLayers: Seq[String] = Seq("bench", "state", "scan", "explode", "parse",
    "gates", "process", "ingest", "sink", "stream", "curate")

  /** Layers forced on the backlog against an empty warehouse, and on a copy
    * of the first wave against the stream's history. */
  val BacklogForced: Set[String] = Set("scan", "explode", "parse", "process")
  val HistoryForced: Set[String] = Set("state", "gates")

  /** Forces the intermediate outputs of the layers in `forced` once each,
    * as its own span, without writing any sink: the traced run alone does
    * this. */
  def forceIngestLayers(c: Ctx, t: Trace, id: String, conf: IngestionConfig,
                        zips: Int, forced: Set[String]): Unit = {
    val spark = c.spark
    def span(name: String)(body: => Unit): Unit = if (forced(name)) t.span(name, id)(body)
    val state = MetadataPipeline.readState(spark, conf.warehouseDir)
    span("state") {
      val tables = Seq(state.raw, state.workflow, state.published)
      val rows = tables.map(_.count()).sum
      t.count("state.rows", rows.toDouble)
      t.count("state.files", tables.map(_.inputFiles.length).sum.toDouble)
      t.count("gates.history_rows_per_zip", rows.toDouble / zips)
    }
    val scan = MetadataPipeline.readZips(spark, conf.inputDir)
    span("scan") {
      val r = scan.agg(count(lit(1)), sum(length(col("content")))).head()
      t.count("scan.files", r.getLong(0).toDouble)
      t.count("scan.input_bytes", r.getLong(1).toDouble)
    }
    val entries = ZipExplode.entries(spark, scan).toDF()
    span("explode") {
      t.count("explode.entries", entries.count().toDouble)
    }
    span("parse") {
      t.count("parse.records", entries.filter(col("error").isNull)
        .select(size(udfs.parse_properties(col("bytes"))).as("n"))
        .filter(col("n") >= 0).count().toDouble)
    }
    val out = MetadataPipeline.process(spark, scan, state, conf,
      new Timestamp(System.currentTimeMillis()))
    span("gates") {
      val byGate = out.skipped.groupBy("gate").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Gates.foreach(g => t.count(s"gates.skipped.$g", byGate.getOrElse(g, 0L).toDouble))
    }
    span("process") {
      out.newWorkflow.write.format("noop").mode("overwrite").save()
    }
  }

  def treeBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Everything the traced run can compute in the JVM. The runner adds the
    * metrics that need the checkpoint log (poll attribution, generator
    * lateness) and the tracing overhead. */
  def of(t: Trace, result: Map[String, Any], cores: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def ms(k: String) = result.get(k).map(_.asInstanceOf[Double])
    val timedStart = ms("timed_start_ms").get
    val timedEnd = ms("timed_end_ms").get
    // The timed region: on `ingest` the drain's calls and the poll's waves,
    // without the stream's set-up between them; on `curate_llm` the passes.
    val region = (ms("drain_end_ms"), ms("poll_start_ms")) match {
      case (Some(d), Some(p)) => Seq(timedStart -> d, p -> timedEnd)
      case _ => Seq(timedStart -> timedEnd)
    }
    def timedAt(at: Double) = region.exists { case (a, b) => a - 1 <= at && at <= b }
    val pollStart = ms("poll_start_ms").getOrElse(timedStart)
    val execs = t.executions.toArray(new Array[Trace.ExecRec](0)).toSeq
    val tasks = t.tasks.toArray(new Array[Trace.TaskRec](0)).toSeq
    val jobs = t.jobs.toArray(new Array[Trace.JobRec](0)).toSeq
    val stages = t.stages.toArray(new Array[(String, Int)](0)).toSeq
    val progress = t.progress.toArray(new Array[Trace.ProgressRec](0)).toSeq
      .filter(p => p.startMs >= pollStart - 1 && p.inputRows > 0).sortBy(_.batchId)

    // Stream micro-batches become spans: phases laid end to end in the
    // order the engine runs them, sink writes under addBatch.
    progress.foreach { p =>
      val id = s"batch-${p.batchId}"
      val total = p.durationMs.getOrElse("triggerExecution", 0L).toDouble
      val b = t.addSpan("batch", id, -1, p.startMs, p.startMs + total)
      var at = p.startMs
      Seq("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch",
          "commitOffsets").foreach { ph =>
        val d = p.durationMs.getOrElse(ph, 0L).toDouble
        if (d > 0) t.addSpan(ph, id, b, at, at + d)
        at += d
      }
    }
    // Sink writes become child spans of the runBatch span or addBatch
    // phase whose interval holds their start.
    def sinkOf(path: String): Option[String] =
      Seq(Zone.Raw -> "raw", Zone.Workflow -> "workflow", Zone.DeadLetter -> "dead_letter")
        .collectFirst { case (z, n) if path.endsWith(s"/$z") => n }
    val hosts = t.spans.indices.filter(i => Set("runBatch", "addBatch")(t.spans(i).name))
    execs.foreach { e =>
      sinkOf(e.outputPath).foreach { s =>
        hosts.find(i => t.spans(i).start <= e.startMs && e.startMs <= t.spans(i).end)
          .foreach(h => t.addSpan(s"sink.$s", t.spans(h).id, h, e.startMs, e.startMs + e.durationMs))
      }
    }

    def spansNamed(n: String) = t.spans.filter(_.name == n)
    def durS(n: String) = mean(spansNamed(n).map(s => (s.end - s.start) / 1000))
    Seq("scan", "explode", "parse", "state", "gates", "process").foreach(l => m(s"$l.s") = durS(l))
    Seq("scan.files", "scan.input_bytes", "explode.entries", "parse.records",
      "state.files", "state.rows", "gates.history_rows_per_zip").foreach(k => m(k) = t.countMean(k))
    Gates.foreach(g => m(s"gates.skipped.$g") = t.countMean(s"gates.skipped.$g"))
    m("gates.shuffle_bytes") = mean(spansNamed("gates").map(s =>
      tasks.filter(_.unit == s.key).map(_.shuffleWrite.toDouble).sum))
    m("explode.zip_us") = result.get("explode_zip_us").collect { case Some(d: Double) => d }
      .getOrElse(0.0)

    // A unit is one scheduling unit of the workload: a runBatch call, a
    // stream micro-batch or a catalog entry.
    val units = (spansNamed("runBatch") ++ spansNamed("batch") ++ spansNamed("entry"))
      .filter(u => timedAt(u.start))
    def unitKey(s: Trace.Span) = if (s.name == "batch") s.id else s.key
    def inUnit(u: Trace.Span, ms: Double) = u.start <= ms && ms <= u.end
    val perUnit = units.map { u =>
      val key = unitKey(u)
      val ut = tasks.filter(_.unit == key)
      val ue = execs.filter(e => inUnit(u, e.startMs))
      val wall = u.end - u.start
      def sinkS(n: String) = t.spans.filter(s => s.name == s"sink.$n" && s.id == u.id &&
        inUnit(u, s.start)).map(s => (s.end - s.start) / 1000).sum
      val writes = ue.filter(e => sinkOf(e.outputPath).isDefined)
      Map(
        "spark.jobs" -> jobs.count(_.unit == key).toDouble,
        "spark.stages" -> stages.count(_._1 == key).toDouble,
        "spark.tasks" -> ut.size.toDouble,
        "spark.planning_ms" -> ue.map(_.planningMs.toDouble).sum,
        "spark.task_time_share" -> (if (wall > 0) ut.map(_.runMs).sum / (wall * cores) else 0.0),
        "spark.gc_ms" -> ut.map(_.gcMs.toDouble).sum,
        "spark.shuffle_write_bytes" -> ut.map(_.shuffleWrite.toDouble).sum,
        "spark.spill_bytes" -> ut.map(_.spill.toDouble).sum,
        "sink.raw.s" -> sinkS("raw"),
        "sink.workflow.s" -> sinkS("workflow"),
        "sink.dead_letter.s" -> sinkS("dead_letter"),
        "sink.rows" -> writes.map(_.rows.toDouble).sum,
        "sink.files" -> writes.map(_.files.toDouble).sum,
        "sink.bytes" -> writes.map(_.bytes.toDouble).sum,
        "scan.binary_rows" -> ue.map(_.binaryRows.toDouble).sum,
        "task_s" -> ut.map(_.runMs).sum / 1000.0,
        "wall_s" -> wall / 1000)
    }
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.planning_ms",
      "spark.task_time_share", "spark.gc_ms", "spark.shuffle_write_bytes",
      "spark.spill_bytes", "sink.raw.s", "sink.workflow.s", "sink.dead_letter.s",
      "sink.rows", "sink.files", "sink.bytes").foreach(k =>
      m(k) = mean(units.zip(perUnit).filter(_._1.name != "batch").map(_._2(k))))
    val batchUnits = units.zip(perUnit).filter(_._1.name == "runBatch")
    if (batchUnits.nonEmpty) m("scan.reads_per_zip") =
      mean(batchUnits.map(_._2("scan.binary_rows") / result("zips").asInstanceOf[Int]))
    m("stream.spark_jobs") = mean(units.zip(perUnit).filter(_._1.name == "batch")
      .map(_._2("spark.jobs")))

    // An entry's span id is `<pass>/<entry>`; its metrics are means over
    // the timed passes.
    units.zip(perUnit).filter(_._1.name == "entry").groupBy(_._1.id.split("/").last)
      .foreach { case (e, rs) =>
        def avg(k: String) = mean(rs.map(_._2(k)))
        m(s"curate.$e.s") = avg("wall_s")
        m(s"curate.$e.jobs") = avg("spark.jobs")
        m(s"curate.$e.task_s") = avg("task_s")
        m(s"curate.$e.shuffle_bytes") = avg("spark.shuffle_write_bytes")
        m(s"curate.$e.planning_ms") = avg("spark.planning_ms")
      }

    m("stream.batches") = progress.size
    def phase(k: String) = mean(progress.map(_.durationMs.getOrElse(k, 0L).toDouble))
    m("stream.batch_ms") = phase("triggerExecution")
    m("stream.add_batch_ms") = phase("addBatch")
    m("stream.latest_offset_ms") = phase("latestOffset")
    m("stream.wal_commit_ms") = phase("walCommit")
    m("stream.query_planning_ms") = phase("queryPlanning")

    // Self time per layer over the timed region, and the part of the
    // region's wall time no top-level span covers.
    val timed = t.spans.indices.filter(i => timedAt(t.spans(i).start))
    val children = timed.groupBy(i => t.spans(i).parent)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    timed.foreach { i =>
      val s = t.spans(i)
      val covered = children.getOrElse(i, Nil).map(j => t.spans(j).end - t.spans(j).start).sum
      self(layerOf(s.name)) += math.max(0.0, s.end - s.start - covered) / 1000
    }
    SelfLayers.foreach(l => m(s"trace.self_s.$l") = self(l))
    val wall = region.map { case (a, b) => b - a }.sum / 1000
    val topLevel = timed.filter(i => t.spans(i).parent == -1)
      .map(i => (t.spans(i).end - t.spans(i).start) / 1000).sum
    m("trace.wall_s") = wall
    // Tracing overhead measured in the traced run itself: time inside the
    // listener callbacks, and time spent forcing intermediate outputs
    // (in set-up, before the drain and before the stream starts).
    m("trace.overhead.listener_s") = t.listenerS
    m("trace.overhead.forced_s") = Seq("state", "scan", "explode", "parse", "gates", "process")
      .flatMap(spansNamed).map(s => (s.end - s.start) / 1000).sum
    m("trace.span_s") = topLevel
    m("trace.gap_s") = wall - topLevel
    m.toMap
  }
}
