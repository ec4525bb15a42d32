package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.Sessions
import graft.ingestion.{MetadataPipeline, ZipExplode}
import graft.ingestion.model.{IngestionConfig, SkipGate, Zone}

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *                  [--train 1]
  *
  * Generates the workload's inputs from the seed under DIR, sets up, runs
  * the timed part for about S seconds and writes what it observed to FILE
  * as JSON. Metrics, the output check and the checkpoint attribution are
  * computed by the runner (run.py) from that file and from the files the
  * program wrote; with `--trace 1` this also records spans and Spark-side
  * counts and writes the per-layer metrics it can compute itself. A
  * training run (`--train 1`, made when the harness is built) runs one
  * call of each kind, so that the JVM records the classes a run loads.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val work = new File(a("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (a("trace") == "1") Some(new Trace(spark)) else None
    trace.foreach(_.install())
    val ctx = Ctx(spark, seed, seconds, work, trace, a.get("train").contains("1"))
    ctx.mark("session")
    val result = workload match {
      case "ingest" => Ingest.run(ctx)
      case "curate_llm" => Curate.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val layers = trace.map { t => t.flush(); Layers.of(t, result, cores) }
    trace.foreach(t => Files.writeString(new File(work, "spans.json").toPath,
      Json.write(t.spans.map(s => Map("name" -> s.name, "id" -> s.id,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end)))))
    val all = result ++ Map("peak_rss_mb" -> peakRssMb(), "cores" -> cores,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "marks" -> ctx.marks.map { case (n, t) => Map("name" -> n, "ms" -> t) },
      "layers" -> layers.getOrElse(Map.empty),
      "progress" -> trace.toSeq.flatMap(_.progress.toArray(new Array[Trace.ProgressRec](0)))
        .map(p => Map("batch_id" -> p.batchId, "input_rows" -> p.inputRows)))
    spark.stop()
    Files.writeString(new File(a("out")).toPath, Json.write(all))
  }

  /** The JVM's high-water resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

case class Ctx(spark: SparkSession, seed: Long, seconds: Double, work: File,
               trace: Option[Trace], train: Boolean) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  def nowMs(): Double = Trace.nowMs()
  /** Set-up milestones (name, epoch ms), reported with the result. */
  val marks = mutable.ArrayBuffer[(String, Double)]()
  def mark(name: String): Unit = marks += (name -> nowMs())
  /** A full collection before each unit of work (untimed), so that no
    * collection of earlier work falls inside a timed unit and every unit
    * starts from the same heap. */
  def settle(): Unit = System.gc()
}

/** The `ingest` workload: a closed-loop drain of one landed backlog by
  * `runBatch`, then an open loop of waves landing in a `runStream` input
  * against the history the same backlog wrote. The two phases share one
  * JVM, so the drain's warm-up calls also warm the code the stream runs. */
object Ingest {
  // Closed loop: one corpus, drained into a history warehouse (the cold
  // first call), then WarmupCalls untimed and at least MinCalls timed calls
  // into fresh, empty warehouses.
  val BacklogZips = 300
  val WarmupCalls = 2
  val MinCalls = 7
  // Open loop: one wave every WavePeriodMs into a stream polled every
  // TriggerMs, against the backlog's history.
  val PublishedIsbns = 150
  val WarmWaveZips = 10
  val WaveZips = 16
  val WavePeriodMs = 1000
  val TriggerMs = 4000
  val WavePhaseMs = 500
  val MalformedShare = 0.05
  val DupShare = 0.02

  def cfg(in: File, wh: File): IngestionConfig =
    IngestionConfig(inputDir = in.getPath, warehouseDir = wh.getPath)

  def run(c: Ctx): Map[String, Any] = {
    import Corpus._
    val gen = new Gen(c.seed)
    val manifest = new File(c.work, "manifest.tsv")
    val in = c.dir("backlog_in")
    val zips = gen.batch(BacklogZips, MalformedShare, DupShare)
    val inputBytes = Corpus.writeZips(in, zips)
    // The backlog is checked in every timed warehouse, and is the history
    // of the stream's warehouse.
    Corpus.appendManifest(manifest, "backlog", 0, zips)
    Corpus.appendManifest(manifest, "history", -1, zips)
    val wh = new File(c.work, "warehouse")
    val published = Vector.fill(PublishedIsbns)(gen.nextIsbn())

    // Waves: ~20% repeat history (spread over the three gates), a few per
    // cent malformed, one in-batch duplicate pair, the rest fresh books.
    val waveCount = math.max(1, (c.seconds * 1000 / WavePeriodMs).toInt)
    val committed = zips.filter(_.outcome == Workflow)
    val repeats = math.round(WaveZips * 0.2).toInt
    val g1 = repeats / 3
    val g2 = repeats / 3
    val g3 = repeats - g1 - g2
    val seenNames = gen.pick(committed, waveCount * (g1 + g2))
    val seenPublished = gen.pick(published, waveCount * g3)
    val nBad = math.max(1, math.round(WaveZips * 0.04).toInt)
    val stage = c.dir("stage")
    gen.stratify(waveCount * WaveZips)
    val waves = (0 until waveCount).map { w =>
      val z = seenNames.slice(w * (g1 + g2), (w + 1) * (g1 + g2))
      val again = z.take(g1).map(h => h.copy(outcome = Skip, detail = SkipGate.AlreadyUploaded)) ++
        z.drop(g1).map(h => h.copy(name = s"book-${h.isbn}-r.zip", outcome = Skip,
          detail = SkipGate.WorkflowExists)) ++
        seenPublished.slice(w * g3, (w + 1) * g3).map(i =>
          gen.validFor(i).copy(outcome = Skip, detail = SkipGate.IsbnFolderExists))
      val fresh = Vector.fill(nBad)(gen.malformed()) ++ gen.duplicatePair() ++
        Vector.fill(WaveZips - again.size - nBad - 2)(gen.valid())
      val zs = gen.shuffle(again ++ fresh)
      val d = new File(stage, s"wave-$w")
      Corpus.writeZips(d, zs)
      Corpus.appendManifest(manifest, "wave", w, zs)
      (d, zs)
    }
    val waveBytes = waves.map(_._2.map(_.bytes.length.toLong).sum).sum
    c.mark("generate")

    // Set-up: the cold first call seeds the stream's history; the warm-up
    // calls take the steepest part of the JIT's warm-up. Calls keep getting
    // faster for as long as a run lasts, so the fixed call counts put the
    // timed calls at the same place on that curve in every run.
    import c.spark.implicits._
    published.map(i => (i, 2020)).toDF("isbn", "year")
      .write.parquet(s"$wh/${Zone.Published}")
    MetadataPipeline.runBatch(c.spark, cfg(in, wh))
    c.mark("seed_history")
    (0 until (if (c.train) 0 else WarmupCalls)).foreach { i =>
      c.settle()
      MetadataPipeline.runBatch(c.spark, cfg(in, new File(c.work, s"warm_wh_$i")))
    }
    c.mark("warmup")
    val explodeUs = c.trace.map { t =>
      // The traced run alone forces the backlog's intermediate outputs once,
      // against an empty warehouse, as the timed calls see it.
      t.span("force", "backlog")(Layers.forceIngestLayers(c, t, "backlog",
        cfg(in, new File(c.work, "force_wh")), BacklogZips, Layers.BacklogForced))
      explodeOnePerZipUs(in)
    }

    // Closed loop. At least MinCalls calls run back to back, then more
    // while the next one, judged by the last, still ends inside --seconds.
    val timedStart = c.nowMs()
    val reps = mutable.ArrayBuffer[Map[String, Any]]()
    var last = 0.0
    val minCalls = if (c.train) 1 else MinCalls
    while (reps.size < minCalls || c.nowMs() + last - timedStart <= c.seconds * 1000) {
      val id = s"rep-${reps.size}"
      val rep = new File(c.work, s"wh_${reps.size}")
      val conf = cfg(in, rep)
      c.settle()
      val (start, end) = c.trace match {
        case None => timed(MetadataPipeline.runBatch(c.spark, conf))
        case Some(t) => t.span("runBatch", id)(timed(MetadataPipeline.runBatch(c.spark, conf)))
      }
      last = end - start
      reps += Map("id" -> id, "warehouse" -> rep.getPath, "start_ms" -> start,
        "end_ms" -> end, "zips" -> zips.size)
    }
    val drainEnd = c.nowMs()
    c.mark("drain")

    // Stream set-up, counted as set-up: the traced run forces the history-
    // dependent layers once on a copy of the first wave; the stream starts
    // and one untimed wave of fresh books warms its own code path.
    c.trace.foreach { t =>
      val replay = c.dir("replay_in")
      waves.head._2.foreach(z => Files.copy(new File(waves.head._1, z.name).toPath,
        new File(replay, z.name).toPath))
      t.span("force", "replay")(Layers.forceIngestLayers(c, t, "replay", cfg(replay, wh),
        waves.head._2.size, Layers.HistoryForced))
    }
    c.settle()
    val input = c.dir("stream_in")
    val query = MetadataPipeline.runStream(c.spark, cfg(input, wh),
      Trigger.ProcessingTime(TriggerMs))
    val warm = gen.batch(WarmWaveZips, 0.0, 0.0)
    Corpus.appendManifest(manifest, "warm", -1, warm)
    val warmDir = c.dir("warm_wave")
    Corpus.writeZips(warmDir, warm)
    warm.foreach(z => Files.move(new File(warmDir, z.name).toPath,
      new File(input, z.name).toPath, StandardCopyOption.ATOMIC_MOVE))
    query.processAllAvailable()
    val streamWarm = c.nowMs()
    c.mark("stream_warm")
    val storedBefore = Layers.treeBytes(wh)

    // Open loop: wave w is due at pollStart + w * period whether or not
    // the stream has kept up. Files of a wave move in zip_name order, so an
    // in-batch duplicate's winner never lands after its loser. Spark fires
    // a ProcessingTime trigger on multiples of its interval since the
    // epoch; the first wave is due a fixed offset after one, so every run
    // starts in the same phase of the poll. Waves land half a second away
    // from every tick, so a trigger that fires a little late still sees the
    // same waves; with a 4 s trigger the first micro-batch takes the first
    // four waves and, as long as it lasts over 3.5 s, the second takes the
    // other four, so every run splits the same way. The wait for the tick
    // is idle time, counted neither as set-up nor as latency.
    val pollStart = (math.floor(c.nowMs() / TriggerMs) + 1) * TriggerMs + WavePhaseMs
    val landed = waves.zipWithIndex.map { case ((d, zs), w) =>
      val due = pollStart + w.toDouble * WavePeriodMs
      val wait = due - c.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      zs.map(_.name).sorted.foreach { n =>
        Files.move(new File(d, n).toPath, new File(input, n).toPath,
          StandardCopyOption.ATOMIC_MOVE)
      }
      Map("wave" -> w, "due_ms" -> due, "landed_ms" -> c.nowMs(), "zips" -> zs.size)
    }
    query.processAllAvailable()
    val timedEnd = c.nowMs()
    query.stop()
    Map("workload" -> "ingest", "timed_start_ms" -> timedStart,
      "setup_end_ms" -> timedStart, "setup_extra_ms" -> (streamWarm - drainEnd),
      "drain_end_ms" -> drainEnd, "poll_start_ms" -> pollStart, "timed_end_ms" -> timedEnd,
      "manifest" -> manifest.getPath, "input_bytes" -> inputBytes, "zips" -> zips.size,
      "reps" -> reps.toSeq, "warehouse" -> wh.getPath, "checkpoint" -> s"$wh/_checkpoint",
      "wave_bytes" -> waveBytes, "stored_bytes_before" -> storedBefore, "waves" -> landed,
      "explode_zip_us" -> explodeUs)
  }

  /** Runs `body`; returns its (start, end) in epoch ms. */
  def timed(body: => Any): (Double, Double) = {
    val s = Trace.nowMs(); body; (s, Trace.nowMs())
  }

  /** Single-thread `ZipExplode.explodeOne` per ZIP, no Spark: the explode
    * kernel's own cost, in microseconds per ZIP (bytes preloaded). */
  def explodeOnePerZipUs(dir: File): Double = {
    val files = dir.listFiles().filter(_.getName.endsWith(".zip")).sortBy(_.getName)
    val bytes = files.map(f => (f.getPath, Files.readAllBytes(f.toPath)))
    bytes.foreach { case (p, b) => ZipExplode.explodeOne(p, b) } // warm
    val s = System.nanoTime()
    bytes.foreach { case (p, b) => ZipExplode.explodeOne(p, b) }
    (System.nanoTime() - s) / 1e3 / bytes.length
  }
}
