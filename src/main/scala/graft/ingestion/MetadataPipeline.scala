package graft.ingestion

import java.io.FileNotFoundException
import java.sql.Timestamp
import java.util.concurrent.{ExecutionException, Executors}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftScanFiles, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.udfs
import graft.operators.Materialize
import model._

/** The reference pipeline (SURVEY.md §2 Part A) as one Spark pass per poll:
  * directory of metadata ZIPs → one fate per ZIP → validated, typed
  * workflow rows + raw-zone copies + dead-letter errors.
  *
  * Stage map (reference MetadataIngestionServiceImpl.java:95–123):
  *  - A1/A2  binaryFile scan + ISBN-from-filename (ref executer :56–62),
  *    checksum-validated (isbn13_valid) — non-ISBN ZIPs dead-letter instead
  *    of crashing. The poll's paths come from the frame's own scan
  *    (`GraftScanFiles`: no job, no second listing), and each path's
  *    zip_name and ISBN are derived on the driver ([[zipNameOf]],
  *    [[isbnOf]]) exactly as the SQL `trim(element_at(split(path, '/'),
  *    -1))` and `regexp_extract` would;
  *  - A9–A11 the three idempotency gates (ref :181–210), decided on the
  *    driver ([[verdicts]]): one keys-only lookup of the zones filtered by
  *    the poll's keys (`isin`; no job when every zone is absent), then the
  *    reference's if-chain per ZIP — the first gate that matches wins. A
  *    key repeated in history never duplicates a polled ZIP. Gates run
  *    BEFORE any extraction — nothing is exploded for a known ISBN (ref
  *    :99). The same lookup returns the dead letters already recorded
  *    under the poll's zip_names (see "Sink path");
  *  - intra-batch dedup, on the driver too: per ISBN, the first ZIP by
  *    (zip_name, path) among those that passed the gates is kept, the rest
  *    are DUPLICATE_IN_BATCH;
  *  - A3–A8, A13 [[zipFate]], the per-ZIP kernel, on the survivors only,
  *    in the scan stage: one typed map over (path, content) looks each path
  *    up in the broadcast verdicts — no join, window or shuffle — and runs
  *    explode ([[ZipExplode.explodeOne]]), parse (`udfs.parseProperties`),
  *    book check (A6/A7), genre check (A8) and the all_metadata map, all
  *    from the ZIP's own row;
  *  - A12/A14/A15 sinks: raw zone, workflow table, dead letter — each a
  *    filter/projection of the one fates frame ([[process]]).
  *
  * Sink path ([[ingestPoll]]): the fates frame is materialized ONCE with
  * `Materialize.cut` and all three appends read that cut, coalesced to
  * about one advisory partition of polled bytes, so a poll scans each ZIP
  * once and writes one file per sink for a small poll. A failed ZIP is
  * retried on every poll (see "Transactionality"), so a poll meets its old
  * dead letters as it meets its old uploads: the gates' keys lookup also
  * returns the (zip_name, error_code) pairs the dead-letter zone holds for
  * the poll's zip_names, and only dead letters outside that set are
  * appended (and counted as appended). No other read of that zone runs.
  * The dead-letter append runs beside the raw → workflow chain; dead
  * letters never gate, so a crash still leaves the gates only raw, or
  * raw + workflow. Not
  * `persist()`: the raw append's `recacheByPath` refreshes any CACHED plan
  * reading the raw zone, so a persisted fates frame would be recomputed
  * against the just-written raw zone and gate every fresh ZIP
  * ALREADY_UPLOADED before the workflow append. A cut is a fresh RDD leaf
  * with no file index to refresh.
  *
  * Transactionality (A19): the reference runs each ZIP in REQUIRES_NEW and
  * rolls back the upload when extraction/validation throws — so only fully
  * successful ZIPs persist in the raw zone. The fates frame reproduces
  * that: raw and workflow rows come from the same ok fates under the same
  * `zip_name`; failed ZIPs appear only in the dead letter and are
  * re-attempted next run, matching the reference's retry-every-poll
  * behavior.
  *
  * Scale posture (100 TB): a poll's keys are few, so neither the gates nor
  * the dead-letter check shuffle: the one lookup pushes the poll's keys
  * into the scans of the four zones and returns only matching keys, and
  * the verdict map and recorded dead-letter set are as large as the file
  * listing the driver already holds. What still grows with history is the
  * zone listing and scan itself (one file per zone per poll; ROADMAP item
  * 2's gate index and compaction). The kernel is a typed map in the
  * scan stage (no shuffle of records); per-poll counts are
  * `Dataset.observe` metrics on the pass.
  */
object MetadataPipeline {

  /** Existing sink state consulted by the idempotency gates (A9–A11). */
  case class PipelineState(raw: DataFrame, workflow: DataFrame, published: DataFrame)

  /** One batch's outputs. `skipped` is observability for the gates (the
    * reference only logs these, ref :184–207). `counts` are the poll's
    * counts observed on its one written pass, keyed by [[Counts]]; empty
    * from [[process]], whose outputs are lazy. */
  case class PipelineOutput(
      newRaw: DataFrame, newWorkflow: DataFrame, deadLetter: DataFrame,
      skipped: DataFrame, counts: Map[String, Long] = Map.empty)

  /** Keys of [[PipelineOutput.counts]]: ok fates (= workflow rows
    * appended), dead letters of the poll, the dead-letter rows appended
    * (the ones not recorded yet), and skips per gate label. */
  object Counts {
    val Workflow = "workflow"
    val DeadLetter = "dead_letter"
    val DeadLetterAppended = "dead_letter_appended"
    val Gates: Seq[String] = Seq(SkipGate.AlreadyUploaded, SkipGate.WorkflowExists,
      SkipGate.IsbnFolderExists, SkipGate.DuplicateInBatch)
  }
  private val PollMetrics = "poll"

  val rawSchema: StructType = StructType(Seq(
    StructField("zip_name", StringType),
    StructField("content", BinaryType),
    StructField("ingest_ts", TimestampType)))

  val workflowSchema: StructType = StructType(
    WorkflowCols.map {
      case c @ "publishing_date" => StructField(c, TimestampType)
      case c @ ("content_found" | "content_error_found" |
                "metadata_chapter_matching_ok" |
                "chapter_folder_hierarchy_exists") => StructField(c, BooleanType)
      case c @ "all_metadata" =>
        StructField(c, MapType(StringType, MapType(StringType, StringType)))
      case c => StructField(c, StringType)
    })

  val publishedSchema: StructType = StructType(Seq(
    StructField("isbn", StringType),
    StructField("year", IntegerType)))

  val deadLetterSchema: StructType = StructType(Seq(
    StructField("zip_name", StringType),
    StructField("error_code", StringType),
    StructField("message", StringType),
    StructField("ts", TimestampType)))

  /** binaryFile row shape — needed explicitly for `readStream` (file stream
    * sources require a user schema). */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** A local relation, so a plan over absent zones folds to nothing and
    * runs no job. */
  def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Whether `path` is a directory of the file system its scheme names
    * (`file:`, `hdfs:`, `s3a:`, or the default one for a bare path). A
    * zone is the directory its appends write and the polled input is a
    * directory, so nothing there, or a plain file, holds no rows. */
  private def isDir(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isDirectory
    catch { case _: FileNotFoundException => false }
  }

  private def zone(spark: SparkSession, dir: String, name: String,
                   schema: StructType): DataFrame = {
    val path = s"$dir/$name"
    if (isDir(spark, path)) spark.read.schema(schema).parquet(path)
    else emptyDf(spark, schema)
  }

  /** Load gate state from the warehouse (empty tables when absent). */
  def readState(spark: SparkSession, warehouseDir: String): PipelineState =
    PipelineState(
      raw = zone(spark, warehouseDir, Zone.Raw, rawSchema),
      workflow = zone(spark, warehouseDir, Zone.Workflow, workflowSchema),
      published = zone(spark, warehouseDir, Zone.Published, publishedSchema))

  /** A1/B4: batch scan of the polled directory. A missing directory is an
    * empty poll (the reference's executer finds no files), not an error. */
  def readZips(spark: SparkSession, inputDir: String): DataFrame =
    if (!isDir(spark, inputDir)) emptyDf(spark, binaryFileSchema)
    else spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .load(inputDir)

  /** A3–A8 + A13 for one ZIP that passed the gates, in one pass like the
    * reference's per-ZIP loop (ref :99–123): explode, parse, book check,
    * genre check. Returns exactly one fate: a dead letter — EXTRACT_ZIP
    * for an unreadable archive or a malformed `.properties` entry (ref
    * :155–158; `Properties.load` throws on a bad `\uXXXX`), else
    * MISSING_BOOK_METADATA, else INVALID_GENRE — or ok with the book's
    * props and all_metadata. Entries sharing a basename keep the last in
    * archive order (the reference's `HashMap.put`, ref :146–150). */
  def zipFate(path: String, content: Array[Byte], zipName: String, isbn: String,
              genres: Set[String]): ZipFate = {
    def dead(code: String, msg: String) =
      ZipFate(zipName, isbn, Fate.Dead, code, msg + zipName, null, null, null)
    val entries = ZipExplode.explodeOne(path, content)
    val records =
      if (entries.exists(_.error.isDefined)) None
      else try Some(entries.map(e => e.record_key -> udfs.parseProperties(e.bytes)).toMap)
      catch { case _: IllegalArgumentException => None }
    records match {
      case None => dead(ErrorCode.ExtractZip, "error extracting metadata ZIP ")
      case Some(all) => all.get(isbn) match {
        case None => dead(ErrorCode.MissingBookMetadata, "no book record for ISBN in ")
        // a missing Genre key is null ≙ Properties.getProperty → invalid
        case Some(book) if !book.get(PropKey.Genre).exists(genres) =>
          dead(ErrorCode.InvalidGenre, "invalid genre in metadata ZIP ")
        case Some(book) => ZipFate(zipName, isbn, Fate.Ok, null, null, content, book, all)
      }
    }
  }

  /** A polled ZIP's keys and its verdict before extraction: `code` is
    * MISSING_ISBN, a gate label, or null for a ZIP [[zipFate]] decides.
    * `parts` is empty for a path the scan reads once, else the ascending
    * scan partitions that read it. */
  private[ingestion] final case class Verdict(zipName: String, isbn: String, code: String,
                                              parts: Seq[Int] = Nil)

  /** A2: the filename key, as `trim(element_at(split(path, '/'), -1))`
    * computes it — Spark's `trim` strips U+0020 only (trim ≙ ref :96). */
  private[ingestion] def zipNameOf(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    var (from, until) = (0, name.length)
    while (from < until && name.charAt(from) == ' ') from += 1
    while (until > from && name.charAt(until - 1) == ' ') until -= 1
    name.substring(from, until)
  }

  private val IsbnPattern = "(97[89][0-9]{10})".r

  /** A2: the ISBN in a zip_name, as `regexp_extract(zip_name,
    * '(97[89][0-9]{10})', 1)` computes it ("" when there is none). */
  private[ingestion] def isbnOf(zipName: String): String =
    IsbnPattern.findFirstIn(zipName).getOrElse("")

  /** The (zone, key, error_code) triples the zones already hold among
    * `zipNames` (raw, and the dead letters with their error_code) and
    * `isbns` (workflow, published; error_code null): one keys-only lookup,
    * the poll's keys pushed into the scans. Absent zones are empty local
    * relations, so a poll against no history runs no job. */
  private def seenKeys(state: PipelineState, deadLetters: DataFrame, zipNames: Seq[String],
                       isbns: Seq[String]): Set[(String, String, String)] = {
    def keys(zone: String, df: DataFrame, key: String, of: Seq[String],
             code: Column = lit(null).cast(StringType)) =
      df.where(col(key).isin(of: _*)).select(lit(zone), col(key), code)
    if (zipNames.isEmpty) Set.empty
    else keys(Zone.Raw, state.raw, "zip_name", zipNames)
      .union(keys(Zone.Workflow, state.workflow, "isbn", isbns))
      .union(keys(Zone.Published, state.published, "isbn", isbns))
      .union(keys(Zone.DeadLetter, deadLetters, "zip_name", zipNames, col("error_code")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  /** A2, A9–A11 and the in-batch dedup for one poll's scanned files, on
    * the driver: one [[Verdict]] per path, and the (zip_name, error_code)
    * pairs `deadLetters` already holds among the poll's zip_names. */
  private def verdicts(state: PipelineState, deadLetters: DataFrame,
                       files: Seq[GraftScanFiles.ScannedFile])
      : (Map[String, Verdict], Set[(String, String)]) = {
    val readIn = files.groupBy(_.path).map { case (p, fs) => p -> fs.map(_.partition) }
    val keyed = files.map(_.path).distinct.map { p => val z = zipNameOf(p); (p, z, isbnOf(z)) }
    // checksum ≙ the executer's ISBN contract (MetadataIngestionExecuter.java:56–62)
    val valid = keyed.filter(k => udfs.isbn13Valid(k._3))
    val seen = seenKeys(state, deadLetters, keyed.map(_._2).distinct, valid.map(_._3).distinct)
    def holds(zone: String, key: String) = seen((zone, key, null))
    val gated = keyed.map { case (p, z, isbn) =>
      val code =
        if (!udfs.isbn13Valid(isbn)) ErrorCode.MissingIsbn
        else if (holds(Zone.Raw, z)) SkipGate.AlreadyUploaded
        else if (holds(Zone.Workflow, isbn)) SkipGate.WorkflowExists
        else if (holds(Zone.Published, isbn)) SkipGate.IsbnFolderExists
        else null
      p -> Verdict(z, isbn, code)
    }
    // Intra-batch idempotency: the gates only consult PRIOR state, so two
    // ZIPs carrying the same ISBN in one poll would both pass and emit two
    // workflow rows — the reference's sequential per-ZIP processing gates
    // the second via WORKFLOW_EXISTS (ref :190–198). Keep the first by
    // (zip_name, path), in Spark's UTF-8 byte order; losers are tagged
    // DUPLICATE_IN_BATCH (not WORKFLOW_EXISTS: no workflow row exists yet,
    // and the winner may still dead-letter — see SkipGate) and are not
    // uploaded, so they are re-polled next run and gated against the
    // then-real state — converging with the reference even when the
    // winner fails validation this batch.
    val byBytes = Ordering.by((s: String) => UTF8String.fromString(s))
    val losers = gated.filter(_._2.code == null).groupBy(_._2.isbn).values
      .flatMap(_.sortBy { case (p, v) => (v.zipName, p) }(Ordering.Tuple2(byBytes, byBytes)).tail)
      .map(_._1).toSet
    val decided = gated.map { case (p, v) =>
      val parts = readIn(p)
      p -> v.copy(code = if (losers(p)) SkipGate.DuplicateInBatch else v.code,
        parts = if (parts.size > 1) parts.distinct.sorted else Nil)
    }.toMap
    (decided, seen.collect { case (Zone.DeadLetter, z, c) => (z, c) })
  }

  /** Whether a dead letter, keyed by its `zip_name` and the error code in
    * `code`, is not among the `recorded` (zip_name, error_code) pairs. */
  private def unrecorded(recorded: Set[(String, String)], code: Column): Column =
    if (recorded.isEmpty) lit(true)
    else !struct(col("zip_name"), code)
      .isin(recorded.toSeq.map { case (z, c) => struct(lit(z), lit(c)) }: _*)

  /** One [[ZipFate]] row per polled ZIP: a typed map over (path, content)
    * in the scan stage that looks the path up in the broadcast verdicts
    * and runs [[zipFate]] on the survivors. A path the scan reads more than
    * once is one ZIP: its first read — the lowest scan partition, first in
    * it — takes the verdict and the other reads are DUPLICATE_IN_BATCH.
    * Spark's file stream source does that: in a micro-batch of more than
    * one file where some file name holds a glob metacharacter (`[`, `?`,
    * `{`), it reads each of the batch's other files twice (never a file
    * outside the batch). A path without a verdict, or read outside the
    * partitions the driver saw, fails the task: the verdicts were decided
    * over a different scan. */
  private def fates(spark: SparkSession, zips: DataFrame,
                    decided: Broadcast[Map[String, Verdict]],
                    cfg: IngestionConfig): DataFrame = {
    import spark.implicits._
    val genres = cfg.genres.toSet
    zips.select("path", "content").as[(String, Array[Byte])]
      .mapPartitions { rows =>
        val part = TaskContext.getPartitionId()
        val reread = mutable.Set[String]()
        rows.map { case (path, content) =>
          val v = decided.value.getOrElse(path,
            throw new IllegalStateException(s"polled path without a verdict: $path"))
          val first = v.parts.isEmpty || {
            if (!v.parts.contains(part)) throw new IllegalStateException(
              s"polled path read outside its scan partitions ${v.parts}: $path")
            part == v.parts.head && reread.add(path)
          }
          v.code match {
            case _ if !first =>
              ZipFate(v.zipName, v.isbn, Fate.Skip, SkipGate.DuplicateInBatch,
                null, null, null, null)
            case null => zipFate(path, content, v.zipName, v.isbn, genres)
            case ErrorCode.MissingIsbn =>
              ZipFate(v.zipName, v.isbn, Fate.Dead, ErrorCode.MissingIsbn,
                s"no valid ISBN-13 in ZIP filename ${v.zipName}", null, null, null)
            case gate => ZipFate(v.zipName, v.isbn, Fate.Skip, gate, null, null, null, null)
          }
        }
      }
      .toDF()
  }

  /** The four outputs as filters/projections of a fates frame. */
  private def outputOf(fates: DataFrame, cfg: IngestionConfig,
                       ingestTs: Timestamp): PipelineOutput = {
    val ok = fates.filter(col("fate") === Fate.Ok)
    // try_element_at ≙ Properties.getProperty null-on-missing (ref
    // :231–236): absent keys project as null instead of throwing under
    // ANSI mode.
    def prop(key: String) = try_element_at(col("book"), lit(key))
    PipelineOutput(
      // A12 + A19: only fully successful ZIPs persist to the raw zone.
      newRaw = ok.select(col("zip_name"), col("content"), lit(ingestTs).as("ingest_ts")),
      // A13: the typed projection of the 15 process variables (ref :222–245).
      newWorkflow = ok.select(
        col("isbn"),
        concat(lit("Best Publishing workflow for "), col("isbn")).as("workflow_description"),
        prop(PropKey.Title).as("book_title"),
        prop(PropKey.Genre).as("book_genre"),
        prop(PropKey.Authors).as("book_authors"),
        prop(PropKey.NrOfChapters).as("nr_of_chapters"),
        prop(PropKey.NrOfPages).as("nr_of_pages"),
        lit(ingestTs).as("publishing_date"),
        lit(false).as("content_found"),
        lit(false).as("content_error_found"),
        lit(false).as("metadata_chapter_matching_ok"),
        lit(false).as("chapter_folder_hierarchy_exists"),
        lit(cfg.interruptT1TimerDuration).as("interrupt_t1_timer_duration"),
        lit(cfg.wait2Check4ContentTimerDuration).as("wait_2_check_content_timer_duration"),
        col("all_metadata")),
      deadLetter = fates.filter(col("fate") === Fate.Dead).select(col("zip_name"),
        col("code").as("error_code"), col("message"), lit(ingestTs).as("ts")),
      skipped = fates.filter(col("fate") === Fate.Skip)
        .select(col("zip_name"), col("isbn"), col("code").as("gate")))
  }

  /** The pure transform: one poll's ZIPs + current state → sink deltas.
    * `zips` is a `binaryFile` scan ([[readZips]], or a stream's micro-batch
    * frame). `ingestTs` is injectable (the reference stamps `new Date()` at
    * ref :222; tests and the oracle pin it). The gates are decided when
    * this is called; the outputs are lazy, and each re-runs the kernel
    * when evaluated. */
  def process(spark: SparkSession, zips: DataFrame, state: PipelineState,
              cfg: IngestionConfig, ingestTs: Timestamp): PipelineOutput = {
    val (decided, _) =
      verdicts(state, emptyDf(spark, deadLetterSchema), GraftScanFiles.of(zips))
    outputOf(fates(spark, zips, spark.sparkContext.broadcast(decided), cfg), cfg, ingestTs)
  }

  /** One batch pass (A20 ≙ the JMX manual trigger / CLI one-shot): read
    * state, process, append sinks. Only dead letters whose (zip_name,
    * error_code) the dead-letter zone does not hold yet are appended, so a
    * re-run of the same input is a no-op across ALL sinks — the A9–A11
    * invariant run(run(x)) == run(x). */
  def runBatch(spark: SparkSession, cfg: IngestionConfig,
               ingestTs: Timestamp = new Timestamp(System.currentTimeMillis())): PipelineOutput =
    ingestPoll(spark, cfg, ingestTs)(readZips(spark, cfg.inputDir))

  /** The sink path both modes share: read gate state, then take the poll's
    * files from its scan (`zips` is by-name and bound once, after the state
    * is read), decide their verdicts and look up the dead letters already
    * recorded under the poll's zip_names (one lookup), compute the fates in
    * one pass, cut them once and append from the cut: raw then workflow on
    * this thread, and beside them the dead letters not recorded yet. The
    * returned output is lazy over the same verdicts (the cut's blocks are
    * released before it returns), with the counts observed on the pass. */
  private def ingestPoll(spark: SparkSession, cfg: IngestionConfig,
                         ingestTs: Timestamp)(zips: => DataFrame): PipelineOutput = {
    val state = readState(spark, cfg.warehouseDir)
    val priorDl = zone(spark, cfg.warehouseDir, Zone.DeadLetter, deadLetterSchema)
    val polled = zips
    val files = GraftScanFiles.of(polled)
    val (verdict, recorded) = verdicts(state, priorDl, files)
    val decided = spark.sparkContext.broadcast(verdict)
    val fate = col("fate")
    val dead = fate === Fate.Dead
    val observed = fates(spark, polled, decided, cfg).observe(PollMetrics,
      count(when(fate === Fate.Ok, 1)).as(Counts.Workflow),
      Seq(count(when(dead, 1)).as(Counts.DeadLetter),
        count(when(dead && unrecorded(recorded, col("code")), 1)).as(Counts.DeadLetterAppended)) ++
        Counts.Gates.map(g => count(when(col("code") === g, 1)).as(g)): _*)
    val cut = Materialize.cut(observed)
    try {
      val sinkParts = math.max(1, math.ceil(files.map(_.length).sum.toDouble /
        GraftScanFiles.advisoryPartitionBytes(spark)).toInt)
      val now = outputOf(cut.df.coalesce(sinkParts), cfg, ingestTs)
      alongside(spark)(append(now.deadLetter.where(unrecorded(recorded, col("error_code"))),
        s"${cfg.warehouseDir}/${Zone.DeadLetter}")) {
        append(now.newRaw, s"${cfg.warehouseDir}/${Zone.Raw}")
        append(now.newWorkflow.withColumn("pub_year", year(col("publishing_date"))),
          s"${cfg.warehouseDir}/${Zone.Workflow}", partitionBy = Seq("pub_year"))
      }
    } finally {
      cut.release()
      // the returned outputs run the map again: free the executors' copies
      // only, the driver keeps the value
      decided.unpersist()
    }
    val row = observed.queryExecution.observedMetrics(PollMetrics)
    outputOf(fates(spark, polled, decided, cfg), cfg, ingestTs)
      .copy(counts = row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap)
  }

  /** Runs the dead-letter appends beside a poll's raw → workflow chain. */
  private lazy val sideWriter = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-poll-side-writer")
    t.setDaemon(true)
    t
  }

  /** Runs `side` on another thread, with this thread's Spark session and
    * job properties, while `main` runs here, and returns only when both
    * have finished. `main`'s error is rethrown with `side`'s suppressed;
    * otherwise `side`'s error is rethrown. */
  private[ingestion] def alongside[T](spark: SparkSession)(side: => Unit)(main: => T): T = {
    val pending = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], sideWriter)(side)
    def joined(): Option[Throwable] =
      try { pending.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
    val result =
      try main
      catch { case e: Throwable => joined().foreach(e.addSuppressed); throw e }
    joined().foreach(e => throw e)
    result
  }

  /** B5: append parquet write, optionally partitioned ({year} layout ≙
    * ref :200–202). */
  private def append(df: DataFrame, path: String,
                     partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** A16/B6/B45: streaming mode. The 10 s directory poll (ref
    * alfresco-global.properties:7, scheduler-context.xml:40–51) becomes a
    * file-stream source with Trigger.ProcessingTime; one-shot runs use
    * Trigger.AvailableNow (A20). Per micro-batch, `foreachBatch` re-reads
    * sink state and re-applies the gates before appending — the single
    * checkpointed query is the cluster lock (A17), and the in-batch
    * re-check keeps restarts idempotent (A19).
    *
    * Note: `workflow` state is read fresh inside every micro-batch, so an
    * ISBN ingested in batch N is gated out of batch N+1 without any
    * driver-side state. */
  def runStream(spark: SparkSession, cfg: IngestionConfig,
                trigger: Trigger = Trigger.AvailableNow(),
                ingestTs: Option[Timestamp] = None): StreamingQuery = {
    val zips = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .schema(binaryFileSchema)
      .load(cfg.inputDir)
    zips.writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"${cfg.warehouseDir}/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestPoll(spark, cfg,
          ingestTs.getOrElse(new Timestamp(System.currentTimeMillis())))(batch)
        ()
      }
      .start()
  }
}
