package graft.ingestion

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

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
  *    of crashing;
  *  - A9–A11 the three idempotency gates (ref :181–210) as existence flags:
  *    one left join per state table against its DISTINCT keys (a key
  *    repeated in history never duplicates a polled ZIP); the first gate
  *    that matches wins, as in the reference's if-chain. Gates run BEFORE
  *    any extraction — nothing is exploded for a known ISBN (ref :99);
  *  - intra-batch dedup: a `row_number` per ISBN over the ZIPs that passed
  *    the gates (DUPLICATE_IN_BATCH);
  *  - A3–A8, A13 [[zipFate]], the per-ZIP kernel, on the survivors only:
  *    explode ([[ZipExplode.explodeOne]]), parse (`udfs.parseProperties`),
  *    book check (A6/A7), genre check (A8) and the all_metadata map, all
  *    from the ZIP's own row — no record-level join or aggregate;
  *  - A12/A14/A15 sinks: raw zone, workflow table, dead letter — each a
  *    filter/projection of the one fates frame ([[process]]).
  *
  * Sink path ([[ingestPoll]]): the fates frame is materialized ONCE with
  * `Materialize.cut` and all three appends read that cut, so a poll scans
  * each ZIP once. Not `persist()`: the raw append's `recacheByPath`
  * refreshes any CACHED plan reading the raw zone, so a persisted fates
  * frame would be recomputed against the just-written raw zone and gate
  * every fresh ZIP ALREADY_UPLOADED before the workflow append. A cut is a
  * fresh RDD leaf with no file index to refresh.
  *
  * Transactionality (A19): the reference runs each ZIP in REQUIRES_NEW and
  * rolls back the upload when extraction/validation throws — so only fully
  * successful ZIPs persist in the raw zone. The fates frame reproduces
  * that: raw and workflow rows come from the same ok fates under the same
  * `zip_name`; failed ZIPs appear only in the dead letter and are
  * re-attempted next run, matching the reference's retry-every-poll
  * behavior.
  *
  * Scale posture (100 TB): the gates are shuffle joins keyed on
  * zip_name/isbn (state tables are large history at scale — no broadcast);
  * the kernel is a typed map in the stage after the gates (no shuffle of
  * records); per-poll counts are `Dataset.observe` metrics on the pass.
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
    * appended), dead letters of the poll, and skips per gate label. */
  object Counts {
    val Workflow = "workflow"
    val DeadLetter = "dead_letter"
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

  def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def zone(spark: SparkSession, dir: String, name: String,
                   schema: StructType): DataFrame = {
    val path = s"$dir/$name"
    if (new java.io.File(path).exists())
      spark.read.schema(schema).parquet(path)
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
    if (!new java.io.File(inputDir).exists()) emptyDf(spark, binaryFileSchema)
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

  /** One [[ZipFate]] row per polled ZIP: the gates as flags, the in-batch
    * rank over the ZIPs that passed them, then [[zipFate]] on the
    * survivors. */
  private def fates(spark: SparkSession, zips: DataFrame, state: PipelineState,
                    cfg: IngestionConfig): DataFrame = {
    import spark.implicits._
    // A2: filename key; trim ≙ ref :96; checksum ≙ the executer's ISBN
    // contract (MetadataIngestionExecuter.java:56–62). This one zip_name
    // keys the ZIP in every sink.
    val named = zips.select(col("path"), col("content"),
        trim(element_at(split(col("path"), "/"), -1)).as("zip_name"))
      .withColumn("isbn", regexp_extract(col("zip_name"), "(97[89][0-9]{10})", 1))
    def seen(keys: DataFrame, key: String, flag: String) =
      keys.select(col(key)).distinct().withColumn(flag, lit(true))
    val flagged = named
      .join(seen(state.raw, "zip_name", "in_raw"), Seq("zip_name"), "left")
      .join(seen(state.workflow, "isbn", "in_wf"), Seq("isbn"), "left")
      .join(seen(state.published, "isbn", "in_pub"), Seq("isbn"), "left")
      .withColumn("code",
        when(!udfs.isbn13_valid(col("isbn")), ErrorCode.MissingIsbn)
          .when(col("in_raw"), SkipGate.AlreadyUploaded)
          .when(col("in_wf"), SkipGate.WorkflowExists)
          .when(col("in_pub"), SkipGate.IsbnFolderExists))
    // Intra-batch idempotency: the gates only consult PRIOR state, so two
    // ZIPs carrying the same ISBN in one poll would both pass and emit two
    // workflow rows — the reference's sequential per-ZIP processing gates
    // the second via WORKFLOW_EXISTS (ref :190–198). Keep the first by
    // zip_name; losers are tagged DUPLICATE_IN_BATCH (not WORKFLOW_EXISTS:
    // no workflow row exists yet, and the winner may still dead-letter —
    // see SkipGate) and are not uploaded, so they are re-polled next run
    // and gated against the then-real state — converging with the
    // reference even when the winner fails validation this batch. The
    // (isbn, code) partition holding code = null is exactly the ZIPs
    // that passed the gates.
    val rank = row_number().over(
      Window.partitionBy(col("isbn"), col("code")).orderBy(col("zip_name")))
    val gated = flagged.withColumn("code",
      when(col("code").isNull && rank > 1, SkipGate.DuplicateInBatch)
        .otherwise(col("code")))
    val genres = cfg.genres.toSet
    gated.select("path", "content", "zip_name", "isbn", "code")
      .as[(String, Array[Byte], String, String, String)]
      .map {
        case (path, content, zipName, isbn, null) =>
          zipFate(path, content, zipName, isbn, genres)
        case (_, _, zipName, isbn, ErrorCode.MissingIsbn) =>
          ZipFate(zipName, isbn, Fate.Dead, ErrorCode.MissingIsbn,
            s"no valid ISBN-13 in ZIP filename $zipName", null, null, null)
        case (_, _, zipName, isbn, gate) =>
          ZipFate(zipName, isbn, Fate.Skip, gate, null, null, null, null)
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
    * `ingestTs` is injectable (the reference stamps `new Date()` at
    * ref :222; tests and the oracle pin it). Lazy: each output re-runs
    * the pass when evaluated. */
  def process(spark: SparkSession, zips: DataFrame, state: PipelineState,
              cfg: IngestionConfig, ingestTs: Timestamp): PipelineOutput =
    outputOf(fates(spark, zips, state, cfg), cfg, ingestTs)

  /** One batch pass (A20 ≙ the JMX manual trigger / CLI one-shot): read
    * state, process, append sinks. Dead letters are appended idempotently
    * (anti-join on (zip_name, error_code) vs the existing table) so a
    * re-run of the same input is a no-op across ALL sinks — the A9–A11
    * invariant run(run(x)) == run(x). */
  def runBatch(spark: SparkSession, cfg: IngestionConfig,
               ingestTs: Timestamp = new Timestamp(System.currentTimeMillis())): PipelineOutput =
    ingestPoll(spark, cfg, ingestTs)(readZips(spark, cfg.inputDir))

  /** The sink path both modes share: read gate state, then list the poll
    * (`zips` is by-name and bound once, after the state is read), compute
    * its fates in one pass, cut them once and append raw, workflow and the
    * dead letters not already recorded for the same (zip_name,
    * error_code) from the cut. The returned output is the lazy
    * [[process]] over the same poll and state (the cut's blocks are
    * released before it returns), with the counts observed on the pass. */
  private def ingestPoll(spark: SparkSession, cfg: IngestionConfig,
                         ingestTs: Timestamp)(zips: => DataFrame): PipelineOutput = {
    val state = readState(spark, cfg.warehouseDir)
    val polled = zips
    val fate = col("fate")
    val observed = fates(spark, polled, state, cfg).observe(PollMetrics,
      count(when(fate === Fate.Ok, 1)).as(Counts.Workflow),
      count(when(fate === Fate.Dead, 1)).as(Counts.DeadLetter) +:
        Counts.Gates.map(g => count(when(col("code") === g, 1)).as(g)): _*)
    val cut = Materialize.cut(observed)
    try {
      val now = outputOf(cut.df, cfg, ingestTs)
      val priorDl = zone(spark, cfg.warehouseDir, Zone.DeadLetter, deadLetterSchema)
      append(now.newRaw, s"${cfg.warehouseDir}/${Zone.Raw}")
      append(now.newWorkflow.withColumn("pub_year", year(col("publishing_date"))),
        s"${cfg.warehouseDir}/${Zone.Workflow}", partitionBy = Seq("pub_year"))
      append(now.deadLetter.join(priorDl.select("zip_name", "error_code"),
          Seq("zip_name", "error_code"), "left_anti"),
        s"${cfg.warehouseDir}/${Zone.DeadLetter}")
    } finally cut.release()
    val row = observed.queryExecution.observedMetrics(PollMetrics)
    process(spark, polled, state, cfg, ingestTs)
      .copy(counts = row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap)
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
