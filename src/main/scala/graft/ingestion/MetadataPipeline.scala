package graft.ingestion

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.udfs
import model._

/** The reference pipeline (SURVEY.md §2 Part A) as one declarative Spark
  * dataflow: directory of metadata ZIPs → per-entry records → validated,
  * typed workflow rows + raw-zone copies + dead-letter errors.
  *
  * Stage map (reference MetadataIngestionServiceImpl.java:95–123):
  *  - A1/A2  binaryFile scan + ISBN-from-filename (ref executer :56–62),
  *    checksum-validated (isbn13_valid) — non-ISBN ZIPs dead-letter instead
  *    of crashing;
  *  - A9–A11 three anti-join idempotency gates (ref :181–210) BEFORE any
  *    extraction — nothing is exploded for a known ISBN (ref :99 gates
  *    before work; Catalyst cannot reorder through the flatMap, so the
  *    order is explicit);
  *  - A3–A5  ZIP explode + `java.util.Properties` parse (ref :137–152);
  *  - A6/A7  book/chapter split on record_key == ISBN (ref :106–110);
  *  - A8     genre semi-join against the genre dimension (ref :112–116,
  *    170–173);
  *  - A13    typed projection of the 15 process variables (ref :219–248);
  *  - A12/A14/A15 sinks: raw zone, workflow table, dead letter.
  *
  * Transactionality (A19): the reference runs each ZIP in REQUIRES_NEW and
  * rolls back the upload when extraction/validation throws — so only fully
  * successful ZIPs persist in the raw zone. [[process]] reproduces that:
  * `newRaw` contains exactly the ZIPs that produced a workflow row; failed
  * ZIPs appear only in the dead letter and are re-attempted next run,
  * matching the reference's retry-every-poll behavior.
  *
  * Scale posture (100 TB): the gates are shuffle anti-joins keyed on
  * zip_name/isbn (state tables are large history at scale — no broadcast);
  * the explode is an iterator `flatMap` inside the scan stage (no shuffle);
  * the genre dimension is an explicit broadcast; all_metadata assembly is
  * one partial+final aggregate keyed on zip_name.
  */
object MetadataPipeline {

  /** Existing sink state consulted by the idempotency gates (A9–A11). */
  case class PipelineState(raw: DataFrame, workflow: DataFrame, published: DataFrame)

  /** One batch's outputs. `skipped` is observability for the gates (the
    * reference only logs these, ref :184–207). */
  case class PipelineOutput(
      newRaw: DataFrame, newWorkflow: DataFrame, deadLetter: DataFrame,
      skipped: DataFrame)

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

  /** The pure transform: one poll's ZIPs + current state → sink deltas.
    * `ingestTs` is injectable (the reference stamps `new Date()` at
    * ref :222; tests and the oracle pin it). */
  def process(spark: SparkSession, zips: DataFrame, state: PipelineState,
              cfg: IngestionConfig, ingestTs: Timestamp): PipelineOutput = {

    def errRow(df: DataFrame, code: String, msg: org.apache.spark.sql.Column) =
      df.select(col("zip_name"), lit(code).as("error_code"), msg.as("message"),
        lit(ingestTs).as("ts"))

    // A2: filename key; trim ≙ ref :96; checksum ≙ the executer's ISBN
    // contract (MetadataIngestionExecuter.java:56–62).
    val named = zips.select(col("path"), col("content"),
        trim(element_at(split(col("path"), "/"), -1)).as("zip_name"))
      .withColumn("isbn", regexp_extract(col("zip_name"), "(97[89][0-9]{10})", 1))
      .withColumn("isbn_ok", col("isbn") =!= "" && udfs.isbn13_valid(col("isbn")))
    val badIsbn = errRow(named.filter(!col("isbn_ok")), ErrorCode.MissingIsbn,
      concat(lit("no valid ISBN-13 in ZIP filename "), col("zip_name")))
    val withIsbn = named.filter(col("isbn_ok")).drop("isbn_ok")

    // A9–A11: the three idempotency gates, cheapest-evidence-first like the
    // reference, each a left_anti on the consulted state table (B14).
    val g1 = withIsbn.join(state.raw.select("zip_name"), Seq("zip_name"), "left_anti")
    val g2 = g1.join(state.workflow.select("isbn"), Seq("isbn"), "left_anti")
    val g3pre = g2.join(state.published.select("isbn"), Seq("isbn"), "left_anti")
    // Intra-batch idempotency: the gates only consult PRIOR state, so two
    // ZIPs carrying the same ISBN in one poll would both pass and emit two
    // workflow rows — the reference's sequential per-ZIP processing gates
    // the second via WORKFLOW_EXISTS (ref :190–198). Keep the first by
    // zip_name; losers are tagged DUPLICATE_IN_BATCH (not WORKFLOW_EXISTS:
    // no workflow row exists yet, and the winner may still dead-letter —
    // see SkipGate) and are not uploaded, so they are re-polled next run
    // and gated against the then-real state — converging with the
    // reference even when the winner fails validation this batch.
    val intraW = Window.partitionBy(col("isbn")).orderBy(col("zip_name"))
    val intraRanked = g3pre.withColumn("rn", row_number().over(intraW))
    val g3 = intraRanked.filter(col("rn") === 1).drop("rn")
    val intraDup = intraRanked.filter(col("rn") > 1)
      .select(col("zip_name"), col("isbn"), lit(SkipGate.DuplicateInBatch).as("gate"))
    def skip(df: DataFrame, seen: DataFrame, key: String, gate: String) =
      df.join(seen, Seq(key), "left_semi")
        .select(col("zip_name"), col("isbn"), lit(gate).as("gate"))
    val skipped =
      skip(withIsbn, state.raw.select("zip_name"), "zip_name", SkipGate.AlreadyUploaded)
        .unionByName(skip(g1, state.workflow.select("isbn"), "isbn", SkipGate.WorkflowExists))
        .unionByName(skip(g2, state.published.select("isbn"), "isbn", SkipGate.IsbnFolderExists))
        .unionByName(intraDup)

    // A3–A5: explode entries (flatMap generator, ref :137–152) and parse
    // each as exact java.util.Properties (B46).
    val entries = ZipExplode.entries(spark, g3.select(col("path"), col("content"))).toDF()
    val extractErr = errRow(entries.filter(col("error").isNotNull),
      ErrorCode.ExtractZip,
      concat(lit("error extracting metadata ZIP "), col("zip_name")))
    val records = entries.filter(col("error").isNull)
      .withColumn("props", udfs.parse_properties(col("bytes")))
      // A6: the record keyed by the ISBN is the book record (ref :106–107)
      .withColumn("kind",
        when(col("record_key") === col("isbn"), "book").otherwise("chapter"))

    // A7: ZIP with no book record → MISSING_BOOK_METADATA (ref :107–110).
    val books = records.filter(col("kind") === "book")
    val missingBook = errRow(
      records.select("zip_name").distinct()
        .join(books.select("zip_name"), Seq("zip_name"), "left_anti"),
      ErrorCode.MissingBookMetadata,
      concat(lit("no "), lit("book record for ISBN in "), col("zip_name")))

    // A8: genre semi-join vs the dimension (B13, ref :112–116, 170–173).
    // try_element_at, not element_at: under Spark 4's default ANSI mode a
    // missing map key THROWS and would abort the whole poll — the reference's
    // Properties.getProperty returns null for a missing key, so a book with
    // no Genre entry takes the null-genre → invalid-genre dead-letter path
    // (one malformed ZIP must never kill the batch, ref A15/A19).
    val genreDim = spark.createDataFrame(cfg.genres.map(Tuple1(_))).toDF("book_genre")
    val booksG = books.withColumn("book_genre",
      try_element_at(col("props"), lit(PropKey.Genre)))
    val validBooks = booksG.join(broadcast(genreDim), Seq("book_genre"), "left_semi")
    val invalidGenre = errRow(
      booksG.join(broadcast(genreDim), Seq("book_genre"), "left_anti"),
      ErrorCode.InvalidGenre,
      concat(lit("invalid genre in metadata ZIP "), col("zip_name")))

    // A13: all-metadata map (ref :228) — one aggregate keyed on zip_name —
    // plus the typed projection of the 15 process variables (ref :222–245).
    val okZipNames = validBooks.select("zip_name")
    // (collect_list order is partition-dependent; map key order is anyway
    // unspecified — consumers needing determinism sort at serialization)
    val allMeta = records.join(okZipNames, Seq("zip_name"), "left_semi")
      .groupBy(col("zip_name"))
      .agg(map_from_entries(collect_list(struct(col("record_key"), col("props"))))
        .as("all_metadata"))
    val newWorkflow = validBooks.join(allMeta, "zip_name")
      .select(
        col("isbn"),
        concat(lit("Best Publishing workflow for "), col("isbn")).as("workflow_description"),
        // try_element_at ≙ Properties.getProperty null-on-missing (ref
        // :231–236): absent keys project as null instead of throwing under
        // ANSI mode.
        try_element_at(col("props"), lit(PropKey.Title)).as("book_title"),
        col("book_genre"),
        try_element_at(col("props"), lit(PropKey.Authors)).as("book_authors"),
        try_element_at(col("props"), lit(PropKey.NrOfChapters)).as("nr_of_chapters"),
        try_element_at(col("props"), lit(PropKey.NrOfPages)).as("nr_of_pages"),
        lit(ingestTs).as("publishing_date"),
        lit(false).as("content_found"),
        lit(false).as("content_error_found"),
        lit(false).as("metadata_chapter_matching_ok"),
        lit(false).as("chapter_folder_hierarchy_exists"),
        lit(cfg.interruptT1TimerDuration).as("interrupt_t1_timer_duration"),
        lit(cfg.wait2Check4ContentTimerDuration).as("wait_2_check_content_timer_duration"),
        col("all_metadata"))

    // A12 + A19: only fully successful ZIPs persist to the raw zone (the
    // reference's per-ZIP transaction rolls the upload back on any error).
    val newRaw = g3.join(okZipNames, Seq("zip_name"), "left_semi")
      .select(col("zip_name"), col("content"), lit(ingestTs).as("ingest_ts"))

    val deadLetter = badIsbn.unionByName(extractErr)
      .unionByName(missingBook).unionByName(invalidGenre)

    PipelineOutput(newRaw, newWorkflow, deadLetter, skipped)
  }

  /** One batch pass (A20 ≙ the JMX manual trigger / CLI one-shot): read
    * state, process, append sinks. Dead letters are appended idempotently
    * (anti-join on (zip_name, error_code) vs the existing table) so a
    * re-run of the same input is a no-op across ALL sinks — the A9–A11
    * invariant run(run(x)) == run(x). */
  def runBatch(spark: SparkSession, cfg: IngestionConfig,
               ingestTs: Timestamp = new Timestamp(System.currentTimeMillis())): PipelineOutput =
    ingestPoll(spark, cfg, ingestTs)(readZips(spark, cfg.inputDir))

  /** The sink path both modes share: read gate state, [[process]] one
    * poll's `zips` (by-name, so the poll is scanned after the state is
    * read), then append raw, workflow and the dead letters not already
    * recorded for the same (zip_name, error_code). */
  private def ingestPoll(spark: SparkSession, cfg: IngestionConfig,
                         ingestTs: Timestamp)(zips: => DataFrame): PipelineOutput = {
    val state = readState(spark, cfg.warehouseDir)
    val out = process(spark, zips, state, cfg, ingestTs)
    val priorDl = zone(spark, cfg.warehouseDir, Zone.DeadLetter, deadLetterSchema)
    val newDl = out.deadLetter
      .join(priorDl.select("zip_name", "error_code"),
        Seq("zip_name", "error_code"), "left_anti")
    append(out.newRaw, s"${cfg.warehouseDir}/${Zone.Raw}")
    append(out.newWorkflow.withColumn("pub_year", year(col("publishing_date"))),
      s"${cfg.warehouseDir}/${Zone.Workflow}", partitionBy = Seq("pub_year"))
    append(newDl, s"${cfg.warehouseDir}/${Zone.DeadLetter}")
    out
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
