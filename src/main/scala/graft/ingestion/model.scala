package graft.ingestion

/** Typed model for the metadata-ingestion pipeline (SURVEY.md §1/§2 Part A).
  *
  * Mirrors the reference's dataflow semantics (one ZIP per book, ISBN in the
  * filename, `.properties` entries for the book + each chapter; see
  * reference MetadataIngestionServiceImpl.java:95–123) re-expressed as a
  * typed Spark schema instead of `HashMap<String, Properties>`.
  */
object model {

  /** One non-directory ZIP entry, or an extraction error for the whole ZIP.
    * `error` is None for data rows; Some(code) rows carry no entry. */
  case class ZipEntryRow(
      zip_path: String,
      zip_name: String,
      isbn: String,
      entry_name: String,
      record_key: String,
      bytes: Array[Byte],
      error: Option[String])

  /** One polled ZIP's fate, a row of the per-poll fates frame. `fate` is one
    * of [[Fate]]'s labels; `code` is the error code (Dead) or the gate
    * (Skip) and null when ok; `message` is set on dead letters only. Ok
    * rows carry the archive bytes for the raw zone, the book record's props
    * and all_metadata (record_key → props); the other rows carry nulls.
    * Every row carries the poll's ingest timestamp. */
  case class ZipFate(
      zip_name: String,
      isbn: String,
      fate: String,
      code: String,
      message: String,
      content: Array[Byte],
      book: Map[String, String],
      all_metadata: Map[String, Map[String, String]],
      ingest_ts: java.sql.Timestamp)

  object Fate {
    val Ok = "OK"
    val Skip = "SKIP"
    val Dead = "DEAD"
  }

  /** Typed error codes — mirrors the reference's ProcessingErrorCode usage
    * (MetadataIngestionServiceImpl.java:109, 115, 158) plus the
    * filename-contract failure (MetadataIngestionExecuter.java:62). */
  object ErrorCode {
    val MissingIsbn = "METADATA_INGESTION_MISSING_ISBN"
    val MissingBookMetadata = "METADATA_INGESTION_MISSING_BOOK_METADATA"
    val InvalidGenre = "METADATA_INGESTION_INVALID_GENRE"
    val ExtractZip = "METADATA_INGESTION_EXTRACT_ZIP"
  }

  /** Gate labels for ZIPs skipped by the three idempotency checks
    * (A9–A11 ≙ MetadataIngestionServiceImpl.java:181–210). Skips are not
    * errors — the reference logs and returns false; we surface them as an
    * observability output. */
  object SkipGate {
    val AlreadyUploaded = "ALREADY_UPLOADED"   // gate 1, ref :182–188
    val WorkflowExists = "WORKFLOW_EXISTS"     // gate 2, ref :190–198
    val IsbnFolderExists = "ISBN_FOLDER_EXISTS" // gate 3, ref :200–207
    /** Intra-batch loser: a second ZIP with the same ISBN in ONE poll. The
      * reference's sequential per-ZIP loop would gate it WORKFLOW_EXISTS —
      * but only after the winner actually commits; in a set-based batch no
      * workflow row exists yet (and the winner may still dead-letter), so a
      * WORKFLOW_EXISTS record here could be counterfactual. A distinct tag
      * keeps the skip audit trail truthful. */
    val DuplicateInBatch = "DUPLICATE_IN_BATCH"
  }

  /** Keys looked up inside a book `.properties` record. The reference pulls
    * these from the external BestPubMetadataFileModel (call sites at
    * MetadataIngestionServiceImpl.java:231–236); the constant names are not
    * in the repo, so the key spellings here are this engine's contract. */
  object PropKey {
    val Title = "Title"
    val Genre = "Genre"
    val Authors = "Authors"
    val NrOfChapters = "NrOfChapters"
    val NrOfPages = "NrOfPages"
  }

  /** Pipeline configuration ≙ alfresco-global.properties:7–19 (cadence,
    * timers) + ingestion-context.xml wiring (paths, genre dimension). */
  case class IngestionConfig(
      inputDir: String,
      warehouseDir: String,
      genres: Seq[String] = Seq("Fiction", "NonFiction", "Biography",
        "Children", "Poetry", "Reference"),
      interruptT1TimerDuration: String = "PT5M",
      wait2Check4ContentTimerDuration: String = "PT1M",
      pollInterval: String = "10 seconds")

  /** State/sink table names under `warehouseDir`. */
  object Zone {
    val Raw = "raw_zone"           // A12 ≙ the Incoming/Metadata folder
    val Workflow = "workflow"      // A14 ≙ started workflow instances
    val Published = "published"    // A11 input ≙ documentLibrary/{year}/{isbn}
    val DeadLetter = "dead_letter" // A15 ≙ per-ZIP error routing
  }

  /** The 15 process variables assembled by the reference's
    * startBestPubWorkflowInstance (MetadataIngestionServiceImpl.java:222–245):
    * description, all_metadata, isbn, 5 book fields, publishing date,
    * 4 false control flags, 2 timer durations. */
  val WorkflowCols = Seq(
    "isbn", "workflow_description", "book_title", "book_genre",
    "book_authors", "nr_of_chapters", "nr_of_pages", "publishing_date",
    "content_found", "content_error_found", "metadata_chapter_matching_ok",
    "chapter_folder_hierarchy_exists", "interrupt_t1_timer_duration",
    "wait_2_check_content_timer_duration", "all_metadata")
}
