package graft.ingestion

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import model._

/** Golden end-to-end test of the Part A pipeline (SURVEY.md §5.2-4) plus the
  * A9–A11 invariant run(run(x)) == run(x). */
class PipelineSpec extends SparkSpecBase {

  private val ts1 = new Timestamp(1767225600000L) // 2026-01-01T00:00:00Z
  private val ts2 = new Timestamp(1767312000000L) // 2026-01-02

  private def seedGates(wh: String): Unit = {
    val s = spark
    import s.implicits._
    // gate 1: the ZIP name already sits in the raw zone
    Seq((Fixtures.zipName(Fixtures.books.find(_.isbn == Fixtures.IsbnGate1).get),
        Array.emptyByteArray, ts1))
      .toDF("zip_name", "content", "ingest_ts")
      .write.parquet(s"$wh/${Zone.Raw}")
    // gate 2: a workflow instance exists for the ISBN — seeded with the full
    // sink schema (a partial-schema file would win the no-merge schema race
    // when the spec reads the table back)
    val seedRow = org.apache.spark.sql.Row.fromSeq(
      Fixtures.IsbnGate2 +: Seq.fill(WorkflowCols.size - 1)(null))
    spark.createDataFrame(
        java.util.Arrays.asList(seedRow), MetadataPipeline.workflowSchema)
      .withColumn("pub_year", lit(2025))
      .write.partitionBy("pub_year").parquet(s"$wh/${Zone.Workflow}")
    // gate 3: the published {year}/{isbn} folder exists
    Seq((Fixtures.IsbnGate3, 2025)).toDF("isbn", "year")
      .write.parquet(s"$wh/${Zone.Published}")
  }

  private def table(wh: String, z: String) = spark.read.parquet(s"$wh/$z")

  private val C = MetadataPipeline.Counts

  test("batch run routes every fixture to the right sink, twice-idempotent") {
    val in = Fixtures.writeCorpus(scratch("pipe-in"))
    val wh = scratch("pipe-wh")
    seedGates(wh)
    val cfg = IngestionConfig(inputDir = in, warehouseDir = wh)

    MetadataPipeline.runBatch(spark, cfg, ts1)

    // workflow: the 3 fresh valid ISBNs (+ the 1-col gate seed row)
    val wf = table(wh, Zone.Workflow)
    val isbns = wf.select("isbn").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted
    assert(isbns === Seq(Fixtures.IsbnFresh1, Fixtures.IsbnFresh2,
      Fixtures.IsbnFresh3, Fixtures.IsbnGate2).sorted)
    val row = wf.filter(col("isbn") === Fixtures.IsbnFresh1).collect()(0)
    assert(row.getAs[String]("book_title") === "A First Book")
    assert(row.getAs[String]("book_genre") === "Fiction")
    assert(row.getAs[String]("nr_of_chapters") === "3")
    assert(row.getAs[Boolean]("content_found") === false)
    assert(row.getAs[String]("interrupt_t1_timer_duration") === "PT5M")
    val allMeta = row.getAs[Map[String, Map[String, String]]]("all_metadata")
    assert(allMeta.keySet === Set(Fixtures.IsbnFresh1, "chapter01", "chapter02", "chapter03"))
    assert(allMeta("chapter02")("ChapterTitle") === "Middle")

    // raw zone: only fully successful ZIPs, bytes identical to the input
    val raw = table(wh, Zone.Raw).filter(length(col("content")) > 0)
    val rawMap = raw.collect().map(r =>
      r.getAs[String]("zip_name") -> r.getAs[Array[Byte]]("content")).toMap
    assert(rawMap.keySet === Set(Fixtures.IsbnFresh1, Fixtures.IsbnFresh2, Fixtures.IsbnFresh3)
      .map(i => s"book-$i.zip"))
    rawMap.foreach { case (name, bytes) =>
      assert(bytes.sameElements(Files.readAllBytes(Paths.get(in, name))), name)
    }

    // dead letter: one row per failure mode
    val dl = table(wh, Zone.DeadLetter)
      .select("zip_name", "error_code").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    assert(dl === Seq(
      ("book-9781111111111.zip", ErrorCode.MissingIsbn),
      (s"book-${Fixtures.IsbnBadGenre}.zip", ErrorCode.InvalidGenre),
      (s"book-${Fixtures.IsbnCorrupt}-corrupt.zip", ErrorCode.ExtractZip),
      (s"book-${Fixtures.IsbnNoBook}.zip", ErrorCode.MissingBookMetadata),
      ("not-a-book.zip", ErrorCode.MissingIsbn)).sorted)

    // second run: nothing changes anywhere (gates + idempotent dead letter)
    val wfCount1 = wf.count()
    val n2 = MetadataPipeline.runBatch(spark, cfg, ts2)
    assert(n2(C.Workflow) === 0)
    assert(table(wh, Zone.Workflow).count() === wfCount1)
    assert(table(wh, Zone.Raw).count() === 4) // 3 + gate seed
    assert(table(wh, Zone.DeadLetter).count() === 5)
    assert((n2(C.DeadLetter), n2(C.DeadLetterAppended)) === ((5L, 0L)))
    // and the second run reports the fresh ISBNs as skipped by the gates:
    // the raw zone holds the 3 fresh ZIPs and the gate-1 seed by name, and
    // gate 1 skipped exactly those 4
    assert(rawMap.keySet.contains(s"book-${Fixtures.IsbnFresh1}.zip"))
    assert(n2(SkipGate.AlreadyUploaded) === 4)
    assert(n2(SkipGate.WorkflowExists) === 1)
    assert(n2(SkipGate.IsbnFolderExists) === 1)
    assert(n2(SkipGate.DuplicateInBatch) === 0)
  }

  test("two ZIPs with the same ISBN in one poll emit exactly one workflow row") {
    // gates only consult PRIOR state — intra-batch dedup must gate the
    // second ZIP (ref sequential processing would hit WORKFLOW_EXISTS)
    val in = scratch("pipe-in-dup")
    val wh = scratch("pipe-wh-dup")
    val b = Fixtures.books.find(_.isbn == Fixtures.IsbnFresh1).get
    val bytes = Fixtures.zipOf(b)
    Files.write(Paths.get(in, s"book-${b.isbn}.zip"), bytes)
    Files.write(Paths.get(in, s"book-${b.isbn}-copy.zip"), bytes)
    val n = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    assert(n(C.Workflow) === 1)
    // winner = first by zip_name, the only ZIP in the raw zone; the loser
    // surfaces as a DUPLICATE_IN_BATCH skip (not WORKFLOW_EXISTS — no
    // workflow row existed when it lost)
    val raw = table(wh, Zone.Raw).select("zip_name").collect().map(_.getString(0))
    assert(raw === Array(s"book-${b.isbn}-copy.zip"))
    assert(C.Gates.map(g => g -> n(g)).toMap ===
      C.Gates.map(_ -> 0L).toMap.updated(SkipGate.DuplicateInBatch, 1L))
    // re-poll: the winner is gated by the raw zone, the loser by the REAL
    // workflow state
    val n2 = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts2)
    assert(n2(C.Workflow) === 0)
    assert((n2(SkipGate.AlreadyUploaded), n2(SkipGate.WorkflowExists)) === ((1L, 1L)))
    assert(table(wh, Zone.Workflow).count() === 1)
  }

  test("workflow sink is partitioned by publishing year") {
    val wh = scratch("pipe-wh2")
    val in = Fixtures.writeCorpus(scratch("pipe-in2"))
    MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    assert(new java.io.File(s"$wh/${Zone.Workflow}/pub_year=2026").exists())
  }
}
