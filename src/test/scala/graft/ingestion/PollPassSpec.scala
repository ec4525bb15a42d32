package graft.ingestion

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import model._

/** The one-pass poll: a per-ZIP fate kernel, one materialized fates frame
  * for all three sinks, counts observed on that pass — and the per-ZIP
  * faults the kernel isolates (a repeated entry basename, a malformed
  * `.properties` escape, a file name with leading whitespace). */
class PollPassSpec extends SparkSpecBase {

  private val ts1 = new Timestamp(1767225600000L) // 2026-01-01T00:00:00Z
  private val ts2 = new Timestamp(1767312000000L)

  private def props(kv: Map[String, String]): Array[Byte] =
    kv.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("ISO-8859-1")

  private def put(dir: String, name: String, bytes: Array[Byte]): Unit = {
    Files.write(Paths.get(dir, name), bytes); ()
  }

  private def isbns(wh: String, z: String): Seq[String] =
    spark.read.parquet(s"$wh/$z").select("isbn").collect().map(_.getString(0)).toSeq.sorted

  private def names(wh: String, z: String): Seq[String] =
    spark.read.parquet(s"$wh/$z").select("zip_name").collect().map(_.getString(0)).toSeq.sorted

  test("one poll over 300 ZIPs into an empty warehouse runs a bounded number of jobs") {
    val in = scratch("pass-in")
    (0 until 300).foreach { i =>
      val b = Fixtures.Book(Fixtures.isbn(1000 + i), s"Book $i",
        Seq("Fiction", "Biography", "Poetry", "Children", "Reference")(i % 5),
        s"Author $i", 100 + i, (0 to i % 4).map(c => s"Chapter $c"))
      put(in, Fixtures.zipName(b), Fixtures.zipOf(b))
    }
    val wh = scratch("pass-wh")
    var out: MetadataPipeline.PipelineOutput = null
    val n = jobs { out = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1) }
    // the bound is what the one-pass poll measures here; per-sink re-runs
    // of the poll (the earlier shape ran 21) fail it
    assert(n <= 7, s"runBatch over 300 ZIPs ran $n jobs, bound 7")
    assert(out.counts(MetadataPipeline.Counts.Workflow) === 300)
    assert(out.counts(MetadataPipeline.Counts.DeadLetter) === 0)
    assert(isbns(wh, Zone.Workflow).size === 300)
    assert(names(wh, Zone.Raw).size === 300)
  }

  test("observed counts equal the poll's outputs, per gate") {
    val in = Fixtures.writeCorpus(scratch("count-in"))
    val wh = scratch("count-wh")
    val s = spark
    import s.implicits._
    Seq((Fixtures.zipName(Fixtures.books.find(_.isbn == Fixtures.IsbnGate1).get),
        Array.emptyByteArray, ts1))
      .toDF("zip_name", "content", "ingest_ts").write.parquet(s"$wh/${Zone.Raw}")
    Seq((Fixtures.IsbnGate3, 2025)).toDF("isbn", "year")
      .write.parquet(s"$wh/${Zone.Published}")
    put(in, s"book-${Fixtures.IsbnFresh1}-copy.zip",
      Fixtures.zipOf(Fixtures.books.find(_.isbn == Fixtures.IsbnFresh1).get))
    val out = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    val C = MetadataPipeline.Counts
    // gate 2 is unseeded here, so IsbnGate2 is fresh: 4 workflow rows
    assert(out.counts(C.Workflow) === 4)
    assert(out.counts(C.Workflow) === out.newWorkflow.count())
    assert(out.counts(C.DeadLetter) === 5)
    assert(out.counts(C.DeadLetter) === out.deadLetter.count())
    val byGate = out.skipped.groupBy("gate").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    C.Gates.foreach(g => assert(out.counts(g) === byGate.getOrElse(g, 0L), g))
    assert(out.counts(SkipGate.AlreadyUploaded) === 1)
    assert(out.counts(SkipGate.IsbnFolderExists) === 1)
    assert(out.counts(SkipGate.DuplicateInBatch) === 1)
    assert(isbns(wh, Zone.Workflow).size === 4)
    // a second poll over the same files finds the same 5 dead letters
    // (what the count reports), but appends none of them again
    val again = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts2)
    assert(again.counts(C.DeadLetter) === 5)
    assert(spark.read.parquet(s"$wh/${Zone.DeadLetter}").count() === 5)
  }

  test("a key repeated in history gates a polled ZIP once, never duplicates it") {
    val in = scratch("rep-in")
    val wh = scratch("rep-wh")
    val b = Fixtures.books.find(_.isbn == Fixtures.IsbnFresh1).get
    put(in, Fixtures.zipName(b), Fixtures.zipOf(b))
    val s = spark
    import s.implicits._
    Seq((Fixtures.zipName(b), Array.emptyByteArray, ts1),
        (Fixtures.zipName(b), Array.emptyByteArray, ts2))
      .toDF("zip_name", "content", "ingest_ts").write.parquet(s"$wh/${Zone.Raw}")
    Seq((b.isbn, 2024), (b.isbn, 2025)).toDF("isbn", "year")
      .write.parquet(s"$wh/${Zone.Published}")
    val out = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    val sk = out.skipped.select("zip_name", "gate").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(sk === Seq((Fixtures.zipName(b), SkipGate.AlreadyUploaded)))
    assert(out.counts(SkipGate.AlreadyUploaded) === 1)
  }

  test("two entries with one basename keep the last; the poll's other books survive") {
    val in = scratch("dupkey-in")
    val wh = scratch("dupkey-wh")
    val good = Fixtures.books.find(_.isbn == Fixtures.IsbnFresh1).get
    val dup = Fixtures.books.find(_.isbn == Fixtures.IsbnFresh2).get
    put(in, Fixtures.zipName(good), Fixtures.zipOf(good))
    put(in, Fixtures.zipName(dup), Fixtures.zipBytes(Seq(
      s"${dup.isbn}.txt" -> props(Fixtures.bookProps(dup)),
      "chapter01.txt" -> props(Map("ChapterTitle" -> "First draft")),
      "old/chapter01.txt" -> props(Map("ChapterTitle" -> "Archived")))))
    val cfg = IngestionConfig(in, wh)
    MetadataPipeline.runBatch(spark, cfg, ts1)
    assert(isbns(wh, Zone.Workflow) === Seq(good.isbn, dup.isbn).sorted)
    assert(names(wh, Zone.Raw) === Seq(good, dup).map(Fixtures.zipName).sorted)
    val meta = spark.read.parquet(s"$wh/${Zone.Workflow}")
      .filter(col("isbn") === dup.isbn).collect()(0)
      .getAs[Map[String, Map[String, String]]]("all_metadata")
    // the last entry in archive order wins (the reference's HashMap.put)
    assert(meta.keySet === Set(dup.isbn, "chapter01"))
    assert(meta("chapter01") === Map("ChapterTitle" -> "Archived"))
    // re-poll: both are now known, nothing is lost or re-appended
    val out2 = MetadataPipeline.runBatch(spark, cfg, ts2)
    assert(out2.counts(SkipGate.AlreadyUploaded) === 2)
    assert(isbns(wh, Zone.Workflow) === Seq(good.isbn, dup.isbn).sorted)
  }

  test("a malformed \\uXXXX escape dead-letters its ZIP only, as EXTRACT_ZIP") {
    val in = scratch("esc-in")
    val wh = scratch("esc-wh")
    val good = Fixtures.books.find(_.isbn == Fixtures.IsbnFresh1).get
    val bad = Fixtures.books.find(_.isbn == Fixtures.IsbnFresh2).get
    put(in, Fixtures.zipName(good), Fixtures.zipOf(good))
    put(in, Fixtures.zipName(bad), Fixtures.zipBytes(Seq(
      s"${bad.isbn}.txt" -> props(Fixtures.bookProps(bad)),
      "chapter01.txt" -> "ChapterTitle=Bad \\u12G4 escape\n".getBytes("ISO-8859-1"))))
    val out = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    assert(isbns(wh, Zone.Workflow) === Seq(good.isbn))
    assert(names(wh, Zone.Raw) === Seq(Fixtures.zipName(good)))
    val dl = spark.read.parquet(s"$wh/${Zone.DeadLetter}").collect()
      .map(r => (r.getAs[String]("zip_name"), r.getAs[String]("error_code"),
        r.getAs[String]("message"))).toSeq
    assert(dl === Seq((Fixtures.zipName(bad), ErrorCode.ExtractZip,
      s"error extracting metadata ZIP ${Fixtures.zipName(bad)}")))
    assert(out.counts(MetadataPipeline.Counts.DeadLetter) === 1)
  }

  test("a file name with leading whitespace keys raw and workflow by one zip_name") {
    val in = scratch("ws-in")
    val wh = scratch("ws-wh")
    val b = Fixtures.books.find(_.isbn == Fixtures.IsbnFresh1).get
    put(in, s"  ${Fixtures.zipName(b)}", Fixtures.zipOf(b))
    val cfg = IngestionConfig(in, wh)
    MetadataPipeline.runBatch(spark, cfg, ts1)
    assert(isbns(wh, Zone.Workflow) === Seq(b.isbn))
    assert(names(wh, Zone.Raw) === Seq(Fixtures.zipName(b)))
    // re-poll: gate 1 (the raw zone) is the one that matches
    val out2 = MetadataPipeline.runBatch(spark, cfg, ts2)
    val sk = out2.skipped.select("zip_name", "gate").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(sk === Seq((Fixtures.zipName(b), SkipGate.AlreadyUploaded)))
  }

  /** Spark jobs started while `body` runs (listener bus drained both sides). */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    org.apache.spark.GraftBusFlush.flush(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.GraftBusFlush.flush(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }
}
