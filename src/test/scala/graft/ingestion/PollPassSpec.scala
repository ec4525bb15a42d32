package graft.ingestion

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Measure, SparkSpecBase}
import model._

/** The one-pass poll: a per-ZIP fate kernel, one materialized fates frame
  * for all three sinks, counts observed on that pass — and the per-ZIP
  * faults the kernel isolates (a repeated entry basename, a malformed
  * `.properties` escape, a file name with leading whitespace). */
class PollPassSpec extends SparkSpecBase {

  private val ts1 = new Timestamp(1767225600000L) // 2026-01-01T00:00:00Z
  private val ts2 = new Timestamp(1767312000000L)
  private val C = MetadataPipeline.Counts

  private def props(kv: Map[String, String]): Array[Byte] =
    kv.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("ISO-8859-1")

  private def put(dir: String, name: String, bytes: Array[Byte]): Unit = {
    Files.write(Paths.get(dir, name), bytes); ()
  }

  private def isbns(wh: String, z: String): Seq[String] =
    spark.read.parquet(s"$wh/$z").select("isbn").collect().map(_.getString(0)).toSeq.sorted

  private def names(wh: String, z: String): Seq[String] =
    spark.read.parquet(s"$wh/$z").select("zip_name").collect().map(_.getString(0)).toSeq.sorted

  /** The fates a poll's counts add up to: one per polled ZIP. */
  private def fates(n: Map[String, Long]): Long =
    n(C.Workflow) + n(C.DeadLetter) + C.Gates.map(n).sum

  /** `n` fresh books with serials from `from`, one ZIP each, in `dir`. */
  private def books(dir: String, from: Int, n: Int): String = {
    (from until from + n).foreach { i =>
      val b = Fixtures.Book(Fixtures.isbn(1000 + i), s"Book $i",
        Seq("Fiction", "Biography", "Poetry", "Children", "Reference")(i % 5),
        s"Author $i", 100 + i, (0 to i % 4).map(c => s"Chapter $c"))
      put(dir, Fixtures.zipName(b), Fixtures.zipOf(b))
    }
    dir
  }

  test("one poll over 300 ZIPs into an empty warehouse runs a bounded number of jobs") {
    val in = books(scratch("pass-in"), 0, 300)
    val wh = scratch("pass-wh")
    val (n, m) =
      Measure.during(spark)(MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1))
    // the bound is what the one-pass poll measures here: the kernel's cut
    // and the raw and workflow appends; no gate lookup against absent
    // zones, and no dead-letter append when there are no dead letters. A
    // gate join or window (the earlier shape ran 7), per-sink re-runs of
    // the poll (21) or an empty append fail it
    assert(m.jobs <= 3, s"runBatch over 300 ZIPs ran ${m.jobs} jobs, bound 3")
    assert(n(C.Workflow) === 300)
    assert(n(C.DeadLetter) === 0)
    assert(isbns(wh, Zone.Workflow).size === 300)
    assert(names(wh, Zone.Raw).size === 300)
  }

  test("a 64-ZIP poll against a 300-ZIP history runs a bounded number of jobs") {
    val wh = scratch("hist-wh")
    MetadataPipeline.runBatch(spark, IngestionConfig(books(scratch("hist-in"), 0, 300), wh), ts1)
    val in = books(scratch("hist-poll"), 300, 64)
    val (n, m) =
      Measure.during(spark)(MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts2))
    // the one keys-only lookup (the three gates and the recorded dead
    // letters), the cut and the raw and workflow appends (no dead letters,
    // so no dead-letter append); a second read of the dead-letter zone (an
    // anti-join at the sink) fails it
    assert(m.jobs <= 4, s"a 64-ZIP poll against history ran ${m.jobs} jobs, bound 4")
    assert(n(C.Workflow) === 64)
    assert(isbns(wh, Zone.Workflow).size === 364)
  }

  // timestamps no other test uses: generated code compiled for a plan
  // holding one of them as a literal cannot be cached from an earlier test
  private def freshTs(minute: Int) = new Timestamp(1767398400000L + minute * 60000L)

  test("a second runBatch with a new ingest timestamp compiles no generated code") {
    val in = books(scratch("codegen-in"), 0, 16)
    MetadataPipeline.runBatch(spark, IngestionConfig(in, scratch("codegen-wh1")), freshTs(1))
    val (n, m) = Measure.during(spark)(
      MetadataPipeline.runBatch(spark, IngestionConfig(in, scratch("codegen-wh2")), freshTs(2)))
    assert(n(C.Workflow) === 16)
    // the timestamp is a value in the fates' rows; as a plan literal it is
    // inlined into the sink projections' Java, which then compiles again
    assert(m.compiles === 0, s"the second poll compiled ${m.compiles} classes")
  }

  test("a 64-ZIP AvailableNow micro-batch runs no stage with more tasks than cores") {
    val in = books(scratch("mb-in"), 0, 64)
    val wh = scratch("mb-wh")
    val (_, m) = Measure.during(spark)(MetadataPipeline.runStream(spark,
      IngestionConfig(in, wh), ingestTs = Some(freshTs(3))).awaitTermination())
    assert(isbns(wh, Zone.Workflow).size === 64)
    val cores = spark.sparkContext.defaultParallelism
    // the file stream source lists the batch's 64 files again in a Spark
    // job; at the default listing parallelism that job has a task per file
    val wide = m.stages.filter(_.tasks > cores)
    assert(wide.isEmpty, s"stages with more than $cores tasks: $wide")
  }

  test("a second micro-batch against history, with a new ingest timestamp, compiles nothing") {
    val in = scratch("mbc-in")
    val wh = scratch("mbc-wh")
    def land(wave: Int): Unit = books(in, 64 * wave, 64)
    // one query throughout: Spark keys its generated-code cache by the
    // thread's class loader, and a new streaming query compiles afresh.
    // Each micro-batch stamps its own ingest timestamp. A wave lands just
    // after a trigger that found nothing new, so the next trigger, a
    // second away, sees the whole wave
    val q = MetadataPipeline.runStream(spark, IngestionConfig(in, wh),
      Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      land(0); q.processAllAvailable() // into an empty warehouse
      land(1); q.processAllAvailable() // the first poll against history
      val (_, m) = Measure.during(spark) { land(2); q.processAllAvailable() }
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq === Seq(64, 64, 64))
      assert(isbns(wh, Zone.Workflow).size === 192)
      assert(m.compiles === 0, s"the third micro-batch compiled ${m.compiles} classes")
    } finally q.stop()
  }

  test("the poll's ingest timestamp is what raw, workflow and dead-letter zones hold") {
    val in = Fixtures.writeCorpus(scratch("ts-in"))
    val wh = scratch("ts-wh")
    MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    def values(z: String, c: String): Seq[Any] =
      spark.read.parquet(s"$wh/$z").select(c).collect().map(_.get(0)).toSeq
    val raw = values(Zone.Raw, "ingest_ts")
    val published = values(Zone.Workflow, "publishing_date")
    val years = values(Zone.Workflow, "pub_year")
    val dl = values(Zone.DeadLetter, "ts")
    assert((raw.size, published.size, dl.size) === ((6, 6, 5)))
    (raw ++ published ++ dl).foreach(t => assert(t === ts1))
    assert(years.toSet === Set(2026))
  }

  test("property: the driver's zip_name and ISBN equal the SQL derivation on random names") {
    val rnd = new scala.util.Random(20261019L)
    // spaces and tabs (Spark's trim strips U+0020 only), URI-special and
    // glob characters, non-ASCII (incl. a surrogate pair and other
    // Unicode spaces), '/' and ISBN fragments that may or may not line up
    val parts = Seq(" ", "  ", "\t", "%", "%20", "#", "[", "]", "{", "?", "/", "é", "日本",
      "\uD83D\uDE00", "\u00A0", "\u3000", "-", ".zip", "book", "978", "979", "97", "8",
      "0", "12345", "9780306406157", "97803064061579", "\uFF19\uFF17\uFF18")
    val paths = (0 until 3000).map { _ =>
      "file:/in/" + Seq.fill(rnd.nextInt(9))(parts(rnd.nextInt(parts.size))).mkString
    }
    val s = spark
    import s.implicits._
    val sql = paths.toDF("path")
      .select(col("path"), trim(element_at(split(col("path"), "/"), -1)).as("zip_name"))
      .withColumn("isbn", regexp_extract(col("zip_name"), "(97[89][0-9]{10})", 1))
      .as[(String, String, String)].collect()
    assert(sql.length === paths.size)
    assert(sql.count(_._3.nonEmpty) > 100, "too few generated names hold an ISBN")
    assert(sql.count(r => r._2.startsWith("\t")) > 10, "too few names start with a tab")
    sql.foreach { case (path, zipName, isbn) =>
      assert(MetadataPipeline.zipNameOf(path) === zipName, s"zip_name of <$path>")
      assert(MetadataPipeline.isbnOf(zipName) === isbn, s"isbn of <$zipName>")
    }
  }

  test("runBatch and an AvailableNow runStream give every oddly named ZIP its verdict") {
    val in = scratch("odd-in")
    // a JVM whose file-name encoding (sun.jnu.encoding, from the locale)
    // is ASCII can neither create nor open a non-ASCII file name: those
    // names run only where the locale can spell them
    val fileNames = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    val odd = Seq("  book-%s.zip", "book %s café.zip", "100%% %s.zip", "#%s[1].zip",
      "日本 %s {x}.zip", "\t%s.zip", "a%%20b %s.zip", "%s \uD83D\uDE00 .zip")
      .filter(fileNames.newEncoder().canEncode(_))
    assert(odd.size >= 5)
    val bks = odd.indices.map { i =>
      Fixtures.Book(Fixtures.isbn(5000 + i), s"Odd $i", "Poetry", s"Author $i", 10 + i,
        Seq("Chapter 0"))
    }
    val files = odd.zip(bks).map { case (f, b) => f.format(b.isbn) -> b }
    files.foreach { case (name, b) => put(in, name, Fixtures.zipOf(b)) }
    put(in, "[no isbn] 100%.zip", Fixtures.zipOf(bks.head))
    val whB = scratch("odd-wh-batch")
    val n = MetadataPipeline.runBatch(spark, IngestionConfig(in, whB), ts1)
    assert(n(C.Workflow) === odd.size)
    assert(isbns(whB, Zone.Workflow) === bks.map(_.isbn).sorted)
    assert(names(whB, Zone.Raw) === files.map(f => MetadataPipeline.zipNameOf(f._1)).sorted)
    val dl = spark.read.parquet(s"$whB/${Zone.DeadLetter}").collect()
      .map(r => (r.getAs[String]("zip_name"), r.getAs[String]("error_code"))).toSeq
    assert(dl === Seq(("[no isbn] 100%.zip", ErrorCode.MissingIsbn)))
    val whS = scratch("odd-wh-stream")
    MetadataPipeline.runStream(spark, IngestionConfig(in, whS), ingestTs = Some(ts1))
      .awaitTermination()
    Seq((Zone.Workflow, "isbn"), (Zone.Raw, "zip_name"), (Zone.DeadLetter, "zip_name"))
      .foreach { case (z, key) =>
        def keys(wh: String) = spark.read.parquet(s"$wh/$z").select(key).collect()
          .map(_.getString(0)).toSeq.sorted
        assert(keys(whS) === keys(whB), s"zone $z")
      }
  }

  test("a throwing dead-letter append fails the poll after raw and workflow are written") {
    val in = Fixtures.writeCorpus(scratch("dlfail-in"))
    val clean = scratch("dlfail-clean")
    MetadataPipeline.runBatch(spark, IngestionConfig(in, clean), ts1)
    val wh = scratch("dlfail-wh")
    // a plain file where the dead-letter table goes: it holds no recorded
    // dead letters, and the append into it fails
    put(wh, Zone.DeadLetter, "not a parquet table".getBytes("UTF-8"))
    intercept[Exception](MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1))
    assert(isbns(wh, Zone.Workflow) === isbns(clean, Zone.Workflow))
    assert(names(wh, Zone.Raw) === names(clean, Zone.Raw))
  }

  test("the side write runs beside the chain, with the caller's job properties; " +
      "a release after the call sees both finished") {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def seen = events.toArray.toSeq
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.poll", "p1")
    try {
      try MetadataPipeline.alongside(spark) {
        Thread.sleep(300)
        events.add(s"side ${sc.getLocalProperty("graft.test.poll")} ${spark.range(10).count()}")
      } { events.add("main") }
      finally events.add("release")
      assert(seen === Seq("main", "side p1 10", "release"))
      // a throwing side fails the call, but only once main has finished
      events.clear()
      val side = intercept[IllegalStateException] {
        try MetadataPipeline.alongside(spark)(throw new IllegalStateException("side")) {
          Thread.sleep(200)
          events.add("main")
        }
        finally events.add("release")
      }
      assert(side.getMessage === "side")
      assert(seen === Seq("main", "release"))
      // main's error wins once the side has finished; the side's rides along
      events.clear()
      val main = intercept[IllegalArgumentException] {
        try MetadataPipeline.alongside(spark) {
          Thread.sleep(200)
          events.add("side")
          throw new IllegalStateException("side")
        } { throw new IllegalArgumentException("main") }
        finally events.add("release")
      }
      assert(main.getMessage === "main")
      assert(main.getSuppressed.map(_.getMessage).toSeq === Seq("side"))
      assert(seen === Seq("side", "release"))
    } finally sc.setLocalProperty("graft.test.poll", null)
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
    val cfg = IngestionConfig(in, wh)
    // the same poll as process's lazy frames over the pre-poll state,
    // evaluated before the poll writes anything
    val pre = MetadataPipeline.process(spark, MetadataPipeline.readZips(spark, in),
      MetadataPipeline.readState(spark, wh), cfg, ts1)
    val (wfRows, dlRows) = (pre.newWorkflow.count(), pre.deadLetter.count())
    val byGate = pre.skipped.groupBy("gate").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = MetadataPipeline.runBatch(spark, cfg, ts1)
    // gate 2 is unseeded here, so IsbnGate2 is fresh: 4 workflow rows
    assert(n(C.Workflow) === 4)
    assert(n(C.Workflow) === wfRows)
    assert(n(C.DeadLetter) === 5)
    assert(n(C.DeadLetter) === dlRows)
    assert(n(C.DeadLetterAppended) === 5)
    C.Gates.foreach(g => assert(n(g) === byGate.getOrElse(g, 0L), g))
    assert(n(SkipGate.AlreadyUploaded) === 1)
    assert(n(SkipGate.IsbnFolderExists) === 1)
    assert(n(SkipGate.DuplicateInBatch) === 1)
    assert(isbns(wh, Zone.Workflow).size === 4)
    // a second poll over the same files finds the same 5 dead letters
    // (what the count reports), but appends none of them again
    val again = MetadataPipeline.runBatch(spark, cfg, ts2)
    assert(again(C.DeadLetter) === 5)
    assert(again(C.DeadLetterAppended) === 0)
    assert(spark.read.parquet(s"$wh/${Zone.DeadLetter}").count() === 5)
  }

  test("a ZIP whose error code changes between polls appends one dead letter per code") {
    val in = scratch("recode-in")
    val wh = scratch("recode-wh")
    val cfg = IngestionConfig(in, wh)
    val b = Fixtures.books.find(_.isbn == Fixtures.IsbnFresh1).get
    val name = Fixtures.zipName(b)
    def dl = spark.read.parquet(s"$wh/${Zone.DeadLetter}").collect()
      .map(r => (r.getAs[String]("zip_name"), r.getAs[String]("error_code"))).toSeq.sorted
    put(in, name, Array[Byte](1, 2, 3)) // not a ZIP
    MetadataPipeline.runBatch(spark, cfg, ts1)
    assert(dl === Seq((name, ErrorCode.ExtractZip)))
    put(in, name, Fixtures.zipOf(b.copy(genre = "Cooking")))
    MetadataPipeline.runBatch(spark, cfg, ts2)
    val both = Seq((name, ErrorCode.ExtractZip), (name, ErrorCode.InvalidGenre)).sorted
    assert(dl === both)
    // the same code again: the pair is recorded, nothing is appended
    MetadataPipeline.runBatch(spark, cfg, ts2)
    assert(dl === both)
  }

  test("file:// warehouse and input URIs: a re-run gates every uploaded ZIP, appends nothing") {
    val in = "file://" + Fixtures.writeCorpus(scratch("uri-in"))
    val wh = "file://" + scratch("uri-wh")
    val cfg = IngestionConfig(in, wh)
    def rows(z: String) = spark.read.parquet(s"$wh/$z").count()
    val first = MetadataPipeline.runBatch(spark, cfg, ts1)
    assert(first(C.Workflow) === 6)
    assert(first(C.DeadLetter) === 5)
    val again = MetadataPipeline.runBatch(spark, cfg, ts2)
    assert(again(C.Workflow) === 0)
    assert(again(SkipGate.AlreadyUploaded) === 6)
    assert((rows(Zone.Workflow), rows(Zone.Raw), rows(Zone.DeadLetter)) === ((6L, 6L, 5L)))
  }

  test("a re-poll of an unchanged input writes no file to any zone") {
    val in = Fixtures.writeCorpus(scratch("repoll-in"))
    val wh = scratch("repoll-wh")
    val cfg = IngestionConfig(in, wh)
    def files(): Seq[String] = {
      val walk = Files.walk(Paths.get(wh))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Paths.get(wh).relativize(_).toString).toSeq.sorted
      finally walk.close()
    }
    val first = MetadataPipeline.runBatch(spark, cfg, ts1)
    assert((first(C.Workflow), first(C.DeadLetterAppended)) === ((6L, 5L)))
    val written = files()
    Seq(Zone.Raw, Zone.Workflow, Zone.DeadLetter).foreach(z =>
      assert(written.exists(_.startsWith(s"$z/")), z))
    // nothing to commit: every ok ZIP is gated, every dead letter recorded
    val again = MetadataPipeline.runBatch(spark, cfg, ts2)
    assert((again(C.Workflow), again(C.DeadLetterAppended)) === ((0L, 0L)))
    assert(files() === written)
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
    val n = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    // the one polled ZIP has one fate, gate 1's
    assert(fates(n) === 1)
    assert(n(SkipGate.AlreadyUploaded) === 1)
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
    val n2 = MetadataPipeline.runBatch(spark, cfg, ts2)
    assert(n2(SkipGate.AlreadyUploaded) === 2)
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
    val n = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    assert(isbns(wh, Zone.Workflow) === Seq(good.isbn))
    assert(names(wh, Zone.Raw) === Seq(Fixtures.zipName(good)))
    val dl = spark.read.parquet(s"$wh/${Zone.DeadLetter}").collect()
      .map(r => (r.getAs[String]("zip_name"), r.getAs[String]("error_code"),
        r.getAs[String]("message"))).toSeq
    assert(dl === Seq((Fixtures.zipName(bad), ErrorCode.ExtractZip,
      s"error extracting metadata ZIP ${Fixtures.zipName(bad)}")))
    assert(n(C.DeadLetter) === 1)
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
    val n2 = MetadataPipeline.runBatch(spark, cfg, ts2)
    assert(fates(n2) === 1)
    assert(n2(SkipGate.AlreadyUploaded) === 1)
  }
}
