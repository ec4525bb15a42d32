package graft.ingestion

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{Measure, SparkSpecBase}
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
    val (out, m) =
      Measure.during(spark)(MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1))
    val n = m.jobs
    // the bound is what the one-pass poll measures here: the kernel's cut
    // and the three appends, no gate lookup against absent zones. A gate
    // join or window (the earlier shape ran 7) or per-sink re-runs of the
    // poll (21) fail it
    assert(n <= 4, s"runBatch over 300 ZIPs ran $n jobs, bound 4")
    assert(out.counts(MetadataPipeline.Counts.Workflow) === 300)
    assert(out.counts(MetadataPipeline.Counts.DeadLetter) === 0)
    assert(isbns(wh, Zone.Workflow).size === 300)
    assert(names(wh, Zone.Raw).size === 300)
  }

  test("a 64-ZIP poll against a 300-ZIP history runs a bounded number of jobs") {
    val wh = scratch("hist-wh")
    MetadataPipeline.runBatch(spark, IngestionConfig(books(scratch("hist-in"), 0, 300), wh), ts1)
    val in = books(scratch("hist-poll"), 300, 64)
    val (out, m) =
      Measure.during(spark)(MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts2))
    // the one keys-only lookup (the three gates and the recorded dead
    // letters), the cut and the three appends; a second read of the
    // dead-letter zone (an anti-join at the sink) fails it
    assert(m.jobs <= 5, s"a 64-ZIP poll against history ran ${m.jobs} jobs, bound 5")
    assert(out.counts(MetadataPipeline.Counts.Workflow) === 64)
    assert(isbns(wh, Zone.Workflow).size === 364)
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
    val out = MetadataPipeline.runBatch(spark, IngestionConfig(in, whB), ts1)
    assert(out.counts(MetadataPipeline.Counts.Workflow) === odd.size)
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
    val out = MetadataPipeline.runBatch(spark, IngestionConfig(in, wh), ts1)
    val C = MetadataPipeline.Counts
    // gate 2 is unseeded here, so IsbnGate2 is fresh: 4 workflow rows
    assert(out.counts(C.Workflow) === 4)
    assert(out.counts(C.Workflow) === out.newWorkflow.count())
    assert(out.counts(C.DeadLetter) === 5)
    assert(out.counts(C.DeadLetter) === out.deadLetter.count())
    assert(out.counts(C.DeadLetterAppended) === 5)
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
    assert(again.counts(C.DeadLetterAppended) === 0)
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
    val C = MetadataPipeline.Counts
    def rows(z: String) = spark.read.parquet(s"$wh/$z").count()
    val first = MetadataPipeline.runBatch(spark, cfg, ts1)
    assert(first.counts(C.Workflow) === 6)
    assert(first.counts(C.DeadLetter) === 5)
    val again = MetadataPipeline.runBatch(spark, cfg, ts2)
    assert(again.counts(C.Workflow) === 0)
    assert(again.counts(SkipGate.AlreadyUploaded) === 6)
    assert((rows(Zone.Workflow), rows(Zone.Raw), rows(Zone.DeadLetter)) === ((6L, 6L, 5L)))
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
}
