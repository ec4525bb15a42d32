package graft.ingestion

import graft.SparkSpecBase
import model.ErrorCode

/** A3/A4/B47: ZIP-entry explode against its own pure-JVM behavior on the
  * deterministic fixture corpus (SURVEY.md §5.2-2). */
class ZipExplodeSpec extends SparkSpecBase {

  private val book = Fixtures.books.head

  test("explodeOne yields one row per non-directory entry, keyed by basename") {
    val rows = ZipExplode.explodeOne(s"/in/${Fixtures.zipName(book)}", Fixtures.zipOf(book))
    assert(rows.forall(_.error.isEmpty))
    // book record + 3 chapters; the meta/ directory entry is skipped
    assert(rows.map(_.record_key).sorted ===
      Seq(book.isbn, "chapter01", "chapter02", "chapter03"))
    assert(rows.forall(_.isbn == book.isbn))
    assert(rows.forall(_.zip_name == Fixtures.zipName(book)))
    val bookRow = rows.find(_.record_key == book.isbn).get
    assert(graft.functions.udfs.parseProperties(bookRow.bytes) === Fixtures.bookProps(book))
    // keyed as the pipeline keys a ZIP: spaces trimmed, a backslash kept
    val odd = ZipExplode.explodeOne(s"/in/  old\\${Fixtures.zipName(book)} ",
      Fixtures.zipOf(book))
    assert(odd.map(r => (r.zip_name, r.isbn)).distinct ===
      Seq((s"old\\${Fixtures.zipName(book)}", book.isbn)))
  }

  test("corrupt or empty archives produce a single EXTRACT_ZIP error row") {
    val bad = ZipExplode.explodeOne("/in/book-9780000000002.zip", Array[Byte](1, 2, 3))
    assert(bad.map(_.error) === Seq(Some(ErrorCode.ExtractZip)))
    val empty = ZipExplode.explodeOne("/in/book-9780000000002.zip", Fixtures.zipBytes(Nil))
    assert(empty.map(_.error) === Seq(Some(ErrorCode.ExtractZip)))
  }

  test("isbnOf finds the 978/979 run and tolerates junk") {
    assert(MetadataPipeline.isbnOf("book-9780306406157.zip") === "9780306406157")
    assert(MetadataPipeline.isbnOf("  9790000000000-x.zip ") === "9790000000000")
    assert(MetadataPipeline.isbnOf("nothing-here.zip") === "")
    assert(MetadataPipeline.isbnOf("97803064061.zip") === "") // too short
  }

  test("the Spark flatMap path matches explodeOne") {
    val s = spark
    import s.implicits._
    val zips = Seq(
      (s"/in/${Fixtures.zipName(book)}", Fixtures.zipOf(book)),
      ("/in/book-9780000000002-bad.zip", Array[Byte](9, 9)))
      .toDF("path", "content")
    val got = ZipExplode.entries(spark, zips).collect()
      .map(r => (r.zip_path, r.record_key, r.error)).sortBy(t => (t._1, t._2))
    val want = (ZipExplode.explodeOne(s"/in/${Fixtures.zipName(book)}", Fixtures.zipOf(book)) ++
        ZipExplode.explodeOne("/in/book-9780000000002-bad.zip", Array[Byte](9, 9)))
      .map(r => (r.zip_path, r.record_key, r.error)).sortBy(t => (t._1, t._2))
    assert(got.toSeq === want)
  }
}
