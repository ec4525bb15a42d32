package perfbench

import java.io.{File, FileOutputStream, PrintWriter}
import java.util.SplittableRandom

import graft.ingestion.Fixtures
import graft.ingestion.model.{ErrorCode, SkipGate}

/** Seeded ZIP corpus for the ingestion workloads, built on the program's own
  * `Fixtures.isbn` (check-digit ISBNs) and `Fixtures.zipBytes` (STORED
  * entries, fixed mtimes), plus a manifest of each ZIP's expected outcome.
  *
  * What varies with the seed: which books are malformed and how, chapters
  * per book (skewed 1..40, most books short), entry size (log-uniform
  * summary text), which history ZIPs a poll wave repeats, and the ISBN
  * serial range. The shares (malformed, per-gate repeats, in-batch
  * duplicates) are fixed by the workload, so every seed does the same kind
  * of work.
  */
object Corpus {
  val Workflow = "workflow"
  val DeadLetter = "dead_letter"
  val Skip = "skip"

  /** One generated ZIP and what the pipeline must do with it. `detail` is
    * the error code for a dead letter, the gate for a skip, "" otherwise. */
  case class Zip(name: String, bytes: Array[Byte], isbn: String,
                 outcome: String, detail: String)

  val ValidGenres: Vector[String] = Vector("Fiction", "NonFiction", "Biography",
    "Children", "Poetry", "Reference")
  val MalformedCodes: Vector[String] = Vector(ErrorCode.MissingIsbn,
    ErrorCode.ExtractZip, ErrorCode.MissingBookMetadata, ErrorCode.InvalidGenre)

  /** Single-threaded generator; the same seed yields the same bytes. ISBN
    * serials start at a seed-dependent offset and never repeat. */
  final class Gen(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private var serial: Int = 1 + (math.floorMod(seed, 400L).toInt * 1000000)
    private var malformedTurn = 0

    def nextIsbn(): String = { serial += 1; Fixtures.isbn(serial) }

    private def word(len: Int): String = {
      val sb = new StringBuilder(len)
      var i = 0
      while (i < len) { sb.append(('a' + rnd.nextInt(26)).toChar); i += 1 }
      sb.toString
    }

    /** Text of log-uniform length in [16, 2048) characters. */
    private def text(): String = {
      val len = math.exp(math.log(16) + rnd.nextDouble() * math.log(128)).toInt
      val sb = new StringBuilder(len + 8)
      while (sb.length < len) sb.append(word(1 + rnd.nextInt(9))).append(' ')
      sb.toString.trim
    }

    /** Chapters per book: 1 + floor(39 u^3), so most books are short and a
      * few have up to 40 chapters. A batch draws u stratified (one draw per
      * 1/n slice, shuffled), so every seed's batch has the same spread of
      * book sizes and only which book gets which size changes. */
    private var chapterPlan: List[Int] = Nil
    private def chapters(): Int = chapterPlan match {
      case c :: rest => chapterPlan = rest; c
      case Nil => chaptersAt(rnd.nextDouble())
    }
    private def chaptersAt(u: Double): Int = 1 + (39 * math.pow(u, 3)).toInt

    private def props(kv: Seq[(String, String)]): Array[Byte] =
      kv.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n").getBytes("ISO-8859-1")

    private def bookZip(isbn: String, genre: String, withBook: Boolean): Array[Byte] = {
      val n = chapters()
      val book = Fixtures.Book(isbn, word(6) + " " + word(8), genre,
        word(5) + " " + word(7), 10 + rnd.nextInt(900),
        (1 to n).map(i => s"Chapter $i ${word(6)}"))
      val entries =
        (if (withBook) Seq(s"$isbn.txt" -> props(Fixtures.bookProps(book).toSeq))
         else Nil) ++
        (0 until n).map { i =>
          f"chapter${i + 1}%02d.txt" -> props(
            Fixtures.chapterProps(book, i).toSeq :+ ("Summary" -> text()))
        }
      Fixtures.zipBytes(entries)
    }

    def valid(): Zip = validFor(nextIsbn())

    /** A well-formed book ZIP for a given ISBN. */
    def validFor(isbn: String): Zip =
      Zip(s"book-$isbn.zip", bookZip(isbn, ValidGenres(rnd.nextInt(ValidGenres.size)), true),
        isbn, Workflow, "")

    /** A malformed ZIP; the four dead-letter codes are taken in turn so
      * every corpus spreads them evenly. */
    def malformed(): Zip = {
      val code = MalformedCodes(malformedTurn % MalformedCodes.size)
      malformedTurn += 1
      val isbn = nextIsbn()
      val genre = ValidGenres(rnd.nextInt(ValidGenres.size))
      code match {
        case ErrorCode.MissingIsbn =>
          // flip the check digit: the name carries no valid ISBN-13
          val bad = isbn.init + ((isbn.last - '0' + 1) % 10).toString
          Zip(s"book-$bad.zip", bookZip(isbn, genre, true), "", DeadLetter, code)
        case ErrorCode.ExtractZip =>
          val junk = new Array[Byte](64 + rnd.nextInt(4096))
          junk.indices.foreach(i => junk(i) = rnd.nextInt(256).toByte)
          junk(0) = 0 // never the "PK" local-header magic
          Zip(s"book-$isbn.zip", junk, isbn, DeadLetter, code)
        case ErrorCode.MissingBookMetadata =>
          Zip(s"book-$isbn.zip", bookZip(isbn, genre, false), isbn, DeadLetter, code)
        case _ =>
          Zip(s"book-$isbn.zip", bookZip(isbn, "Cooking", true), isbn, DeadLetter, code)
      }
    }

    /** Two valid ZIPs carrying one ISBN. The pipeline keeps the smaller
      * zip_name and skips the other as DUPLICATE_IN_BATCH. */
    def duplicatePair(): Seq[Zip] = {
      val isbn = nextIsbn()
      val genre = ValidGenres(rnd.nextInt(ValidGenres.size))
      val names = Seq(s"book-$isbn.zip", s"book-$isbn-b.zip").sorted
      Seq(Zip(names(0), bookZip(isbn, genre, true), isbn, Workflow, ""),
        Zip(names(1), bookZip(isbn, genre, true), isbn, Skip, SkipGate.DuplicateInBatch))
    }

    /** Plans the chapter counts of the next `n` books: one stratified
      * draw per 1/n slice, shuffled. */
    def stratify(n: Int): Unit =
      chapterPlan = shuffle(Vector.tabulate(n)(i => chaptersAt((i + rnd.nextDouble()) / n))).toList

    /** `n` ZIPs of which `malformedShare` are malformed and `dupShare` are
      * in-batch duplicate pairs, shuffled. */
    def batch(n: Int, malformedShare: Double, dupShare: Double): Vector[Zip] = {
      val nBad = math.round(n * malformedShare).toInt
      val nDup = math.round(n * dupShare / 2).toInt * 2
      stratify(n)
      val zips = Vector.fill(nBad)(malformed()) ++
        Vector.fill(nDup / 2)(duplicatePair()).flatten ++
        Vector.fill(n - nBad - nDup)(valid())
      shuffle(zips)
    }

    def shuffle[A](xs: Vector[A]): Vector[A] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toVector.asInstanceOf[Vector[A]]
    }

    def pick[A](xs: IndexedSeq[A], k: Int): Vector[A] = shuffle(xs.toVector).take(k)
  }

  def writeZips(dir: File, zips: Seq[Zip]): Long = {
    dir.mkdirs()
    zips.foldLeft(0L) { (total, z) =>
      val out = new FileOutputStream(new File(dir, z.name))
      try out.write(z.bytes) finally out.close()
      total + z.bytes.length
    }
  }

  /** Appends manifest rows: phase, wave, zip_name, isbn, outcome, detail,
    * bytes (tab-separated; the runner's output check reads them). */
  def appendManifest(file: File, phase: String, wave: Int, zips: Seq[Zip]): Unit = {
    val w = new PrintWriter(new java.io.FileWriter(file, true))
    try zips.foreach { z =>
      w.println(Seq(phase, wave, z.name, z.isbn, z.outcome, z.detail, z.bytes.length)
        .mkString("\t"))
    } finally w.close()
  }
}
