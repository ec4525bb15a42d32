package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import graft.SparkEntry

/** `curate_llm`: timed passes over the BPE entries of `SparkEntry.queries`
  * (graft.operators.Bpe through graft.queries), each entry forced by
  * writing its output as parquet, which the runner then checks (row count
  * and content hash, read with DuckDB) and sizes.
  *
  * One untimed pass warms the entries' plans and code; the timed passes
  * follow. The input table is generated here from a fixed generator seed,
  * so every run sees the same table and the output check can compare
  * against values recorded once (curate_expected.json); the workload seed
  * sets the entry order of each timed pass.
  */
object Curate {
  val Entries: Seq[String] = Seq("q_bpe_merges", "q_text_tokens_learned")
  val Docs = 1000
  val TableSeed = 20211L

  private val Vocab = ("key agg row scan slow fast table value part hash a merge batch " +
    "spark the line sort window small data column join customer query big order " +
    "filter stream group vector").split(" ")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14, "es" -> 0.15, "fr" -> 0.15)

  /** Writes `documents.parquet` (the fixture schema) under `dir`. About one
    * document in ten is a near copy of an earlier one (one word changed)
    * and one in a hundred an exact copy. */
  def writeDocuments(c: Ctx, dir: String): Unit = {
    import c.spark.implicits._
    val rnd = new SplittableRandom(TableSeed)
    val texts = mutable.ArrayBuffer[String]()
    (0 until Docs).foreach { i =>
      val u = rnd.nextDouble()
      val t =
        if (i > 10 && u < 0.01) texts(rnd.nextInt(i))
        else if (i > 10 && u < 0.11) {
          val w = texts(rnd.nextInt(i)).split(" ")
          w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.length))
          w.mkString(" ")
        } else Seq.fill(8 + rnd.nextInt(80))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      texts += t
    }
    def lang(): String = {
      var u = rnd.nextDouble()
      Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
    }
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t, lang(), s"src${i % 20}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  val WarmPasses = 1
  val TimedPasses = 2

  def run(c: Ctx): Map[String, Any] = {
    val dir = c.dir("curate_data").getPath
    writeDocuments(c, dir)
    c.mark("generate")
    val out = c.dir("curate_out")
    def write(e: String, path: String): Unit =
      SparkEntry.queries(e)(c.spark, dir).write.parquet(path)
    (0 until WarmPasses).foreach { p =>
      Entries.foreach { e => c.settle(); write(e, new File(out, s"warm-$p/$e").getPath) }
    }
    c.mark("warmup")
    val rnd = new SplittableRandom(c.seed)
    val timedStart = c.nowMs()
    val entries = (0 until TimedPasses).flatMap { p =>
      val order = if (rnd.nextBoolean()) Entries else Entries.reverse
      order.map { e =>
        val path = new File(out, s"pass-$p/$e").getPath
        c.settle()
        val (start, end) = c.trace match {
          case None => Ingest.timed(write(e, path))
          case Some(t) => t.span("entry", s"pass-$p/$e")(Ingest.timed(write(e, path)))
        }
        Map("entry" -> e, "pass" -> p, "start_ms" -> start, "end_ms" -> end, "output" -> path)
      }
    }
    Map("workload" -> "curate_llm", "timed_start_ms" -> timedStart,
      "setup_end_ms" -> timedStart, "timed_end_ms" -> c.nowMs(),
      "input_bytes" -> Layers.treeBytes(new File(dir)), "entries" -> entries)
  }
}
