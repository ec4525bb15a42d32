package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.operators.ScaleSoak

/** Regenerates one SCALE.md section in place:
  *
  *   sbt "Test/runMain graft.Scale <section> [dir] [outFile]"
  *
  * Like [[graft.operators.ScaleSoak]], whose runs it renders, it lives in
  * the test sources, so nothing built from src/main carries the soak
  * tooling. SCALE.md sections with no generator here are frozen text
  * (retired generators' measurements and hand-written write-ups; DevSpec
  * lists them), which [[splice]] carries over unchanged. */
object Scale {

  /** The header SCALE.md opens with: the base soak report's. */
  private[graft] val BaseHeader = "# SCALE"

  /** One generated SCALE.md section: its default input dir (None: the
    * generator takes no dir, and the section takes only `[outFile]`), the
    * header it starts at, and its generator, which takes the session and
    * the input dir. */
  private[graft] final case class Section(dir: Option[String], header: String,
                                          gen: (SparkSession, String) => String)

  private val cdcHeader = "\n## Streaming-CDC fold at 2M keys (r16; bucketed r17)"

  private[graft] val sections: Map[String, Section] = Map(
    "base" -> Section(Some("target/qscratch/scale_soak"), BaseHeader,
      (s, d) => ScaleSoak.renderMarkdown(ScaleSoak.run(s, d))),
    "bpe-batch" -> Section(None, "\n## Batched BPE soak",
      (s, _) => ScaleSoak.runBpeBatchedSoak(s)),
    "knn" -> Section(Some("target/qscratch/vec_scale"), "\n## Graph-ANN lifecycle at 10x",
      ScaleSoak.runKnnLifecycleSoak(_, _)),
    "cdc" -> Section(Some("target/qscratch/cdc_scale"), cdcHeader,
      (s, d) => cdcHeader + "\n" + ScaleSoak.runCdcSoak(s, d)))

  private def usage: String =
    s"""usage: graft.Scale <section> [dir] [outFile]
       |  sections: ${sections.keys.toSeq.sorted.mkString(" ")}""".stripMargin

  def main(args: Array[String]): Unit = args.toList match {
    case name :: rest if sections.contains(name) => scale(sections(name), name, rest)
    case _ => System.err.println(usage); sys.exit(2)
  }

  private def scale(sec: Section, name: String, rest: List[String]): Unit = {
    val (dir, out) = sec.dir match {
      case Some(d) => (rest.lift(0).getOrElse(d), rest.lift(1).getOrElse("SCALE.md"))
      case None => ("", rest.lift(0).getOrElse("SCALE.md"))
    }
    val spark = Sessions.get()
    try {
      val md = sec.gen(spark, dir)
      val p = Paths.get(out)
      val existing = if (Files.exists(p)) Files.readString(p) else ""
      Files.writeString(p, splice(existing, sec.header, md))
      println(s"[scale] $name: spliced ${sec.header.trim} into $out")
      println(md)
    } finally spark.stop()
  }

  /** `existing` with `md` spliced in place of the section that starts at
    * `header`, bounded at the NEXT "\n## " header so every later section
    * stays byte-identical; appended when absent. The base report
    * ([[BaseHeader]]) spans several "## " sections of its own: it is the
    * file's prefix up to the first "## " header `md` does not produce. */
  private[graft] def splice(existing: String, header: String, md: String): String =
    if (header == BaseHeader) {
      val own = md.linesIterator.filter(_.startsWith("## ")).toSet
      def lineAt(i: Int): String = {
        val e = existing.indexOf('\n', i)
        existing.substring(i, if (e < 0) existing.length else e)
      }
      Iterator.iterate(existing.indexOf("\n## "))(i => existing.indexOf("\n## ", i + 1))
        .takeWhile(_ >= 0)
        .find(i => !own(lineAt(i + 1)))
        .fold(md)(i => md + existing.substring(i))
    } else {
      val i = existing.indexOf(header)
      if (i < 0) existing + md
      else {
        val next = existing.indexOf("\n## ", i + 1)
        existing.substring(0, i) + md + (if (next >= 0) existing.substring(next) else "")
      }
    }
}
