package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The dev-tooling surface, without Spark: the shipped entry points stay
  * the five mains, [[Dev]] refuses what it does not know, and
  * regenerating one SCALE.md section leaves every other section
  * byte-identical. */
class DevSpec extends AnyFunSuite {

  test("src/main has exactly the five entry-point objects") {
    val mains = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src)
          .map(m => (m.start, m.group(1))).toSeq
        """\bdef\s+main\s*\(""".r.findAllMatchIn(src)
          .map(m => objects.filter(_._1 < m.start).last._2)
      }.toList
    assert(mains.sorted === List("Bench", "CurateCli", "Dev", "IngestCli", "Verify"))
  }

  /** The src/main files (relative to src/main) whose text contains `text`. */
  private def mainFilesMatching(text: String): List[String] =
    Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(text))
      .map(p => Paths.get("src/main").relativize(p).toString).toList.sorted

  test("only the streaming harness (and IngestCli's unbounded loop) waits on a query or scopes by pid") {
    // a new streaming entry must run through StreamHarness, not bring back
    // its own copy of the run/wait/stop block or of the pid-scoped root
    assert(mainFilesMatching("awaitTermination(") ===
      List("scala/graft/StreamHarness.scala", "scala/graft/ingestion/IngestCli.scala"))
    assert(mainFilesMatching("ProcessHandle.current") ===
      List("scala/graft/StreamHarness.scala"))
  }

  private def devExit(args: String*): (Int, String) = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(
        (Seq(java, "-cp", System.getProperty("java.class.path"), "graft.Dev") ++ args).asJava)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    (proc.waitFor(), out)
  }

  test("Dev prints its usage and exits nonzero on an unknown subcommand or section") {
    for (args <- Seq(Seq("no-such-subcommand"), Seq("scale", "no-such-section"))) {
      val (status, out) = devExit(args: _*)
      assert(status !== 0, s"args $args")
      assert(out.contains("usage: graft.Dev"), s"args $args printed: $out")
    }
  }

  private val doc =
    "# SCALE — soak\n\nCorpus: old.\n\n## Per-stage cost\n\nold stages\n" +
      "\n## Reading the table\n\nold reading\n" +
      "\n## Vector scale 10x (r11): 2 vectors\n\nvec body\n" +
      "\n## Hand-written write-up (r16)\n\nno generator\n" +
      "\n## Batched BPE soak (r14): 4 merges\n\nbpe body\n"
  private val later = doc.substring(doc.indexOf("\n## Vector scale"))

  test("regenerating the base report keeps every later section byte-identical") {
    val fresh = "# SCALE — soak\n\nCorpus: new.\n\n## Per-stage cost\n\nnew stages\n" +
      "\n## Reading the table\n\nnew reading\n"
    assert(Dev.splice(doc, Dev.BaseHeader, fresh) === fresh + later)
    assert(Dev.splice("", Dev.BaseHeader, fresh) === fresh)
  }

  test("the committed SCALE.md keeps its appended sections when the base is regenerated") {
    val committed = Files.readString(Paths.get("SCALE.md"))
    // the base report's own sections, as ScaleSoak.renderMarkdown emits them
    val fresh = Seq("Per-stage cost", "Bucket occupancy vs prediction", "Clustering",
      "Text curation on the soak corpus",
      "Incremental ingest — bloom gate and boundary dedup",
      "AQE skew-join (the allowlist argument, measured)",
      "Streaming legs — state is watermark-bound, not input-bound",
      "Model apply & quantile sketch (classifier + order statistics at scale)",
      "Reading the table at 100 TB")
      .map(h => s"\n## $h\n\nregenerated\n").mkString("# SCALE — regenerated\n", "", "")
    val firstAppended = committed.indexOf("\n## Vector scale 10x")
    assert(firstAppended > 0)
    val spliced = Dev.splice(committed, Dev.BaseHeader, fresh)
    assert(spliced === fresh + committed.substring(firstAppended))
    for (h <- Seq("Iteration durability (r16)", "Filtered ANN at production selectivity ~1% (r17)",
                  "Beam-width serving dial")) assert(spliced.contains(s"\n## $h"))
  }

  test("a section is replaced in place, bounded at the next header, or appended") {
    val fresh = "\n## Vector scale 10x (r11): 3 vectors\n\nnew vec body\n"
    assert(Dev.splice(doc, "\n## Vector scale 10x", fresh) ===
      doc.substring(0, doc.indexOf("\n## Vector scale")) + fresh +
        doc.substring(doc.indexOf("\n## Hand-written")))
    val added = "\n## Deletion vectors at 2M rows (r17)\n\ndv body\n"
    assert(Dev.splice(doc, "\n## Deletion vectors at 2M rows", added) === doc + added)
  }
}
