package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.operators.{Materialize, ScaleSoak}
import graft.queries.StreamingQ

/** The one dev entry point: measurement and evidence tools around the
  * catalog. None of them is part of the bench contract; every timed run
  * goes through [[Bench.timeNoop]], so a dev number is measured exactly as
  * a bench row is, and every job, stage, shuffle and micro-batch number
  * comes from [[Measure.during]].
  *
  *   sbt "runMain graft.Dev run q_dedup_minhash_lsh <sfDir> explain"
  *       time one entry twice (run 1 pays JVM/codegen warm-up, run 2 is
  *       steady state), after printing its formatted plan if asked
  *   sbt "runMain graft.Dev plan plans/r18 before <sfDir> q_a q_b"
  *       write each entry's formatted physical plan to
  *       `<outDir>/<name>_<tag>.txt` (the before/after evidence under plans/)
  *   sbt "runMain graft.Dev ab <sfDir> 3 q_dedup_clusters q_stream_curate"
  *       same-JVM A/B of [[graft.operators.Materialize.cutFinal]] ON vs OFF
  *       (the `graft.cutFinal.disable` knob), alternating A/B per round so
  *       JVM drift lands on both arms; prints per-arm medians
  *   sbt "runMain graft.Dev prof q_embed_ivfpq [sfDir] [runs]"
  *       per-stage cost, per-micro-batch `durationMs` and per-state-operator
  *       rows for one entry, or for the bench's `__floor` / `__join_floor`
  *       streaming harnesses, read from one [[Measure.during]] per run
  *   sbt "runMain graft.Dev scale <section> [dir] [outFile]"
  *       regenerate one SCALE.md section in place (see [[scaleSections]])
  */
object Dev {
  private val testdata = "/root/testdata"

  private def usage: String =
    s"""usage: graft.Dev <subcommand> [args]
       |  run <query> [sfDir] [explain]
       |  plan <outDir> <tag> <sfDir> <query>...
       |  ab <sfDir> <rounds> <query>...
       |  prof <query|__floor|__join_floor> [sfDir] [runs]
       |  scale <section> [dir] [outFile]
       |    sections: ${scaleSections.keys.toSeq.sorted.mkString(" ")}""".stripMargin

  def main(args: Array[String]): Unit = {
    val status = args.toList match {
      case "run" :: name :: rest =>
        run(name, rest.headOption.getOrElse(s"$testdata/sf0.01"), rest.contains("explain"))
      case "plan" :: outDir :: tag :: sfDir :: names => plan(outDir, tag, sfDir, names)
      case "ab" :: sfDir :: rounds :: names => ab(sfDir, rounds.toInt, names)
      case "prof" :: name :: rest =>
        prof(name, rest.lift(0).getOrElse(s"$testdata/sf0.1"),
          rest.lift(1).fold(2)(_.toInt))
      case "scale" :: section :: rest if scaleSections.contains(section) =>
        scale(section, rest)
      case _ => System.err.println(usage); 2
    }
    if (status != 0) sys.exit(status)
  }

  private def withSession(spark: SparkSession)(f: SparkSession => Int): Int =
    try f(spark) finally spark.stop()

  private def run(name: String, sfDir: String, explain: Boolean): Int =
    withSession(Sessions.get()) { spark =>
      if (explain) SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      val oks = (1 to 2).map { i =>
        val (t, ok) = Bench.timeNoop(s"[run] $name run$i")(SparkEntry.queries(name)(spark, sfDir))
        if (ok) println(f"[run] $name run$i $t%.2f s")
        ok
      }
      if (oks.forall(identity)) 0 else 1
    }

  private def plan(outDir: String, tag: String, sfDir: String, names: List[String]): Int =
    withSession(Sessions.get()) { spark =>
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        val text =
          try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"PLAN FAILED: $e" }
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), text)
        println(s"[plan] wrote $outDir/${name}_$tag.txt")
      }
      0
    }

  private def ab(sfDir: String, rounds: Int, names: List[String]): Int =
    withSession(Sessions.get()) { spark =>
      val key = Materialize.CutFinalOffKey
      names.foreach(n => Bench.warmUp(spark, "[ab]")(SparkEntry.queries(n)(spark, sfDir)))
      // (entry, cut disabled) -> successful run times
      val times = mutable.Map.empty[(String, Boolean), List[Double]].withDefaultValue(Nil)
      var failed = false
      for (r <- 1 to rounds; n <- names) {
        val Seq(on, off) = Seq(false, true).map { cutOff =>
          if (cutOff) spark.conf.set(key, "true")
          val arm = if (cutOff) "cutOFF" else "cutON"
          val (t, ok) = Bench.timeNoop(s"[ab] round$r $n $arm")(SparkEntry.queries(n)(spark, sfDir))
          spark.conf.unset(key)
          if (ok) times((n, cutOff)) = t :: times((n, cutOff)) else failed = true
          if (ok) f"$t%.2f" else "FAILED"
        }
        println(s"[ab] round$r $n cutON=$on cutOFF=$off")
      }
      def med(n: String, cutOff: Boolean): String =
        if (times((n, cutOff)).isEmpty) "FAILED" else f"${Bench.median(times((n, cutOff)))}%.2f"
      names.foreach(n => println(s"[ab] MEDIAN $n cutON=${med(n, false)} cutOFF=${med(n, true)}"))
      if (failed) 1 else 0
    }

  private def prof(name: String, sfDir: String, runs: Int): Int = {
    val spark = Sessions.builder()
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[Measure.StreamListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    withSession(spark) { spark =>
      def mk(): DataFrame = name match {
        case "__floor" => StreamingQ.harnessFloor(spark, sfDir)
        case "__join_floor" => StreamingQ.harnessJoinFloor(spark, sfDir)
        case _ => SparkEntry.queries(name)(spark, sfDir)
      }
      Bench.warmUp(spark, "[prof]")(mk())
      val oks = (1 to runs).map { i =>
        val ((wall, ok), m) =
          Measure.during(spark)(Bench.timeNoop(s"[prof] $name run$i")(mk()))
        println(f"[prof] $name run$i wall=$wall%.2f s")
        report(m, wall)
        ok
      }
      if (oks.forall(identity)) 0 else 1
    }
  }

  /** Three views of one measured run: the stage table (costliest 40 by
    * task time), the per-micro-batch `durationMs` breakdown, and one row
    * per state operator per micro-batch (rows in state, updated, removed,
    * update, removal and commit ms). */
  private def report(m: Measured, wallS: Double): Unit = {
    println(f"[prof] ${"stage"}%7s ${"job"}%4s ${"wallMs"}%8s ${"taskMs"}%8s " +
      f"${"shufW"}%10s ${"shufR"}%10s ${"input"}%10s ${"tasks"}%5s  name")
    m.stages.sortBy(-_.taskMs).take(40).foreach { r =>
      println(f"[prof] ${r.id}%7d ${r.job}%4d " +
        f"${r.wallMs}%8d ${r.taskMs}%8d ${r.shuffleWriteBytes}%10d ${r.shuffleReadBytes}%10d " +
        f"${r.inputBytes}%10d ${r.tasks}%5d  ${r.name.take(60)}")
    }
    println(f"[prof] total taskMs=${m.taskMs} " +
      f"jobWallMs=${m.jobWallMs} jobs=${m.jobs} stages=${m.stages.size}")

    val evs = m.progress
    if (evs.isEmpty) println("[prof] streaming: no micro-batches in this run")
    else {
      val keys = Seq("triggerExecution", "latestOffset", "getBatch",
        "queryPlanning", "walCommit", "commitOffsets", "addBatch")
      def dur(p: StreamingQueryProgress, k: String): Long =
        Option(p.durationMs.get(k)).fold(-1L)(_.longValue)
      println(f"[prof] ${"query"}%-24s ${"batch"}%5s ${"rows"}%7s " +
        keys.map(k => f"$k%17s").mkString)
      evs.foreach { p =>
        println(f"[prof] ${String.valueOf(p.name).take(24)}%-24s ${p.batchId}%5d " +
          f"${p.numInputRows}%7d " + keys.map(k => f"${dur(p, k)}%17d").mkString)
      }
      // how much of the wall the engine's own components explain
      val trig = evs.map(dur(_, "triggerExecution").max(0L)).sum
      println(s"[prof] batches=${evs.size} triggerExecutionSum=${trig}ms " +
        keys.drop(1).map(k => s"$k=${evs.map(dur(_, k).max(0L)).sum}ms").mkString(" ") +
        s" unattributedWall=${(wallS * 1000).toLong - trig}ms")
      println(f"[prof] ${"query"}%-24s ${"batch"}%5s ${"op"}%-28s ${"rowsTotal"}%9s " +
        f"${"updated"}%8s ${"removed"}%8s ${"updMs"}%7s ${"rmMs"}%7s ${"commitMs"}%8s")
      for (p <- evs; (so, i) <- p.stateOperators.zipWithIndex) {
        println(f"[prof] ${String.valueOf(p.name).take(24)}%-24s ${p.batchId}%5d " +
          f"${s"$i:${so.operatorName}".take(28)}%-28s ${so.numRowsTotal}%9d " +
          f"${so.numRowsUpdated}%8d ${so.numRowsRemoved}%8d ${so.allUpdatesTimeMs}%7d " +
          f"${so.allRemovalsTimeMs}%7d ${so.commitTimeMs}%8d")
      }
    }
  }

  /** The header SCALE.md opens with: the base soak report's. */
  private[graft] val BaseHeader = "# SCALE"

  /** One generated SCALE.md section: its header and its generator,
    * which takes the session and the input dir. */
  private final case class Part(header: String, gen: (SparkSession, String) => String)

  /** A `scale` subcommand: its default input dir (None: the generators
    * take no dir, and the subcommand takes only `[outFile]`) and the
    * sections it regenerates. */
  private final case class Scale(dir: Option[String], parts: Part*)

  private val cdcHeader = "\n## Streaming-CDC fold at 2M keys (r16; bucketed r17)"
  private val cutAbHeader = "\n## Zero-copy lineage cut (r17)"

  /** Every SCALE.md generator. Sections with no entry here (the r16/r17
    * iteration-durability, filtered-ANN and beam-width write-ups) are
    * hand-written and only ever carried over by [[splice]]. */
  private val scaleSections: Map[String, Scale] = {
    val soak = Some("target/qscratch/scale_soak")
    val vec = Some("target/qscratch/vec_scale")
    Map(
      "base" -> Scale(soak,
        Part(BaseHeader, (s, d) => ScaleSoak.renderMarkdown(ScaleSoak.run(s, d)))),
      "vec" -> Scale(vec, Part("\n## Vector scale 10x", ScaleSoak.runVectorScale(_, _))),
      "scrub-bpe" -> Scale(soak,
        Part("\n## Scrub + BPE 10x text soak", ScaleSoak.runScrubBpeSoak(_, _))),
      "bpe-batch" -> Scale(None,
        Part("\n## Batched BPE soak", (s, _) => ScaleSoak.runBpeBatchedSoak(s))),
      "rerank-fetch" -> Scale(vec,
        Part("\n## Re-rank fetch at 10x", ScaleSoak.runRerankFetchSoak(_, _))),
      "residual" -> Scale(Some(s"$testdata/sf0.1"),
        Part("\n## Residual IVFADC regime", ScaleSoak.runResidualRegime),
        Part("\n## IVFADC-R shortlist dial", ScaleSoak.runRerankDial)),
      "pca" -> Scale(vec, Part("\n## PCA covariance at 10x", ScaleSoak.runPcaSoak(_, _))),
      "knn" -> Scale(vec,
        Part("\n## Graph-ANN lifecycle at 10x", ScaleSoak.runKnnLifecycleSoak(_, _))),
      "cdc" -> Scale(Some("target/qscratch/cdc_scale"),
        Part(cdcHeader, (s, d) => cdcHeader + "\n" + ScaleSoak.runCdcSoak(s, d))),
      "compact" -> Scale(Some("target/qscratch/compact_scale"),
        Part("\n## Compaction at the small-files pathology", ScaleSoak.runCompactSoak(_, _))),
      "dv" -> Scale(Some("target/qscratch/dv_scale"),
        Part("\n## Deletion vectors at 2M rows", ScaleSoak.runDvSoak(_, _))),
      "cut-ab" -> Scale(None,
        Part(cutAbHeader, (s, _) => cutAbHeader + "\n" + ScaleSoak.runCutAbSoak(s))))
  }

  private def scale(section: String, rest: List[String]): Int = {
    val sec = scaleSections(section)
    val (dir, out) = sec.dir match {
      case Some(d) => (rest.lift(0).getOrElse(d), rest.lift(1).getOrElse("SCALE.md"))
      case None => ("", rest.lift(0).getOrElse("SCALE.md"))
    }
    withSession(Sessions.get()) { spark =>
      sec.parts.foreach { case Part(header, gen) =>
        val md = gen(spark, dir)
        val p = Paths.get(out)
        val existing = if (Files.exists(p)) Files.readString(p) else ""
        Files.writeString(p, splice(existing, header, md))
        println(s"[scale] $section: spliced ${header.trim} into $out")
        println(md)
      }
      0
    }
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
