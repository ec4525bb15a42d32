package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryProgress

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
  *   sbt "runMain graft.Dev prof q_embed_ivfpq [sfDir] [runs]"
  *       per-stage cost, per-micro-batch `durationMs` and per-state-operator
  *       rows for one entry, or for the bench's `__floor` / `__join_floor`
  *       streaming harnesses, read from one [[Measure.during]] per run
  *
  * SCALE.md's generators are test-side tools, not part of this object:
  * `sbt "Test/runMain graft.Scale <section> [dir] [outFile]"`.
  */
object Dev {
  private val testdata = "/root/testdata"

  private def usage: String =
    """usage: graft.Dev <subcommand> [args]
       |  run <query> [sfDir] [explain]
       |  plan <outDir> <tag> <sfDir> <query>...
       |  prof <query|__floor|__join_floor> [sfDir] [runs]""".stripMargin

  def main(args: Array[String]): Unit = {
    val status = args.toList match {
      case "run" :: name :: rest =>
        run(name, rest.headOption.getOrElse(s"$testdata/sf0.01"), rest.contains("explain"))
      case "plan" :: outDir :: tag :: sfDir :: names => plan(outDir, tag, sfDir, names)
      case "prof" :: name :: rest =>
        prof(name, rest.lift(0).getOrElse(s"$testdata/sf0.1"),
          rest.lift(1).fold(2)(_.toInt))
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
    * task time; its totals line counts jobs, stages and generated-code
    * compiles), the per-micro-batch `durationMs` breakdown, and one row
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
      f"jobWallMs=${m.jobWallMs} jobs=${m.jobs} stages=${m.stages.size} compiles=${m.compiles}")

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
}
