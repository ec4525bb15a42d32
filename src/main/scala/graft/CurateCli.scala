package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{ExactDedup, MinHashConfig, NearDup, TextCuration}

/** End-to-end corpus-curation recipe as ONE composed, restartable CLI —
  * the q_llm_prep / q_dedup_pipeline shapes chained over the public
  * operator API, proving the operators compose OUTSIDE the oracle harness
  * (r8 verdict #8):
  *
  *   exact dedup (+ bloom-gated incremental vs a prior run's history)
  *   → MinHash near-dup clusters → containment (subset-duplicate) drop
  *   → boilerplate / P1–P99 length clip / quality-weighted sample
  *   → train/val/test hash split → sequence packing
  *
  * Every stage CHECKPOINTS its output as `<out>/NN_stage.parquet` and a
  * restart skips stages whose `_SUCCESS` marker exists — a killed run
  * resumes at the failed stage, and downstream stages read the parquet
  * (cutting lineage, exactly what a 100 TB multi-day job needs; the same
  * reasons Structured Streaming checkpoints between micro-batches).
  * CurateCliSpec drives the golden fixture end to end, re-runs for
  * restart idempotence, and runs the incremental (history) mode.
  *
  *   sbt "runMain graft.CurateCli <docsParquet> <outDir> [priorOutDir]"
  *
  * With `priorOutDir` (a COMPLETED previous run), input docs whose sha
  * already sits in the prior run's history are gated out up front by
  * [[ExactDedup.bloomGatedNew]] — the per-batch ingest mode: an all-new
  * batch bypasses the history join on probe misses, and the outputs
  * contain only the genuinely-new survivors. Every run writes
  * `01_history.parquet`, the CUMULATIVE sha index (prior history ∪ this
  * run's survivors) — the artifact the next batch gates against — so a
  * chain b1→b2→b3 never re-admits a doc curated two batches ago (gating
  * on the prior run's survivors alone would forget earlier history).
  *
  * An outDir's checkpoints belong to ONE (input, prior, config) run:
  * `_graft_run.json` fingerprints it and a resume with different
  * arguments is refused loudly instead of silently returning the stale
  * previous run's parquet.
  *
  * Scale posture: every stage is one of the catalog's measured shapes
  * (sha window dedup = one shuffle; LSH pairs = the capped-bucket shape;
  * containment = the Σ df²-bounded single self-join; boilerplate/quality
  * = scan-stage scoring; packing = shard-then-pack running sums). The
  * quality-sample draw keys on the CONTENT sha (not the id), so the
  * sample survives re-ingestion with fresh ids.
  */
object CurateCli {

  /** The recipe's fixed settings; `_graft_run.json` fingerprints them by
    * this value's hash. */
  private final case class Config(
      minhash: MinHashConfig = MinHashConfig(numHashes = 12, bands = 6,
        maxBucket = 1000, jaccardConfirm = 0.8),
      contMaxDf: Int = 1000, contMinPpm: Long = 900000L,
      boilerWindow: Int = 16, boilerMinDocs: Int = 3,
      boilerMaxPpm: Long = 500000L,
      samplePpmPerChar: Long = 2500L,
      packGroups: Int = 8, packBudget: Long = 512L)

  private val cfg = Config()

  /** Stage checkpoint: build → parquet → read back (lineage cut). A
    * completed stage (its `_SUCCESS` exists) is NOT rebuilt — restart
    * resumes at the first incomplete stage. */
  private def stage(spark: SparkSession, out: File, name: String)
                   (build: => DataFrame): DataFrame = {
    val dir = new File(out, s"$name.parquet")
    if (!new File(dir, "_SUCCESS").exists())
      build.write.mode("overwrite").parquet(dir.getPath)
    spark.read.parquet(dir.getPath)
  }

  /** The prior run's history source: its cumulative index if it wrote one,
    * else its exact survivors (a run from before the index existed). */
  private def priorHistoryPath(prev: String): String = {
    val idx = new File(s"$prev/01_history.parquet")
    if (new File(idx, "_SUCCESS").exists()) idx.getPath
    else s"$prev/01_exact.parquet"
  }

  /** The full recipe; returns per-stage surviving-row counts (stage name
    * → rows), in pipeline order under keys that sort in pipeline order. */
  def run(spark: SparkSession, docsParquet: String, outDir: String,
          priorOutDir: Option[String] = None): Seq[(String, Long)] = {
    val out = new File(outDir)
    out.mkdirs()
    // stage checkpoints are keyed by outDir alone, so re-running against
    // the same outDir with DIFFERENT input/prior/config would skip every
    // completed stage and return the previous run's output while claiming
    // this run's arguments (r9 review). Fingerprint the run; a resume must
    // match — same discipline as ScaleSoak's layout-keyed corpus paths.
    val fp = s"""{"in":"$docsParquet","prior":"${priorOutDir.getOrElse("")}","cfg":${cfg.hashCode}}"""
    val fpFile = new File(out, "_graft_run.json")
    if (fpFile.exists()) {
      val prev = new String(
        java.nio.file.Files.readAllBytes(fpFile.toPath), "UTF-8").trim
      require(prev == fp,
        s"$outDir holds checkpoints of a different run:\n  found   $prev\n" +
          s"  this is $fp\nuse a fresh outDir (or delete this one) — " +
          "resuming is for the same run only")
    } else java.nio.file.Files.write(fpFile.toPath, (fp + "\n").getBytes("UTF-8"))
    val counts = scala.collection.mutable.ArrayBuffer[(String, Long)]()

    // -- 01: exact dedup (+ incremental gate vs the prior run) -----------
    val exact = stage(spark, out, "01_exact") {
      val base = spark.read.parquet(docsParquet)
        .select(col("doc_id"), col("text"), sha2(col("text"), 256).as("sha"))
      val gated = priorOutDir match {
        case Some(prev) =>
          val hist = spark.read.parquet(priorHistoryPath(prev))
            .select(col("sha")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          ExactDedup.bloomGatedNew(hist, base).drop("probe_hit")
        case None => base
      }
      val w = Window.partitionBy(col("sha")).orderBy(col("doc_id"))
      gated.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }
    counts += "01_exact" -> exact.count()
    // cumulative sha history — what the NEXT batch's gate reads. prior ∪
    // this run's survivors, written by every run (so any completed outDir
    // works as priorOutDir) and append-only in content: chained batches
    // accumulate instead of forgetting (r9 review).
    stage(spark, out, "01_history") {
      val mine = exact.select(col("sha"))
      priorOutDir match {
        case Some(prev) =>
          spark.read.parquet(priorHistoryPath(prev)).select(col("sha"))
            .unionByName(mine).distinct()
        case None => mine.distinct()
      }
    }

    // -- 02: MinHash near-dup clusters, min-id survivor ------------------
    val nearDeduped = stage(spark, out, "02_neardup") {
      val pairs = NearDup.minhashPairs(exact, cfg.minhash)
        .select(col("doc_a"), col("doc_b"))
      val labels = NearDup.clusters(pairs)
        .select(col("member").as("doc_id"), col("cluster_rep"))
      exact.join(labels, Seq("doc_id"), "left")
        .filter(col("cluster_rep").isNull ||
          col("cluster_rep") === col("doc_id"))
        .drop("cluster_rep")
    }
    counts += "02_neardup" -> nearDeduped.count()

    // -- 03: containment — drop the CONTAINED (shorter) side -------------
    val uncontained = stage(spark, out, "03_containment") {
      val cp = NearDup.containmentPairs(nearDeduped,
        maxDf = cfg.contMaxDf, minPpm = cfg.contMinPpm)
      val lens = nearDeduped.select(col("doc_id"), length(col("text")).as("len"))
      val drops = cp
        .join(lens.select(col("doc_id").as("doc_a"), col("len").as("la")), "doc_a")
        .join(lens.select(col("doc_id").as("doc_b"), col("len").as("lb")), "doc_b")
        .select(when(col("la") < col("lb"), col("doc_a"))
          .when(col("lb") < col("la"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      nearDeduped.join(drops, Seq("doc_id"), "left_anti")
    }
    counts += "03_containment" -> uncontained.count()

    // -- 04: boilerplate gate + P1–P99 length clip + quality sample ------
    val curated = stage(spark, out, "04_quality") {
      val boiler = TextCuration.boilerplate(uncontained,
          windowTokens = cfg.boilerWindow, minDocs = cfg.boilerMinDocs)
        .select(col("doc_id"), col("boiler_ppm"))
      val sized = uncontained.withColumn("n_chars", length(col("text")))
      // exact discrete P1/P99 over the length HISTOGRAM via the B83
      // OrderedCumsum two-pass plan (r14 verdict #6 — the same migration
      // q_text_length_clip made in r14): row-identical to the
      // single-partition `Window.orderBy(n_chars)` it replaces, but the
      // running count scales past one task even when the histogram's
      // distinct-length cardinality doesn't fit a single partition
      val h = sized.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      val cum = graft.operators.OrderedCumsum.withRunningTotal(h,
        Seq(col("n_chars")), col("c"), "cum", partitions = 8)
      val tot = h.agg(sum(col("c")).as("n"))
      val bounds = cum.crossJoin(broadcast(tot))
        .agg(min(when(col("cum") >= expr("(n + 99) DIV 100"), col("n_chars")))
            .as("lo"),
          min(when(col("cum") >= expr("(99 * n + 99) DIV 100"), col("n_chars")))
            .as("hi"))
      sized.join(boiler, Seq("doc_id"), "left")
        .crossJoin(broadcast(bounds))
        .filter(coalesce(col("boiler_ppm"), lit(0L)) <= cfg.boilerMaxPpm)
        .filter(col("n_chars").between(col("lo"), col("hi")))
        // content-keyed draw: stable across re-ingestion with fresh ids
        .withColumn("keep_ppm",
          least(lit(1000000L), col("n_chars") * cfg.samplePpmPerChar))
        .filter(NearDup.h28(concat(col("sha"), lit("_ws"))) % 1000000 <
          col("keep_ppm"))
        .select(col("doc_id"), col("text"), col("sha"), col("n_chars"))
    }
    counts += "04_quality" -> curated.count()

    // -- 05: deterministic train/val/test split (content-keyed) ----------
    val splitDf = stage(spark, out, "05_split") {
      val b = NearDup.h28(col("sha")) % 100
      curated.withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
    }
    counts += "05_split" -> splitDf.count()

    // -- 06: sequence packing (shard-then-pack running sums) -------------
    val packed = stage(spark, out, "06_packed") {
      val w = Window.partitionBy(col("split"), col("pack_group"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      splitDf.select(col("doc_id"), col("split"),
          (col("doc_id") % cfg.packGroups).as("pack_group"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .withColumn("cum", sum(col("n_toks")).over(w))
        .withColumn("bin",
          floor((col("cum") - col("n_toks")) / lit(cfg.packBudget.toDouble))
            .cast("long"))
        .select(col("doc_id"), col("split"), col("pack_group"), col("bin"),
          col("n_toks"))
    }
    counts += "06_packed" -> packed.count()

    // -- 07: release audit — the pipeline's own postconditions re-verified
    // declaratively on the EMITTED corpus (the B76 expectations shape: all
    // row rules in one aggregate scan + the dedup-uniqueness and packing
    // rules). A release that fails its own audit must not ship: the run
    // aborts loudly AFTER checkpointing the audit artifact, so the failed
    // report survives for inspection.
    val audit = stage(spark, out, "07_release_audit") {
      releaseAudit(splitDf, packed, cfg.packBudget)
    }
    val failedChecks = audit.filter(!col("pass"))
      .select(col("check")).collect().map(_.getString(0))
    counts += "07_audit_failures" -> failedChecks.length.toLong
    require(failedChecks.isEmpty,
      s"release audit failed: ${failedChecks.mkString(", ")} — see " +
        s"$outDir/07_release_audit.parquet")
    counts.toSeq
  }

  /** The audit checks (one row per check: check, n_violations, n_rows,
    * pass): text non-empty, sha well-formed, sha UNIQUE (the exact-dedup
    * postcondition), split domain, and every pack bin within
    * budget + one-doc overshoot (the shard-then-pack invariant). Package-
    * visible so the spec can prove the checks FAIL on doctored input —
    * an audit that cannot fail is not an audit. */
  private[graft] def releaseAudit(splitDf: DataFrame, packed: DataFrame,
                                  packBudget: Long): DataFrame = {
    val rowAgg = splitDf.agg(
      count(lit(1)).as("total"),
      sum(when(length(col("text")) === 0 || col("text").isNull, 1L)
        .otherwise(0L)).as("v_empty"),
      sum(when(!col("sha").rlike("^[0-9a-f]{64}$"), 1L).otherwise(0L))
        .as("v_sha"),
      (count(col("sha")) - count_distinct(col("sha"))).as("v_dup"),
      sum(when(!col("split").isin("train", "val", "test"), 1L).otherwise(0L))
        .as("v_split"))
    val rules = Seq(("text_nonempty", "v_empty"), ("sha_wellformed", "v_sha"),
      ("sha_unique", "v_dup"), ("split_domain", "v_split"))
    val rowChecks = rowAgg.select(explode(array(rules.map { case (n, c) =>
        struct(lit(n).as("check"), col(c).as("n_violations"),
          col("total").as("n_rows")) }: _*)).as("r"))
      .select(col("r.*"))
    // cum-start binning ⇒ a bin's token sum minus its largest doc is < budget
    val bins = packed.groupBy(col("split"), col("pack_group"), col("bin"))
      .agg(sum(col("n_toks")).as("toks"), max(col("n_toks")).as("mx"))
    val packCheck = bins.agg(count(lit(1)).as("n_rows"),
        sum(when(col("toks") - col("mx") >= packBudget, 1L).otherwise(0L))
          .as("n_violations"))
      .select(lit("pack_bins_within_budget").as("check"),
        col("n_violations"), col("n_rows"))
    rowChecks.unionByName(packCheck)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("check"))
  }

  def main(args: Array[String]): Unit = {
    val in = args(0)
    val outDir = args(1)
    val prior = args.lift(2)
    val spark = Sessions.get()
    val t0 = System.nanoTime()
    val counts = run(spark, in, outDir, prior)
    val secs = (System.nanoTime() - t0) / 1e9
    // Locale.ROOT: the default-locale f-interpolator writes a comma
    // decimal separator under e.g. de_DE, producing unparseable JSON
    val json = counts.map { case (k, v) => s""""$k":$v""" }
      .mkString("{\"stages\":{", ",", "}," +
        s""""seconds":${"%.1f".formatLocal(java.util.Locale.ROOT, secs)},"in":"$in","out":"$outDir"}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "curate_summary.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
