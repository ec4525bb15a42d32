package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — runs the query catalog on SPARK_GRAFT_SF_DIR and prints
  * one JSON line `{"metric":"total","value":N,"unit":"sec","queries":{...},
  * "failed":[...],"sf":...}`.
  *
  * Harness notes:
  *  - session comes from [[Sessions]] (AQE, UTC, ts normalization) — the same
  *    configuration Verify and the tests run under;
  *  - each query is driven by a `noop`-format write, which fully evaluates
  *    every output column (a `.count()` would let Catalyst prune all
  *    projections that don't affect row count and measure only the scan);
  *  - the catalog is swept SPARK_GRAFT_BENCH_RUNS times (default 3) in
  *    round-robin order and each query reports its per-run MEDIAN: the
  *    single-run swing on this box is ±25% (measured r7 — GC pauses, JIT
  *    recompiles, page cache), which swallowed real 20% regressions; the
  *    median-of-3 cuts the swing to a few percent so a regression is a
  *    signal, not noise. Round-robin (sweep 1 all queries, then sweep 2…)
  *    rather than back-to-back repeats, so a slow phase of the JVM lands on
  *    every query a little instead of one query three times;
  *  - failures are recorded per query, never silently folded into a
  *    timing: a query's median is over its SUCCESSFUL runs; `"failed"`
  *    (+ nonzero exit) lists queries where EVERY run failed, and
  *    `"partial_failures"` maps FLAKY queries (≥1 success, ≥1 failure)
  *    to how many of their runs failed — a 1-of-3 crash is a signal the
  *    driver must see, not a stderr-only footnote (r8 review; all-failed
  *    queries live in `"failed"` only, never double-reported — r8
  *    advice). `SPARK_GRAFT_BENCH_STRICT=1` additionally exits nonzero
  *    on nonempty partial_failures, for drivers keying on exit status
  *    alone. An all-runs-failed query reports median 0.0, so compare
  *    `"value"` across rounds only when `"failed"` is empty in both;
  *  - `"stream_harness_floor_s"` reports the fixed cost of the
  *    multi-batch StreamingQuery harness (same child session / 3-file
  *    split / checkpoint / AvailableNow machinery, driving a watermarked
  *    projection): the stream-join entries are ~85% this floor, so
  *    operator regressions there should be read as (entry − floor). Its
  *    median too is over successful runs only; all-failed → 0.0 with
  *    `"stream_harness_floor_failed_runs"` nonzero (and a strict-mode
  *    nonzero exit), never a fabricated time-to-failure median.
  *    `"stream_join_floor_s"` is the STATEFUL companion: the same
  *    two-source stream-stream join machinery with zero input rows, so
  *    the five interval-join entries' data-bound part reads as
  *    (entry − join floor) — the stateless floor misses the state-store
  *    instantiation and per-batch commit cost those entries share; that
  *    subtraction is also REPORTED per entry as
  *    `"stream_join_data_bound_s"` (clamped at 0; meaningful only when
  *    the join floor's failed_runs is 0), so a join-stage regression is
  *    a first-class number, not arithmetic the reader must do;
  *  - the deliberately-quadratic all-pairs correctness baseline
  *    q_dedup_ngram_jaccard is excluded: it exists as the oracle for the LSH
  *    variants at small sf and would be three-quarters of the wall time here;
  *  - `"drifted"` is the committed-baseline regression gate (r10 verdict #1,
  *    rules in [[driftOf]]): entries > 1.5× their frozen `bench_baseline.json`
  *    median (+0.5 s absolute; data-bound form for the stream-join entries).
  *    Perf claims cite this gate, not hand-run medians;
  *  - each drifted row is SELF-ADJUDICATING (r11 verdict #1 — adjudicating
  *    r11's two box-load false positives cost a full 16-minute re-sweep):
  *    it carries its raw per-sweep `"runs"` (failed runs as -1.0 sentinels,
  *    so positions stay sweep-aligned — r12 ADVICE), `"min_over_base"`
  *    (best run ÷ baseline, floor-subtracted for join entries), an
  *    END-OF-SWEEP `"retest_s"`/`"retest_over_base"` (r12 verdict #1: the
  *    entry re-run once after all sweeps + floors finish, the quietest
  *    moment the bench observes — the sample that settles a borderline
  *    median without a judge re-sweep; retest failure → -1.0/null), and a
  *    `"class"` from [[classWithRetest]] — `systematic` when even the BEST
  *    observation including the retest exceeds the gate ratio (a tight
  *    cluster ≫ base: real regression), `noise_suspect` when at least one
  *    sat inside the gate (an outlier dragged the median: box load).
  *    Line-level `"load_avg_per_run"` (1-min system load sampled
  *    before each sweep; -1 where the JVM can't read it) + `"load_avg_end"`
  *    + `"ncpus"` give the environmental context. Reading rule: only the
  *    BEFORE-SWEEP-1 sample is a clean external-contention signal — later
  *    samples (and load_avg_end) largely carry the PREVIOUS sweep's own
  *    32-thread load still decaying, so a high sample there is expected,
  *    not evidence. External load ≫ 0 before sweep 1, or run_totals all
  *    elevated with every drift row `noise_suspect`, corroborates a loaded
  *    box without re-running anything (r12: two sweeps ~20% high, 0
  *    systematic rows, max min_over_base 1.38 — adjudicated from the
  *    artifact alone).
  */
object Bench {
  private val excluded = Set("q_dedup_ngram_jaccard")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Unmeasured JVM warm-up (codegen compiler, parquet readers, shuffle
    * machinery) so the first timed run doesn't absorb ~10 s of one-time
    * cost: a trivial aggregate, then one `noop` write of `mk`. */
  private[graft] def warmUp(spark: SparkSession, label: String)(mk: => DataFrame): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      mk.write.mode("overwrite").format("noop").save()
    } catch { case e: Throwable => System.err.println(s"$label warm-up failed: $e") }

  /** One timed run, shared by every Bench row and [[Dev]] subcommand:
    * collect the previous run's garbage OUTSIDE the timed window (so a
    * stop-the-world pause doesn't land on a random victim), then build `mk`
    * and drive it with a `noop` write. The build is inside the window —
    * streaming harnesses and fixture-building sources do their real work
    * there. A failure prints "`label` FAILED" to stderr. Returns
    * (seconds, succeeded). */
  private[graft] def timeNoop(label: String)(mk: => DataFrame): (Double, Boolean) = {
    System.gc()
    val t0 = System.nanoTime()
    val ok =
      try { mk.write.mode("overwrite").format("noop").save(); true }
      catch { case e: Throwable => System.err.println(s"$label FAILED: $e"); false }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** Committed-baseline drift gate (r10 verdict #1): three straight rounds
    * hand-adjudicated ±25% single-box noise, so the comparison is now a
    * machine check against `bench_baseline.json` (BENCH_r10's clean
    * medians, frozen in-repo) instead of medians re-derived by hand every
    * round. An entry DRIFTS when its current median exceeds `ratio` × its
    * committed median AND by more than `minDeltaS` absolute — the ratio
    * alone would flag 0.2 s → 0.35 s scheduler jitter on the small
    * entries, and the delta alone would miss a 2× regression there; a real
    * regression at this catalog's scale moves both. Stream-join entries
    * compare DATA-BOUND time (median − stream_join_floor, each side
    * against its own round's floor) because ~60–85% of their wall time is
    * fixed harness cost the operator doesn't own — the same subtraction
    * the per-entry `stream_join_data_bound_s` field reports. All-failed
    * queries (median 0) are `failed`'s concern, not drift's. Returns
    * (drifted rows (name, base, cur, ratio), names missing a baseline —
    * i.e. entries newer than the frozen file, for the next re-freeze). */
  private[graft] def driftOf(results: Seq[(String, Double)],
                             baseline: Map[String, Double],
                             joinFloorCur: Double, joinFloorBase: Double,
                             dataBoundBase: Map[String, Double] = Map.empty,
                             ratio: Double = 1.5,
                             minDeltaS: Double = 0.5): (Seq[(String, Double, Double, Double)], Seq[String]) = {
    val drifted = results.flatMap { case (name, cur) =>
      baseline.get(name).flatMap { base =>
        val isJoin = name.startsWith("q_stream_join")
        val c = if (isJoin) math.max(0.0, cur - joinFloorCur) else cur
        // r16 verdict #4: the join entries' baseline side is the FROZEN
        // per-entry data-bound value (baselined directly, so a re-frozen
        // floor can never silently re-derive a different entry baseline);
        // the arithmetic fallback covers a baseline file from before the
        // map existed
        val b =
          if (isJoin) dataBoundBase.getOrElse(name,
            math.max(0.0, base - joinFloorBase))
          else base
        if (cur > 0.0 && c > ratio * b && c - b > minDeltaS)
          Some((name, b, c, if (b > 0) c / b else Double.PositiveInfinity))
        else None
      }
    }
    (drifted, results.collect { case (n, _) if !baseline.contains(n) => n })
  }

  /** The join-harness floor's OWN drift gate (r16 verdict #4: in the r16
    * sweep the floor moved 3.4 → 10.4 s and printed a 9.2× entry drift
    * that was pure harness movement — the floor is now tracked as its own
    * baselined row so harness regressions are first-class and never
    * masquerade as operator drift). Same two-guard rule as the entries. */
  private[graft] def floorDrifted(cur: Double, base: Double,
                                  ratio: Double = 1.5,
                                  minDeltaS: Double = 0.5): Boolean =
    cur > ratio * base && cur - base > minDeltaS

  /** Best-run ratio for a drifted entry: min of its successful raw runs
    * (floor-subtracted for stream-join entries, clamped at 0) over the
    * baseline median. The median can be dragged over the gate by one loaded
    * sweep; the MINIMUM can't — if even the best run exceeds the gate
    * ratio, no amount of box noise explains it. Failed-run sentinels
    * (negative entries — see the sweep loop) are excluded: a -1.0 is a
    * crash marker, not a fast run. Degenerate bases (0) and empty run
    * lists report the 999999 sentinel, never Infinity (which would break
    * the JSON line). */
  private[graft] def minOverBase(runs: Seq[Double], base: Double,
                                 isJoin: Boolean, joinFloorCur: Double): Double = {
    val adj = runs.filter(_ >= 0.0)
      .map(t => if (isJoin) math.max(0.0, t - joinFloorCur) else t)
    if (adj.isEmpty || base <= 0.0) 999999.0 else adj.min / base
  }

  /** Noise-vs-systematic classification from [[minOverBase]] (r11 verdict
    * #1): `systematic` = every run, including the best, exceeded the gate
    * ratio — a real regression; `noise_suspect` = the best run sat inside
    * the gate, so an outlier sweep dragged the median — read it with the
    * line's load_avg fields before burning a re-sweep on it. */
  private[graft] def driftClass(minOverBase: Double, ratio: Double = 1.5): String =
    if (minOverBase > ratio) "systematic" else "noise_suspect"

  /** [[driftClass]] with the end-of-sweep retest folded in (r12 verdict
    * #1): a drifted entry is re-run ONCE after all sweeps complete — by
    * then the box has shed the sweeps' own load, so the retest is the
    * cleanest sample the artifact owns. `systematic` now requires EVERY
    * observation including the retest to exceed the gate ratio: a retest
    * back inside the gate is exactly the "outlier sweep dragged the
    * median" evidence r11/r12 had to argue from load averages
    * (q_embed_ivfpq_residual flagged two consecutive driver sweeps, both
    * ultimately noise — this closes that loop from the artifact alone). A
    * FAILED retest (None) changes nothing: classification falls back to
    * the sweeps' min_over_base. */
  private[graft] def classWithRetest(minOverBase: Double,
                                     retestOverBase: Option[Double],
                                     ratio: Double = 1.5): String =
    driftClass(retestOverBase.fold(minOverBase)(math.min(minOverBase, _)),
      ratio)

  /** (per-query baseline medians, baseline stream_join_floor_s, per-entry
    * frozen data-bound join baselines) from the committed JSON; None (with
    * a stderr note) if absent/unreadable — the bench must keep reporting
    * timings even if the gate file is gone. */
  private def loadBaseline(path: String): Option[(Map[String, Double], Double, Map[String, Double])] =
    try {
      val f = new java.io.File(path)
      if (!f.exists()) { System.err.println(s"[bench] no baseline at $path"); None }
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        val it = root.get("queries").fields()
        val m = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue.asDouble() }
        val db = Map.newBuilder[String, Double]
        val dbNode = root.get("stream_join_data_bound")
        if (dbNode != null) {
          val dit = dbNode.fields()
          while (dit.hasNext) { val e = dit.next(); db += e.getKey -> e.getValue.asDouble() }
        }
        Some((m.result(), root.get("stream_join_floor_s").asDouble(), db.result()))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] baseline unreadable: $e"); None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runsN = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    val spark = Sessions.get()
    warmUp(spark, "[bench]")(SparkEntry.queries("q_agg_pricing")(spark, sfDir))
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => excluded(name) }
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val fails = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    // 1-min system load sampled before each sweep + once at the end: the
    // environmental context that classifies a noise_suspect drift row
    // (load ≫ ncpus = contended box). -1 where the JVM can't read it.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadPerRun = scala.collection.mutable.ArrayBuffer.empty[Double]
    val runTotals = (1 to runsN).map { _ =>
      loadPerRun += osBean.getSystemLoadAverage
      catalog.map { case (name, fn) =>
        val (dt, ok) = timeNoop(s"[bench] $name")(fn(spark, sfDir))
        // failed runs are recorded as the -1.0 sentinel (r12 ADVICE): the
        // drift rows' "runs" array promises index alignment with
        // load_avg_per_run, which only holds if every sweep contributes a
        // position — medians/ratios filter the sentinel out downstream
        if (ok) times(name) = dt :: times(name)
        else { times(name) = -1.0 :: times(name); fails(name) += 1 }
        dt
      }.sum
    }
    val loadEnd = osBean.getSystemLoadAverage
    // the multi-batch streaming harness floor (r8 verdict #3): the ~4 s
    // stream-join entries are mostly fixed StreamingQuery cost
    // (checkpoint + 3 file batches + trailing no-data batch), not
    // operator cost. Measuring the SAME harness driving a watermarked
    // projection makes the fixed part an explicit field, so a real
    // join-stage regression moves (entry − floor) — which a 20% operator
    // slowdown now dominates instead of vanishing into the floor.
    // like the queries, a floor's median is over its SUCCESSFUL runs
    // only — folding a time-to-failure into the median would fabricate a
    // floor (r9 review). All runs failed → floor 0.0 (the all-failed-query
    // convention) + a nonzero *_failed_runs field the driver can see.
    def floorOf(tag: String)(mk: => DataFrame): (Double, Int, Seq[Double]) = {
      val rs = (1 to runsN).map(_ => timeNoop(s"[bench] $tag")(mk))
      val okTimes = rs.collect { case (t, true) => t }
      (if (okTimes.isEmpty) 0.0 else median(okTimes), runsN - okTimes.size,
        rs.map { case (t, ok) => if (ok) t else -1.0 })
    }
    val (floorS, floorFailed, _) = floorOf("stream_harness_floor")(
      graft.queries.StreamingQ.harnessFloor(spark, sfDir))
    // the STATEFUL floor (two zero-row sources through the real
    // stream-stream join machinery): the stream-join entries' fixed cost
    // is mostly state-store instantiation + per-batch commits that the
    // stateless floor doesn't pay — (join entry − join floor) is the
    // data-bound signal
    val (joinFloorS, joinFloorFailed, joinFloorRuns) = floorOf("stream_join_floor")(
      graft.queries.StreamingQ.harnessJoinFloor(spark, sfDir))
    // (name, median-of-successes, allFailed) in stable catalog order —
    // the -1.0 failure sentinels never enter a median
    val results = catalog.map { case (name, _) =>
      val ts = times(name).filter(_ >= 0.0)
      (name, if (ts.isEmpty) 0.0 else median(ts), ts.isEmpty)
    }
    // 4-decimal timings keep the whole line ~3x shorter — the r2 driver log
    // tail truncated the head of the full-precision line, losing the JSON.
    // Non-finite values (a 0-baseline ratio) print as the 999999 sentinel:
    // bare Infinity/NaN would make the whole line unparseable JSON.
    def sec(v: Double): String =
      if (java.lang.Double.isFinite(v))
        "%.4f".formatLocal(java.util.Locale.ROOT, v)
      else "999999.0"
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // flaky only: a query that failed EVERY run is in "failed" — listing
    // it here too would double-report it (r8 advice)
    val partialFails = fails.toSeq
      .filter { case (k, _) => times(k).exists(_ >= 0.0) }
    val partial = partialFails.sorted
      .map { case (k, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalsArr = runTotals.map(sec).mkString("[", ",", "]")
    // the r8 #3 detectability goal made explicit per entry: each
    // stream-stream-join query's DATA-BOUND time is (entry − join floor) —
    // the part a join-stage regression actually moves. Clamped at 0 (a
    // floor measured in a noisier moment than the entry would otherwise
    // report a negative operator time); only meaningful when the floor's
    // failed_runs is 0.
    val joinEntries = results.collect {
      case (k, v, false) if k.startsWith("q_stream_join") => (k, v)
    }
    val dataBound = joinEntries
      .map { case (k, v) => "\"" + k + "\":" + sec(math.max(0.0, v - joinFloorS)) }
      .mkString("{", ",", "}")
    // committed-baseline drift gate (see driftOf): "drifted" is the
    // machine-checked regression list the round's perf adjudication keys
    // on; "drift_unbaselined" lists entries newer than the frozen file
    // (re-freeze the baseline when they accumulate). A missing baseline
    // file reports drift_baseline_found=false rather than fabricating an
    // empty gate result.
    val baselinePath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "bench_baseline.json")
    val baselineOpt = loadBaseline(baselinePath)
    val (driftedRows, unbaselined) = baselineOpt match {
      case Some((bq, bf, bdb)) =>
        driftOf(results.map(t => (t._1, t._2)), bq, joinFloorS, bf, bdb)
      case None => (Nil, Nil)
    }
    // end-of-sweep retest (r12 verdict #1): each drifted entry runs ONCE
    // more, after every sweep and both floors have finished — the box is
    // at its quietest point the bench ever observes it, so this sample
    // adjudicates a borderline row without a judge re-sweep. -1.0 = the
    // retest itself failed.
    val catalogFns = catalog.toMap
    val retests: Map[String, Double] = driftedRows.map { case (k, _, _, _) =>
      val (dt, ok) = timeNoop(s"[bench] retest $k")(catalogFns(k)(spark, sfDir))
      k -> (if (ok) dt else -1.0)
    }.toMap
    // self-adjudicating drift rows (r11 verdict #1): raw sweep-order runs,
    // best-run-over-baseline, the end-of-sweep retest, and the
    // noise/systematic classification — enough to tell "tight cluster ≫
    // base" from "one loaded sweep dragged the median" straight from the
    // artifact. times() prepends, so reverse restores sweep order (the
    // -1.0 failure sentinels keep indices aligned with load_avg_per_run).
    // "retest_over_base" is null when the retest failed; "class" is
    // systematic only if every sweep run AND the retest exceed the gate.
    // the join-harness floor is its own baselined drift row (r16 verdict
    // #4): a floor regression is reported by NAME, never laundered through
    // the entries' data-bound arithmetic. Same self-adjudication shape —
    // raw sweep runs, min-over-base, an end-of-sweep retest of the floor
    // harness itself.
    val floorDriftRow: Option[String] = baselineOpt.flatMap { case (_, bf, _) =>
      if (joinFloorS > 0.0 && bf > 0.0 && floorDrifted(joinFloorS, bf)) {
        val (dt, ok) = timeNoop("[bench] retest stream_join_floor")(
          graft.queries.StreamingQ.harnessJoinFloor(spark, sfDir))
        val retest = if (ok) dt else -1.0
        val mob = minOverBase(joinFloorRuns, bf, isJoin = false, 0.0)
        val retestOB = if (retest >= 0.0) Some(retest / bf) else None
        Some("\"stream_join_floor\":{\"base\":" + sec(bf) +
          ",\"cur\":" + sec(joinFloorS) + ",\"ratio\":" + sec(joinFloorS / bf) +
          ",\"runs\":" + joinFloorRuns.map(sec).mkString("[", ",", "]") +
          ",\"min_over_base\":" + sec(mob) +
          ",\"retest_s\":" + sec(retest) +
          ",\"retest_over_base\":" + retestOB.fold("null")(sec) +
          ",\"class\":\"" + classWithRetest(mob, retestOB) + "\"}")
      } else None
    }
    val driftJson = (driftedRows
      .map { case (k, b, c, r) =>
        val isJoin = k.startsWith("q_stream_join")
        val raw = times(k).reverse
        val mob = minOverBase(raw, b, isJoin, joinFloorS)
        val retest = retests.getOrElse(k, -1.0)
        val retestOB = if (retest >= 0.0)
          Some(minOverBase(Seq(retest), b, isJoin, joinFloorS)) else None
        "\"" + k + "\":{\"base\":" + sec(b) + ",\"cur\":" + sec(c) +
          ",\"ratio\":" + sec(r) +
          ",\"runs\":" + raw.map(sec).mkString("[", ",", "]") +
          ",\"min_over_base\":" + sec(mob) +
          ",\"retest_s\":" + sec(retest) +
          ",\"retest_over_base\":" + retestOB.fold("null")(sec) +
          ",\"class\":\"" + classWithRetest(mob, retestOB) + "\"}"
      } ++ floorDriftRow).mkString("{", ",", "}")
    val unbJson = unbaselined.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadJson = loadPerRun.map(sec).mkString("[", ",", "]")
    // r17 verdict #1: `ncpus` is the HOST's processor count and cannot
    // prove $SPARK_GRAFT_CPUS took effect (an 8-cpu driver run still
    // printed ncpus=32, defeating the scaling check). The EFFECTIVE core
    // count is the session's master / defaultParallelism — emitted
    // alongside the env value so the artifact itself shows the contract
    // held. ncpus stays for continuity (it is the box context the load
    // averages read against).
    val ncpus = Runtime.getRuntime.availableProcessors
    val master = spark.sparkContext.master
    val coresEff = spark.sparkContext.defaultParallelism
    val cpusEnv = sys.env.get("SPARK_GRAFT_CPUS")
      .map("\"" + _ + "\"").getOrElse("null")
    val driftFields =
      s""""drifted":$driftJson,"drift_unbaselined":$unbJson,"drift_baseline_found":${baselineOpt.nonEmpty},"drift_ratio":1.5,"drift_min_delta_s":0.5,"load_avg_per_run":$loadJson,"load_avg_end":${sec(loadEnd)},"ncpus":$ncpus,"master":"$master","cores_effective":$coresEff,"cpus_env":$cpusEnv"""
    val line =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"failed":$failed,"partial_failures":$partial,"runs":$runsN,"run_totals":$totalsArr,"stream_harness_floor_s":${sec(floorS)},"stream_harness_floor_failed_runs":$floorFailed,"stream_join_floor_s":${sec(joinFloorS)},"stream_join_floor_failed_runs":$joinFloorFailed,"stream_join_data_bound_s":$dataBound,$driftFields,"sf":"$sfDir"}"""
    // The full line is ~25 bytes/query (~3 KB at 115 queries) — longer than a
    // log-tail capture window, so a parser that only sees the end of the run
    // can find the line's tail but not its head. Emit a second, compact line
    // LAST (slowest 20 queries only, full map persisted to a file) so a
    // complete parseable JSON line always sits within the final ~1.5 KB of
    // output on both streams.
    val top = results.sortBy(-_._2).take(20)
      .map { case (k, v, _) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    // "slowest20", not "queries": a parser that takes the first line with a
    // "queries" map must never mistake this truncated top-20 map for the
    // complete per-query set (that is the full line / bench_last.json).
    val compact =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","slowest20":$top,"queries_reported":${math.min(20, results.size)},"queries_run":${results.size},"failed":$failed,"partial_failures":$partial,"runs":$runsN,"run_totals":$totalsArr,"stream_harness_floor_s":${sec(floorS)},"stream_harness_floor_failed_runs":$floorFailed,"stream_join_floor_s":${sec(joinFloorS)},"stream_join_floor_failed_runs":$joinFloorFailed,"stream_join_data_bound_s":$dataBound,$driftFields,"sf":"$sfDir","full":"target/bench_last.json"}"""
    // Both lines on BOTH streams so the driver's parser finds one regardless
    // of which stream it captures; full line also persisted to a file so a
    // truncated log tail can never lose it.
    println(line)
    System.err.println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_last.json"), line + "\n")
    catch { case _: Throwable => () }
    println(compact)
    System.err.println(compact)
    spark.stop()
    val strict = sys.env.get("SPARK_GRAFT_BENCH_STRICT")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    if (results.exists(_._3) ||
        (strict && (partialFails.nonEmpty || floorFailed > 0 ||
          joinFloorFailed > 0))) sys.exit(1)
  }
}
