package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** graft.operators.Pq (SURVEY.md §2 B79): structural invariants of the
  * codes, training-actually-helps (quantization error measured before and
  * after Lloyd rounds), partition invariance of the deterministic
  * assignment, and MEASURED ADC top-3 recall against the exact L2 ranking.
  * Runs on sf0.001 (the spec-speed tier). */
class PqSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = PqConfig()

  private def vecs: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))

  private lazy val cb = Pq.train(vecs, cfg).cache()

  private def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  /** (vec_id, e: array<double>) → exploded (vec_id, m, si, x): the pre-r17
    * relational form, the reference the kernels are cross-checked against. */
  private def exploded(vecs: DataFrame, cfg: PqConfig): DataFrame =
    vecs.select(col("vec_id"), posexplode(col("e")).as(Seq("gi", "x")))
      .select(col("vec_id"),
        expr(s"gi div ${cfg.subDim}").cast("long").as("m"),
        expr(s"gi % ${cfg.subDim}").cast("long").as("si"), col("x"))

  /** The relational Pq.assign: argmin-L2 codes per (vector, subspace)
    * against `cents(m, cent_id, si, c)`, an explode ⋈ broadcast codebook
    * and two aggregates. Deterministic: d is round-6 and the struct-min
    * tie-breaks on cent_id ascending. Production runs
    * [[graft.functions.VecPqCodes]]; the tests below pin kernel ≡ this. */
  private def assign(ex: DataFrame, cents: DataFrame): DataFrame =
    ex.join(broadcast(cents), Seq("m", "si"))
      .groupBy(col("vec_id"), col("m"), col("cent_id"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d"))
      .select(col("vec_id"), col("m"),
        struct(round6(col("d")).as("d"), col("cent_id").as("cid")).as("dc"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("dc")).as("best"))
      .select(col("vec_id"), col("m"), col("best.cid").as("code"))

  /** Mean squared quantization error of `codes` under codebook `cents`. */
  private def mse(cents: DataFrame): Double = {
    val ex = exploded(vecs, cfg)
    val codes = assign(ex, cents)
    codes.join(ex, Seq("vec_id", "m"))
      .join(broadcast(cents.withColumnRenamed("cent_id", "code")),
        Seq("m", "si", "code"))
      .agg(avg((col("x") - col("c")) * (col("x") - col("c"))))
      .head().getDouble(0)
  }

  test("codes are complete and in range") {
    val codes = Pq.encode(vecs, cfg, cb)
    val n = vecs.count()
    assert(codes.count() === n * cfg.m)
    assert(codes.filter(col("code") < 0 || col("code") >= cfg.k).isEmpty)
    // every (vec, subspace) has exactly one code
    assert(codes.groupBy("vec_id", "m").count().filter(col("count") =!= 1).isEmpty)
  }

  test("training reduces quantization error (measured)") {
    val ex = exploded(vecs, cfg)
    val seed = ex.filter(col("vec_id") < cfg.k)
      .select(col("m"), col("vec_id").as("cent_id"), col("si"), col("x").as("c"))
    val e0 = mse(seed)
    val e2 = mse(cb)
    info(f"quantization MSE seed=$e0%.6f trained=$e2%.6f (${e0 / e2}%.2fx)")
    assert(e2 < e0, s"Lloyd rounds did not reduce MSE: $e0 -> $e2")
  }

  test("encoding is invariant under repartitioning") {
    val a = Pq.encode(vecs, cfg, cb)
    val b = Pq.encode(vecs.repartition(7), cfg, cb)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("VecPqCodes kernel codes ≡ the relational Pq.assign on the fixture corpus") {
    // the r17 ADVICE gap: the scaladoc claimed this equivalence but no
    // test pinned it. Kernel path = Pq.encode (vec_pq_codes projection);
    // relational reference = assign(exploded(...)) — the pre-r17
    // explode ⋈ broadcast-codebook ⋈ two-aggregate pipeline. Exact row
    // equality, both directions.
    val kernel = Pq.encode(vecs, cfg, cb)
    val relational = assign(exploded(vecs, cfg), cb)
    assert(kernel.except(relational).isEmpty &&
      relational.except(kernel).isEmpty,
      "vec_pq_codes diverged from the relational assign")
  }

  test("ADC shortlist recall vs exact L2 is measured and bounded") {
    // PQ's production role is the SHORTLIST stage of shortlist→exact-rerank
    // (8 bytes per vector is deliberately lossy). The operative metric:
    // does the exact top-3 survive in an ADC top-50 shortlist (≈2% of this
    // corpus; at 100 TB the shortlist fraction is far smaller)? The raw
    // top-3∩top-3 recall is measured and reported too, unasserted — it is
    // the honest "don't skip the rerank" number on these tightly-clustered
    // embeddings.
    val adc3 = Pq.adcTopK(vecs, col("vec_id") < 10, 3, cfg, cb)
      .select(col("qid"), col("vec_id"))
    val adc50 = Pq.adcTopK(vecs, col("vec_id") < 10, 50, cfg, cb)
      .select(col("qid"), col("vec_id"))
    // exact L2 top-3 per query over the full corpus
    val ex = exploded(vecs, cfg)
    val qex = ex.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("si"), col("x").as("qx"))
    val d = qex.join(ex.withColumnRenamed("vec_id", "cand"), Seq("m", "si"))
      .groupBy(col("qid"), col("cand"))
      .agg(sum((col("qx") - col("x")) * (col("qx") - col("x"))).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2"), col("cand"))
    val exact = d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("qid"), col("cand").as("vec_id")).cache()
    val hits3 = adc3.join(exact, Seq("qid", "vec_id"), "left_semi").count()
    val hits50 = adc50.join(exact, Seq("qid", "vec_id"), "left_semi").count()
    val recall3 = hits3.toDouble / 30
    val recall50 = hits50.toDouble / 30
    // self-retrieval: a query's own vector should make its own shortlist
    val selfHits = adc3.filter(col("qid") === col("vec_id")).count()
    info(f"ADC top-3∩top-3 recall = $recall3%.2f ($hits3/30); " +
      f"exact-top-3-in-ADC-top-50 = $recall50%.2f ($hits50/30); " +
      f"self-in-top3 = $selfHits/10")
    assert(recall50 >= 0.8, f"shortlist recall $recall50%.2f below floor 0.8")
    assert(selfHits >= 8L, s"only $selfHits/10 queries retrieve themselves")
  }

  test("IVFADC-R: exact re-rank converts shortlist recall into top-3 recall; dial measured at 10/50") {
    // Jégou 2011 §V (r11 verdict #2): the ADC shortlist is recall-rich but
    // rank-poor (top-3∩top-3 ≈ 0.7 here); exact re-rank over the
    // shortlist's raw vectors recovers EVERY gold member the shortlist
    // contains — with the same (round-6 d2, vec_id) ordering as the
    // operator, re-ranked-top-3 ∩ gold EQUALS shortlist ∩ gold by
    // construction, pinned as equality below. The shortlist size is the
    // recall-vs-fetch-cost dial, measured at 10 and 50.
    val isQ = col("vec_id") < 10
    val ex = exploded(vecs, cfg)
    val qex = ex.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("si"), col("x").as("qx"))
    val gold = qex.join(ex.withColumnRenamed("vec_id", "cand"), Seq("m", "si"))
      .groupBy(col("qid"), col("cand"))
      .agg((floor(sum((col("qx") - col("x")) * (col("qx") - col("x"))) * 1e6
        + 0.5) / 1e6).as("d2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("d2"), col("cand"))))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cand").as("vec_id")).cache()
    def hits(df: DataFrame): Long =
      df.select(col("qid"), col("vec_id"))
        .join(gold, Seq("qid", "vec_id"), "left_semi").count()
    val adc3 = hits(Pq.adcTopK(vecs, isQ, 3, cfg, cb))
    val measured = Seq(10, 50).map { s =>
      val short = hits(Pq.adcTopK(vecs, isQ, s, cfg, cb))
      val rr = hits(Pq.adcRerankTopK(vecs, isQ, k = 3, shortlist = s, cfg, cb))
      info(s"shortlist=$s: gold-in-shortlist $short/30, re-ranked top-3 $rr/30 " +
        s"(raw ADC top-3 $adc3/30)")
      assert(rr === short,
        s"re-rank must recover exactly the shortlist's gold members at S=$s")
      assert(rr >= adc3,
        s"re-rank fell below raw ADC top-3 at S=$s: $rr < $adc3")
      (s, short, rr)
    }
    // the dial must actually be a dial: S=50 recall >= S=10 recall
    assert(measured(1)._3 >= measured(0)._3)
    assert(measured(1)._3 >= 24L,
      s"re-ranked top-3 recall below the 0.8 shortlist floor: ${measured(1)._3}/30")
  }

  test("IVF-bounded IVFADC-R: re-rank recovers exactly the shortlist's cell-bounded gold") {
    // the full production pipeline (IVF probe → ADC shortlist → exact
    // re-rank): against the exact-L2 gold RESTRICTED to the probed cells
    // (what the scan can see), the re-ranked top-3 must equal the
    // shortlist ∩ gold — the same structural theorem as the full-scan
    // IVFADC-R, now through the cell-bounded candidate path.
    val isQ = col("vec_id") < 10
    val (_, assigned, probes) = Pq.ivfParts(vecs, isQ, nprobe = 2,
      numCentroids = 16)
    // gold under the operator's own (round-6 d2, vec_id) ordering — the
    // equality below is only a theorem under a shared ordering
    val candSet = assigned
      .join(probes, assigned("cell") === probes("qcell") &&
        probes("qid") =!= assigned("vec_id"))
      .select(col("qid"), col("vec_id").as("cand_id"))
    val ex = exploded(vecs, cfg)
    val qx = ex.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("si"), col("x").as("qx"))
    val dAll = qx.join(ex.withColumnRenamed("vec_id", "cand_id"), Seq("m", "si"))
      .groupBy(col("qid"), col("cand_id"))
      .agg((floor(sum((col("qx") - col("x")) * (col("qx") - col("x"))) * 1e6
        + 0.5) / 1e6).as("d2"))
    val gold = candSet.join(dAll, Seq("qid", "cand_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("d2"), col("cand_id"))))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cand_id").as("vec_id")).cache()
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("qid"), col("vec_id"))
        .join(gold, Seq("qid", "vec_id"), "left_semi").count()
    val short20 = hits(Pq.ivfAdcTopK(vecs, isQ, k = 20, nprobe = 2,
      numCentroids = 16, cfg, cb))
    val rr = hits(Pq.ivfAdcRerankTopK(vecs, isQ, k = 3, shortlist = 20,
      nprobe = 2, numCentroids = 16, cfg, cb))
    val total = gold.count()
    info(s"cell-bounded gold $total rows; gold-in-shortlist-20 $short20; " +
      s"re-ranked top-3 $rr")
    assert(rr === short20,
      "re-rank must recover exactly the shortlist's gold members")
    assert(total >= 20L, "gold too small to exercise the shortlist boundary")
  }

  test("residual IVFADC-R: re-rank recovers exactly the residual shortlist's gold") {
    // r12 verdict #3 — the residual variant of the structural theorem:
    // against the exact-L2 gold restricted to the TRAINED quantizer's
    // probed cells, the re-ranked top-3 must equal shortlist ∩ gold. The
    // re-rank's exact distances are coding-agnostic (raw L2 over raw
    // coords), so the only thing the residual coding changes is WHICH
    // candidates survive into the shortlist — the theorem must hold
    // through the per-(query, probed-cell) ADC path too.
    val isQ = col("vec_id") < 10
    val tcents = Ann.kmeansFit(vecs, k = 16, iters = 2)
      .groupBy(col("cent_id"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("c_val")))),
        x => x.getField("c_val")).as("ce")).cache()
    val (assigned, probes) = Pq.assignProbes(vecs, isQ, nprobe = 2, tcents)
    val candSet = assigned
      .join(probes, assigned("cell") === probes("qcell") &&
        probes("qid") =!= assigned("vec_id"))
      .select(col("qid"), col("vec_id").as("cand_id"))
    val ex = exploded(vecs, cfg)
    val qx = ex.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("si"), col("x").as("qx"))
    val dAll = qx.join(ex.withColumnRenamed("vec_id", "cand_id"), Seq("m", "si"))
      .groupBy(col("qid"), col("cand_id"))
      .agg((floor(sum((col("qx") - col("x")) * (col("qx") - col("x"))) * 1e6
        + 0.5) / 1e6).as("d2"))
    val gold = candSet.join(dAll, Seq("qid", "cand_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("d2"), col("cand_id"))))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cand_id").as("vec_id")).cache()
    def hits(df: DataFrame): Long =
      df.select(col("qid"), col("vec_id"))
        .join(gold, Seq("qid", "vec_id"), "left_semi").count()
    val short20 = hits(Pq.ivfAdcResidualTopK(vecs, isQ, k = 20, nprobe = 2,
      tcents, cfg, pqSeedFrom = 16))
    val rr = hits(Pq.ivfAdcResidualRerankTopK(vecs, isQ, k = 3,
      shortlist = 20, nprobe = 2, tcents, cfg, pqSeedFrom = 16))
    val total = gold.count()
    info(s"residual cell-bounded gold $total rows; gold-in-shortlist-20 " +
      s"$short20; re-ranked top-3 $rr")
    assert(rr === short20,
      "residual re-rank must recover exactly the shortlist's gold members")
    assert(total >= 20L, "gold too small to exercise the shortlist boundary")
    tcents.unpersist(); gold.unpersist()
  }

  test("IVF-PQ: cell-bounded candidates, ADC values consistent with full scan") {
    val ivfpq = Pq.ivfAdcTopK(vecs, col("vec_id") < 10, k = 3, nprobe = 2,
      numCentroids = 16, cfg, cb).cache()
    assert(ivfpq.groupBy("qid").count().filter(col("count") =!= 3).isEmpty)
    // every (qid, vec_id, adc) must carry the SAME adc the full ADC scan
    // computes — IVF only prunes candidates, it never changes a distance
    val full = Pq.adcTopK(vecs, col("vec_id") < 10, k = Int.MaxValue, cfg, cb)
      .select(col("qid"), col("vec_id"), col("adc"))
    val mismatches = ivfpq.select(col("qid"), col("vec_id"), col("adc"))
      .join(full.withColumnRenamed("adc", "adc_full"), Seq("qid", "vec_id"))
      .filter(col("adc") =!= col("adc_full")).count()
    assert(mismatches === 0L, s"$mismatches ADC values diverge from the full scan")
    // measured: how often the cell-pruned top-3 equals the full-ADC top-3
    // (self-match excluded from the full side, as IVF-PQ excludes it)
    val full3 = full.filter(col("qid") =!= col("vec_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= 3).select(col("qid"), col("vec_id"))
    val agree = ivfpq.select(col("qid"), col("vec_id"))
      .join(full3, Seq("qid", "vec_id"), "left_semi").count()
    info(s"IVF-PQ top-3 agreement with full ADC (nprobe=2/16): $agree/30")
    assert(agree >= 15L, s"cell pruning lost too much: $agree/30")
  }

  /** Exact-L2 top-3 restricted to a candidate set (codes in the probed
    * cells, self excluded) — the gold that isolates how faithfully a coding
    * ranks what it actually scans. */
  private def exactL2Top3(assigned: org.apache.spark.sql.DataFrame,
                          probes: org.apache.spark.sql.DataFrame,
                          nQ: Int) = {
    val cand = assigned
      .join(probes, assigned("cell") === probes("qcell") &&
        probes("qid") =!= assigned("vec_id"))
      .select(col("qid"), col("vec_id").as("cand_id"))
    val ex = exploded(vecs, cfg)
    val qex = ex.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("m"), col("si"), col("x").as("qx"))
    val d = qex.join(ex.withColumnRenamed("vec_id", "cand_id"), Seq("m", "si"))
      .groupBy(col("qid"), col("cand_id"))
      .agg(sum((col("qx") - col("x")) * (col("qx") - col("x"))).as("d2"))
    cand.join(d, Seq("qid", "cand_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("d2"), col("cand_id"))))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cand_id").as("vec_id"))
  }

  test("residual IVFADC (trained quantizer): energy premise and coding fidelity vs raw, measured") {
    // r10 verdict #3's acceptance probe, sharpened by what the first cut
    // taught: residual coding only helps when the coarse centroid is a
    // TRAINED cell mean. Two measurements: (a) the Jégou premise itself —
    // mean residual energy under the trained quantizer must be below the
    // raw second moment (the untrained first-N quantizer measured 1.51x
    // ABOVE it on these unit-norm embeddings); (b) APPLES-TO-APPLES coding
    // fidelity — both codings rank the IDENTICAL candidate sets (same
    // trained cells, same nprobe, 50 queries = 150 comparisons) against
    // the same exact-L2 gold, so the only variable is what the 8 bytes
    // encode (x vs x − centroid(cell)).
    val nQ = 50
    val isQ = col("vec_id") < nQ

    /** (energy ratio, raw-coding agreement, residual agreement, gold size)
      * at a coarse-quantizer geometry. */
    def measure(cells: Int, nprobe: Int): (Double, Long, Long, Long) = {
      val tcents = Ann.kmeansFit(vecs, k = cells, iters = 2)
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("c_val")))),
          x => x.getField("c_val")).as("ce")).cache()
      val (tAssigned, tProbes) = Pq.assignProbes(vecs, isQ, nprobe, tcents)
      val energy = vecs.join(tAssigned, "vec_id")
        .join(broadcast(tcents), col("cell") === col("cent_id"))
        .select(Ann.vdot(col("e"), col("e")).as("raw2"),
          Ann.vdot(zip_with(col("e"), col("ce"), (a, b) => a - b),
            zip_with(col("e"), col("ce"), (a, b) => a - b)).as("res2"))
        .agg(avg(col("raw2")).as("raw2"), avg(col("res2")).as("res2")).head()
      val ratio = energy.getDouble(1) / energy.getDouble(0)
      // raw coding on the SAME trained cells: corpus codes from the raw
      // codebook, candidates from the trained-cell probes — everything
      // equal but the residual subtraction
      val rawCodes = Pq.codesWide(vecs, cfg, cb).join(tAssigned, "vec_id")
      val rawCand = rawCodes.join(broadcast(tProbes),
          rawCodes("cell") === tProbes("qcell") &&
            tProbes("qid") =!= rawCodes("vec_id"))
        .select(col("qid"), col("vec_id"), col("codes"))
      val rawTop = Pq.adcRank(rawCand, 3, Pq.dtState(vecs, isQ, cfg, cb))
        .select(col("qid"), col("vec_id"))
      val resTop = Pq.ivfAdcResidualTopK(vecs, isQ, k = 3, nprobe = nprobe,
        tcents, cfg, pqSeedFrom = cells).select(col("qid"), col("vec_id"))
      val gold = exactL2Top3(tAssigned, tProbes, nQ).cache()
      val total = gold.count()
      val aRaw = rawTop.join(gold, Seq("qid", "vec_id"), "left_semi").count()
      val aRes = resTop.join(gold, Seq("qid", "vec_id"), "left_semi").count()
      info(f"cells=$cells nprobe=$nprobe: residual/raw energy $ratio%.2fx; " +
        s"agreement raw $aRaw/$total, residual $aRes/$total")
      (ratio, aRaw, aRes, total)
    }

    // catalog geometry (16 cells): the quantizer is coarse, residuals keep
    // ~90% of the energy, and the two codings measure at parity — reported
    // so the entry's scaladoc claim stays honest
    val (r16, raw16, res16, _) = measure(cells = 16, nprobe = 2)
    assert(r16 < 1.0, f"energy premise failed at 16 cells: $r16%.2fx")
    assert(res16 >= raw16 - 6,
      s"residual far below raw even at the coarse geometry: $res16 vs $raw16")
    // tight-quantizer regime (64 cells ≈ sqrt(n) on this corpus, scan
    // fraction matched via nprobe): residuals shrink for real and the
    // residual coding must win — this is the regime the canonical
    // algorithm is FOR (Jégou 2011 §IV)
    val (r64, raw64, res64, _) = measure(cells = 64, nprobe = 8)
    assert(r64 < r16, f"more cells did not shrink residuals: $r64%.2fx vs $r16%.2fx")
    assert(res64 >= raw64,
      s"residual coding ($res64) fell below raw coding ($raw64) in the " +
        "tight-quantizer regime — the canonical form is not earning its keep")
  }

  test("train refuses a corpus whose vec_ids do not cover 0..k-1 (seed guard)") {
    // r10 ADVICE: the deterministic seed rule assumes dense 0-based ids —
    // on a sparse/offset corpus it would silently train < k centroids per
    // subspace. The guard turns that into a loud contract error.
    val sparse = vecs.withColumn("vec_id", col("vec_id") * 2 + 1000)
    val e = intercept[IllegalArgumentException](Pq.train(sparse, cfg))
    assert(e.getMessage.contains("seed"))
  }

  private def idxRows(df: DataFrame): Set[(Long, Long, List[Long])] =
    df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
      r.getAs[Seq[Long]]("codes").toList)).toSet

  private val nCoarse = graft.queries.LlmOps.IvfCfg.numCentroids
  private val nProbe = graft.queries.LlmOps.IvfCfg.nprobe

  test("lifecycle insert: delta encode-into equals full encode on the delta; " +
    "existing rows verbatim; inserts change served answers (non-vacuous)") {
    // B130 (r14 verdict #1): encodeInto is STATELESS given frozen models —
    // encoding the delta alongside the old corpus or alone must produce
    // identical rows, and the old rows must be byte-identical whether or
    // not the delta exists. A future 'improvement' that retrains or
    // re-balances inside encodeInto breaks exactly these pins.
    val isNew = col("vec_id") % 10 === 7 && col("vec_id") >= nCoarse
    val old = vecs.filter(!isNew)
    val cbOld = Pq.train(old, cfg)
    val coarse = old.filter(col("vec_id") < nCoarse)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"))
    val oldIdx = idxRows(Pq.encodeInto(old, cfg, cbOld, coarse))
    val deltaIdx = idxRows(Pq.encodeInto(vecs.filter(isNew), cfg, cbOld, coarse))
    val allIdx = idxRows(Pq.encodeInto(vecs, cfg, cbOld, coarse))
    assert(deltaIdx.nonEmpty, "delta predicate selected no vectors")
    assert(allIdx === oldIdx ++ deltaIdx,
      "encodeInto is not stateless: combined encode differs from " +
        "old-encode ++ delta-encode under the same frozen models")
    // serving the maintained index differs from serving the pre-insert
    // index — the inserts are REACHABLE through probed cells, not dead rows
    val queries = vecs.filter(col("vec_id") < 10)
    def serve(idx: DataFrame) =
      Pq.ivfAdcServeTopK(queries, idx, k = 3, nProbe, cfg, cbOld, coarse)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"))).toSet
    val before = serve(Pq.encodeInto(old, cfg, cbOld, coarse))
    val after = serve(Pq.encodeInto(vecs, cfg, cbOld, coarse))
    assert(before !== after,
      "inserting the delta changed no answer — the non-vacuity probe " +
        "that pins the delta as reachable has gone stale")
    assert(after.exists { case (_, _, v) => v % 10 == 7 && v >= nCoarse },
      "no delta vector appears in any post-insert top-3")
  }

  test("lifecycle delete: survivors verbatim; serving never returns a " +
    "deleted id; answers reflow (non-vacuous)") {
    // B130: deletion on a codes table is EXACT — each row derives from its
    // vector alone (the operator scaladoc's contrast with Ann.knnDelete's
    // repair pass), so deleteFrom must pass survivors through verbatim and
    // the only observable change is deleted ids vanishing + rank reflow.
    // %10≡8 here (the catalog entry deletes %10≡3): PROBED at sf0.001 —
    // the full-codebook top-3 answers contain six %10≡8 ids across
    // queries 2/4/5/6/9 but ZERO %10≡3 ids, so ≡3 would make the reflow
    // pin vacuous at this SF (it is non-vacuous at the entry's sf0.01).
    val coarse = vecs.filter(col("vec_id") < nCoarse)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"))
    val index = Pq.encodeInto(vecs, cfg, cb, coarse)
    val kept = Pq.deleteFrom(index, col("vec_id") % 10 === 8)
    val all = idxRows(index)
    assert(idxRows(kept) === all.filter(_._1 % 10 != 8),
      "deleteFrom did not pass survivors through verbatim")
    val queries = vecs.filter(col("vec_id") < 10 && col("vec_id") % 10 =!= 8)
    def serve(idx: DataFrame) =
      Pq.ivfAdcServeTopK(queries, idx, k = 3, nProbe, cfg, cb, coarse)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"))).toSet
    val before = serve(index)
    val after = serve(kept)
    assert(after.forall(_._3 % 10 != 8),
      "a deleted id survived in a served answer")
    assert(before.exists(_._3 % 10 == 8),
      "no pre-delete answer contained a deleted id — the reflow check " +
        "is vacuous on this corpus; re-pick the delete predicate")
    assert(before !== after, "deletion changed no answer")
  }

  test("filtered serving: recall vs exact-L2-among-allowed at two selectivities; nprobe dial; no leaks") {
    // B133 (PQ half): the pre-filtered ADC scan must (a) never return a
    // disallowed id, (b) hold recall vs the exact-L2 top-3 AMONG ALLOWED
    // vectors, and (c) show nprobe as the starvation-recovery dial — a
    // selective filter empties probed cells, more probes refill the
    // candidate pool (the operator scaladoc's contract, measured here).
    val coarse = vecs.filter(col("vec_id") < nCoarse)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"))
    val index = Pq.encodeInto(vecs, cfg, cb, coarse)
    val queries = vecs.filter(col("vec_id") < 10)
    val ex = exploded(vecs, cfg)
    val qex = ex.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("si"), col("x").as("qx"))
    def measure(mod: Int, floorAtNprobe2: Double): Unit = {
      val allowed = vecs.filter(col("vec_id") % mod === 0)
        .select(col("vec_id"))
      val allowedIds = allowed.collect().map(_.getLong(0)).toSet
      // exact L2 top-3 among allowed, self excluded — the post-filter gold
      val d = qex.join(ex.withColumnRenamed("vec_id", "cand"), Seq("m", "si"))
        .filter(col("cand").isin(allowedIds.toSeq.map(Long.box): _*) &&
          col("cand") =!= col("qid"))
        .groupBy(col("qid"), col("cand"))
        .agg(sum((col("qx") - col("x")) * (col("qx") - col("x"))).as("d2"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d2"), col("cand"))
      val gold = d.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand"))).toSet
      // Two measures, two claims (the unfiltered test's convention —
      // ADC is recall-rich but rank-poor, top-3-in-top-3 ~= 0.3 here):
      //  - COVERAGE: gold members present in the filtered candidate POOL
      //    (k unbounded). This is what nprobe provably grows — probed
      //    cells at nprobe+1 are a superset — so monotone is asserted as
      //    a theorem. Starvation = coverage loss, and this is its dial.
      //  - top-10 SHORTLIST recall at the catalog nprobe: the operative
      //    number the re-rank stage consumes, floor-asserted. NOT
      //    monotone in nprobe at fixed k (an ADC-closer candidate from
      //    an extra cell can displace a gold member), measured 0.70 ->
      //    0.63 at mod=2 — which is exactly why it is not the dial claim.
      def served(np: Int, k: Int): Set[(Long, Long)] = {
        val got = Pq.ivfAdcServeFilteredTopK(queries, index, allowed,
          k, np, cfg, cb, coarse)
          .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        assert(got.forall(p => allowedIds(p._2)),
          s"filter leak at mod=$mod nprobe=$np k=$k: a disallowed id was served")
        got.toSet
      }
      def cov(np: Int): Double =
        (gold & served(np, Int.MaxValue)).size.toDouble / gold.size
      val c1 = cov(1)
      val c2 = cov(nProbe)
      val short10 = (gold & served(nProbe, 10)).size.toDouble / gold.size
      info(f"filtered ADC (vec_id %% $mod = 0): pool coverage " +
        f"$c1%.2f at nprobe=1 -> $c2%.2f at nprobe=$nProbe; " +
        f"top-10 shortlist recall $short10%.2f (gold ${gold.size} pairs)")
      assert(c2 >= c1 - 1e-9,
        "pool coverage fell as nprobe grew — supersets cannot lose members")
      assert(short10 >= floorAtNprobe2,
        f"filtered shortlist recall at mod=$mod degraded: $short10%.2f < $floorAtNprobe2")
    }
    measure(2, 0.55)
    measure(5, 0.50)
  }

  test("filtered serving at ~1% selectivity: nprobe coverage knee measured; full probe covers exactly") {
    // r16 verdict #6, the PQ half: at production tenant selectivity
    // (~1%) most probed cells hold ZERO allowed codes — the starvation
    // regime the 20%-selectivity floor never sees. Coverage (gold ∩
    // unbounded candidate pool) is swept over the WHOLE nprobe dial:
    // monotone is the superset theorem, the knee (first nprobe with
    // coverage >= 0.8) is named for SCALE.md, and at nprobe = nCells the
    // pool holds every allowed code so coverage is EXACTLY 1.0 — the
    // dial provably recovers any starvation, at full-scan cost. vec_id %
    // 97 = 0 keeps 6 of 500 ≈ 1.2%.
    val coarse = vecs.filter(col("vec_id") < nCoarse)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"))
    val index = Pq.encodeInto(vecs, cfg, cb, coarse)
    val queries = vecs.filter(col("vec_id") < 10)
    val ex = exploded(vecs, cfg)
    val qex = ex.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("si"), col("x").as("qx"))
    val allowed = vecs.filter(col("vec_id") % 97 === 0).select(col("vec_id"))
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    info(s"selectivity: ${allowedIds.size} of 500 allowed")
    val d = qex.join(ex.withColumnRenamed("vec_id", "cand"), Seq("m", "si"))
      .filter(col("cand").isin(allowedIds.toSeq.map(Long.box): _*) &&
        col("cand") =!= col("qid"))
      .groupBy(col("qid"), col("cand"))
      .agg(sum((col("qx") - col("x")) * (col("qx") - col("x"))).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2"), col("cand"))
    val gold = d.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand"))).toSet
    def cov(np: Int): Double = {
      val got = Pq.ivfAdcServeFilteredTopK(queries, index, allowed,
        Int.MaxValue, np, cfg, cb, coarse)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
      assert(got.forall(p => allowedIds(p._2)),
        s"filter leak at nprobe=$np: a disallowed id was served")
      (gold & got.toSet).size.toDouble / gold.size
    }
    val sweep = Seq(1, 2, 4, 8, nCoarse).map(np => np -> cov(np))
    info(sweep.map { case (np, c) => f"nprobe=$np: coverage $c%.2f" }
      .mkString("~1%-filtered ADC: ", ", ", f" (gold ${gold.size} pairs)"))
    sweep.sliding(2).foreach { case Seq((_, a), (np, b)) =>
      assert(b >= a - 1e-9,
        s"coverage fell as nprobe grew to $np — supersets cannot lose members")
    }
    assert(sweep.last._2 == 1.0,
      f"full probe (nprobe=$nCoarse) must cover every allowed candidate: ${sweep.last._2}%.2f")
    val knee = sweep.find(_._2 >= 0.8).map(_._1)
    info(s"recovery knee (coverage >= 0.8): nprobe=${knee.get}")
    // the full-probe shortlist at k >= |allowed| IS the exact answer
    val full = Pq.ivfAdcServeFilteredTopK(queries, index, allowed,
      10, nCoarse, cfg, cb, coarse)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    assert((gold & full).size == gold.size,
      "k >= |allowed| at full probe must contain the whole gold set")
  }
}
