package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization geometry (SURVEY.md §2 B79): the 64-dim vector is
  * cut into `m` subspaces of `dim/m` coordinates; each subspace gets its own
  * `k`-centroid codebook; a vector's code is its argmin-L2 centroid per
  * subspace — `m · log2(k)` bits per vector. Default 16 subspaces × 16
  * centroids = 8 bytes, a 32× compression of the float32 form. The default
  * was MEASURED, not guessed (PqSpec probe on the fixture corpus):
  * shortlist-50 recall of exact-top-3 is 28/30 at m=16 vs 25/30 at m=8 or
  * m=8/k=32 — finer subspaces beat more centroids or more Lloyd rounds at
  * comparable bits on these tightly-clustered embeddings. */
final case class PqConfig(m: Int = 16, k: Int = 16, dim: Int = 64, iters: Int = 2) {
  require(dim % m == 0, s"dim ($dim) must divide into $m subspaces")
  require(k >= 2 && iters >= 1, s"bad PQ config k=$k iters=$iters")
  val subDim: Int = dim / m
}

/** Product quantization + asymmetric-distance (ADC) search — the missing
  * half of the IVF story and the standard way ANN actually fits 100 TB of
  * embeddings in memory (Jégou et al., "Product quantization for nearest
  * neighbor search", TPAMI 2011): the corpus is stored as 2-byte codes, and
  * a query scans codes with per-subspace lookup tables instead of touching
  * any raw vector.
  *
  * Engine shape (r17 optimization — the relational explode ⋈ codebook
  * pipelines were collapsed into codegen kernels; the pre-r17 forms live in
  * PqSpec as its independent cross-check):
  *  - training = `iters` Lloyd rounds, all subspaces at once: per round ONE
  *    corpus projection through [[graft.functions.VecPqCodes]] (the codebook
  *    rides along as a primitive `double[][][]` codegen reference object —
  *    the [[graft.functions.VecBestCell]] mechanism) + one O(m·k·subDim)-
  *    group aggregate; only the O(model) codebook is collected to the
  *    driver between rounds (how every distributed k-means works). The
  *    pre-r17 form paid two corpus-wide shuffles per assignment pass AND
  *    re-executed round r's whole chain once per round-(r+1) reference
  *    (lazy-DAG recompute) — measured 4 full assign passes per trained
  *    query at sf0.1 where one suffices per round;
  *  - assignment/encoding = the same kernel as a zero-shuffle projection —
  *    codes come out pivoted (the 8-byte index row) with no groupBy;
  *  - ADC = the query's exact per-(subspace, centroid) distance table
  *    (n_q·m·k entries, computed on the DRIVER from the collected queries +
  *    codebook — both O(model) by contract) joined onto the corpus CODES —
  *    the scan touches 8-byte codes, never vectors, which is the whole
  *    point.
  *
  * Cross-engine float discipline (the q_embed_kmeans contract): distances
  * are rounded to 6 dp with the tie-safe floor(x·1e6+0.5)/1e6 before every
  * argmin (cent_id ascending breaks ties), and the trained codebook is
  * rounded to 6 dp before encoding/ADC, so the DuckDB oracle replays
  * training + encoding + search bit-for-bit. The kernels preserve the
  * relational forms' summation ORDER term-for-term (si-ascending partial
  * sums — see the VecPqCodes scaladoc), so the restructure is
  * hash-invariant; the oracle re-verified every PQ entry at both SFs.
  */
object Pq {
  private def round6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  /** Driver mirror of [[round6]] — same floor form, bit for bit. */
  private def round6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Driver mirror of Spark `round(x, scale)` (RoundBase: BigDecimal
    * HALF_UP, NaN/Infinity passthrough). */
  private def roundNd(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Collect a codebook frame (m, cent_id, si, c) into the `[m][cent][si]`
    * driver matrix the kernels bake in. Fail-loud on gaps: every
    * production codebook is complete by construction (train/Frozen round
    * trips), so a hole is a wiring bug, not data. */
  private[operators] def cbMat(cents: DataFrame, cfg: PqConfig): Array[Array[Array[Double]]] = {
    val t = Array.fill(cfg.m, cfg.k, cfg.subDim)(Double.NaN)
    val rows = cents.select(col("m"), col("cent_id"), col("si"), col("c")).collect()
    require(rows.length == cfg.m * cfg.k * cfg.subDim,
      s"Pq codebook has ${rows.length} entries, want ${cfg.m * cfg.k * cfg.subDim}" +
        s" (m=${cfg.m} k=${cfg.k} subDim=${cfg.subDim})")
    rows.foreach { r =>
      t(r.getLong(0).toInt)(r.getLong(1).toInt)(r.getLong(2).toInt) = r.getDouble(3)
    }
    t
  }

  /** The code-assignment kernel as a column: array<long> of per-subspace
    * argmin-L2 codes against the driver codebook matrix. */
  private def pqCodesCol(e: Column, mat: Array[Array[Array[Double]]]): Column =
    call_function("vec_pq_codes", e,
      typedLit(mat.map(_.map(_.toSeq).toSeq).toSeq))

  /** Train the per-subspace codebooks; returns (m, cent_id, si, c) with c
    * rounded to 6 dp, materialized as driver model state.
    *
    * r17 shape: seeds are collected once (O(k·dim)), then each Lloyd round
    * is ONE job — corpus projection through the codes kernel + posexplode +
    * an O(m·k·subDim)-group avg — whose result merges into the driver-held
    * codebook (empty cells keep their previous centroid, exactly the old
    * coalesce-left-join). The pre-r17 relational loop built each round's
    * codebook as a lazy plan over the previous round's, so round r's two
    * downstream references re-executed its whole chain; the driver-held
    * matrix makes every round execute exactly once.
    *
    * @param seedFrom seed the k codebook entries from vec_ids
    *   [seedFrom, seedFrom+k) instead of [0, k). The residual form NEEDS a
    *   nonzero offset: vectors 0..numCentroids−1 ARE the IVF coarse
    *   centroids, each lands in its own cell with residual exactly 0, so
    *   seeding residual codebooks from them initializes every centroid at
    *   the origin and Lloyd collapses to ~1 effective code (measured:
    *   exact-L2 agreement fell to 5/30 vs raw's 11/30 before this
    *   parameter existed — a degenerate codebook, not a residual-coding
    *   property). */
  def train(vecs: DataFrame, cfg: PqConfig, seedFrom: Long = 0L): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val callerCached =
      vecs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val v = if (callerCached) vecs
      else vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed-contract check (r10 ADVICE): the deterministic seed rule takes
      // the k vectors with vec_id seedFrom..seedFrom+k−1 — on a corpus whose
      // ids are sparse or offset it would otherwise SILENTLY train fewer
      // than k centroids per subspace and codes would stop spanning [0, k).
      // One cheap collect of the O(k·dim) seed vectors turns that into a
      // loud error (the pre-r17 form counted the same coords exploded).
      val seeds = v
        .filter(col("vec_id") >= seedFrom && col("vec_id") < seedFrom + cfg.k)
        .select(col("vec_id"), col("e")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val seedRows = seeds.map(_._2.length.toLong).sum
      val wantRows = cfg.m.toLong * cfg.k * cfg.subDim
      require(seedRows == wantRows,
        s"Pq.train seeds codebooks from vec_id $seedFrom..${seedFrom + cfg.k - 1}: " +
          s"found $seedRows seed coord rows, need $wantRows — re-key the corpus " +
          "to dense 0-based vec_ids (or densify ids upstream) before training")
      val byId = seeds.toMap
      var mat = Array.tabulate(cfg.m, cfg.k, cfg.subDim) { (m, c, si) =>
        byId(seedFrom + c)(m * cfg.subDim + si)
      }
      for (_ <- 1 to cfg.iters) {
        val mCol = expr(s"gi div ${cfg.subDim}")
        val upd = v
          .select(pqCodesCol(col("e"), mat).as("codes"),
            posexplode(col("e")).as(Seq("gi", "x")))
          // guard vectors longer than dim: the old exploded ⋈ codebook form
          // dropped their m ≥ cfg.m rows in the inner join
          .filter(col("gi") < cfg.m * cfg.subDim)
          .select(mCol.cast("int").as("m"),
            expr(s"gi % ${cfg.subDim}").cast("int").as("si"),
            element_at(col("codes"), (mCol + 1).cast("int")).cast("int").as("code"),
            col("x"))
          .groupBy(col("m"), col("code"), col("si"))
          .agg(avg(col("x")).as("cnew"))
          .collect()
        val next = Array.tabulate(cfg.m, cfg.k, cfg.subDim)((m, c, si) => mat(m)(c)(si))
        upd.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
        }
        mat = next
      }
      (for (m <- 0 until cfg.m; c <- 0 until cfg.k; si <- 0 until cfg.subDim)
        yield (m.toLong, c.toLong, si.toLong, round6d(mat(m)(c)(si))))
        .toDF("m", "cent_id", "si", "c")
    } finally if (!callerCached) v.unpersist(blocking = false)
  }

  /** Encode the corpus: (vec_id, m, code) — a zero-shuffle projection
    * through the codes kernel. */
  def encode(vecs: DataFrame, cfg: PqConfig, cents: DataFrame): DataFrame =
    codesWide(vecs, cfg, cents)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .select(col("vec_id"), col("m").cast("long").as("m"), col("code"))

  /** IVF-PQ top-k (the FAISS IVFADC composition): coarse IVF cells bound
    * WHICH codes a query scans (nprobe cells ≈ nprobe/numCentroids of the
    * corpus), PQ bounds WHAT a scanned candidate costs (code-table lookups,
    * no raw vector) — together the two independent levers that make
    * billion-vector search tractable. Cell assignment is the
    * q_embed_ann_ivf baseline (deterministic first-`numCentroids` init,
    * round-9 cosine argmax — since r17 a zero-shuffle VecBestCell
    * projection); candidates = codes in probed cells joined to the
    * broadcast query distance tables. Returns (qid, rank, vec_id, adc). */
  def ivfAdcTopK(vecs: DataFrame, isQuery: Column, k: Int, nprobe: Int,
                 numCentroids: Int, cfg: PqConfig,
                 cents: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cs = Ann.collectCellCents(vecs.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cent_id"), col("e").as("ce")))
    val mat = cbMat(cents, cfg)
    // ONE corpus projection carries both the coarse cell and the PQ codes —
    // the pre-r17 form reached the cell through a crossJoin + max_by
    // shuffle and then JOINED it back onto the codes pivot
    val codes = vecs.select(col("vec_id"), Ann.cellCol9(cs).as("cell"),
      pqCodesCol(col("e"), mat).as("codes"))
    val probes = probesOf(collectQueries(vecs, isQuery), cs, nprobe)
      .toDF("qid", "qcell")
    val dt = dtState(vecs, isQuery, cfg, cents)
    val cand = codes
      .join(broadcast(probes),
        codes("cell") === probes("qcell") && probes("qid") =!= codes("vec_id"))
      .select(col("qid"), col("vec_id"), col("codes"))
    adcRank(cand, k, dt)
  }

  /** The shared IVF coarse-quantizer stage: deterministic first-
    * `numCentroids` centroids, cosine cell assignment for the whole corpus
    * (zero-shuffle kernel projection), and the per-query top-`nprobe` probe
    * list (computed on the driver from the O(n_q·dim) collected queries).
    * Returns (ivfCents(cent_id, ce), assigned(vec_id, cell),
    * probes(qid, qcell)). */
  private[operators] def ivfParts(vecs: DataFrame, isQuery: Column, nprobe: Int,
                                  numCentroids: Int): (DataFrame, DataFrame, DataFrame) = {
    val ivfCents = vecs.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"))
    val (assigned, probes) = assignProbes(vecs, isQuery, nprobe, ivfCents)
    (ivfCents, assigned, probes)
  }

  /** Per-query top-`nprobe` probe list on the driver: round-9 HALF_UP
    * cosine (ascending-order dot products — vdot's fold), (cos DESC,
    * cent_id ASC) with NaN ranking first exactly like Spark's descending
    * double order. */
  private def probesOf(qs: Array[(Long, Array[Double])],
                       cs: Array[(Long, Array[Double])],
                       nprobe: Int): Seq[(Long, Long)] = {
    val ids = cs.map(_._1)
    val mat = cs.map(_._2)
    val cnorms = mat.map(p => math.sqrt(p.map(x => x * x).sum))
    qs.toSeq.flatMap { case (qid, e) =>
      val nrm = math.sqrt(dotd(e, e))
      val scored = ids.indices.map { c =>
        (roundNd(dotd(e, mat(c)) / (nrm * cnorms(c)), 9), ids(c))
      }
      scored.sortWith { (a, b) =>
        val c = java.lang.Double.compare(b._1, a._1) // desc, NaN greatest
        if (c != 0) c < 0 else a._2 < b._2
      }.take(nprobe).map { case (_, cid) => (qid, cid) }
    }
  }

  /** Cosine cell assignment + per-query probe list against GIVEN coarse
    * centroids `cents(cent_id, ce)` — the piece [[ivfParts]] (deterministic
    * first-N centroids) and the trained-quantizer residual form share.
    * Round-9 cosine with cent_id-ascending tie-break, the
    * q_embed_ann_ivf_trained assignment contract.
    *
    * r17 shape: the corpus-side assignment is ONE projection through
    * [[graft.functions.VecBestCell]] at scale 9 (the centroid matrix is
    * O(model) driver state — it always was, the pre-r17 form just reached
    * it through a crossJoin + max_by shuffle of the whole corpus); the
    * probe list is computed on the driver from the collected query vectors
    * (O(n_q·dim) — the dtState collect contract) with the same round-9
    * HALF_UP cosine and (cos DESC, cent_id ASC) order, NaN ranking first
    * exactly like Spark's descending double order. */
  private[operators] def assignProbes(vecs: DataFrame, isQuery: Column,
                                      nprobe: Int,
                                      cents: DataFrame): (DataFrame, DataFrame) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cs = Ann.collectCellCents(cents)
    val assigned = vecs.select(col("vec_id"), Ann.cellCol9(cs).as("cell"))
    val probeRows = probesOf(collectQueries(vecs, isQuery), cs, nprobe)
    (assigned, probeRows.toDF("qid", "qcell"))
  }

  /** CANONICAL IVFADC — residual encoding over a TRAINED coarse quantizer
    * (Jégou et al. 2011 §IV; r10 verdict #3): PQ quantizes
    * r(x) = x − centroid(cell(x)), not x itself. Once the coarse quantizer
    * has absorbed the between-cell variance, the residuals live in a much
    * smaller ball around 0 than the raw vectors, so the SAME m·log2(k) bits
    * quantize them with less error — the one place the raw-coding
    * [[ivfAdcTopK]] stops short of the algorithm it names.
    *
    * `coarseCents(cent_id, ce)` MUST be trained cell means
    * ([[Ann.kmeansFit]] pivoted to arrays — the q_embed_ann_ivf_trained
    * composition); the premise is quantitative and this corpus refutes the
    * untrained shortcut: with first-N raw vectors as "centroids" the mean
    * residual energy MEASURED 1.51× the raw energy on these unit-norm
    * embeddings (‖x − c‖² = 2 − 2cosθ with mean cell cosine ≈ 0.25), and
    * residual coding scored BELOW raw coding — residuals only shrink once
    * the centroid is an actual cell mean. PqSpec pins both the energy ratio
    * and the retrieval comparison.
    *
    * The query side is where the cost moves: a query's distance table now
    * depends on the PROBED CELL (the query residual q − centroid(c) differs
    * per cell), so the driver table state is n_q·nprobe·m·k entries instead
    * of n_q·m·k — still O(model). Training gains one broadcast join
    * (residual = zip_with(e, ce)) over the cell assignment — everything
    * downstream is the shared Lloyd/encode machinery on the residual
    * vectors. Returns (qid, rank, vec_id, adc). */
  def ivfAdcResidualTopK(vecs: DataFrame, isQuery: Column, k: Int,
                         nprobe: Int, coarseCents: DataFrame,
                         cfg: PqConfig, pqSeedFrom: Long): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cs = Ann.collectCellCents(coarseCents)
    // ONE corpus projection carries the cell (kernel) into the residual
    // map — the pre-r17 form shuffled the corpus through a crossJoin +
    // max_by aggregate and joined the result back on vec_id
    val resid = vecs.select(col("vec_id"), col("e"), Ann.cellCol9(cs).as("cell"))
      .join(broadcast(coarseCents), col("cell") === col("cent_id"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("e"), col("ce"), (a, b) => a - b).as("e"))
    // pqSeedFrom: pass the coarse quantizer's init-vector count (kmeans
    // seeds from the first numCentroids ids, and a cell that degenerates to
    // its init vector leaves that vector's residual exactly 0) — seeding
    // the PQ codebooks past those ids avoids near-zero seed centroids (see
    // the train scaladoc for the measured degeneracy)
    val rcb = train(resid.select(col("vec_id"), col("e")), cfg,
      seedFrom = pqSeedFrom)
    val rmat = cbMat(rcb, cfg)
    val codes = resid.select(col("vec_id"), col("cell"),
      pqCodesCol(col("e"), rmat).as("codes"))
    val probes = probesOf(collectQueries(vecs, isQuery), cs, nprobe)
      .toDF("qid", "qcell")
    val dt = residDtState(vecs, probes, coarseCents, cfg, rcb)
    val cand = codes
      .join(broadcast(probes),
        codes("cell") === probes("qcell") && probes("qid") =!= codes("vec_id"))
      .select(col("qid"), codes("cell"), col("vec_id"), col("codes"))
    adcRankByCell(cand, k, dt)
  }

  /** Per-(query, probed cell) ADC lookup tables: the residual q − cell
    * centroid differs per probed cell, so the table key gains the cell —
    * n_q·nprobe·m·k entries, computed on the driver (the residual form's
    * O(model) collect). */
  private def residDtState(vecs: DataFrame, probes: DataFrame,
                           ivfCents: DataFrame, cfg: PqConfig,
                           cents: DataFrame): Map[(Long, Long), Array[Array[Double]]] = {
    val mat = cbMat(cents, cfg)
    val probeList = probes.collect().map(r => (r.getLong(0), r.getLong(1)))
    if (probeList.isEmpty) return Map.empty
    val ceById = Ann.collectCellCents(ivfCents).toMap
    val qById = collectQueries(vecs,
      col("vec_id").isInCollection(probeList.map(_._1).distinct.toSeq)).toMap
    probeList.map { case (qid, cell) =>
      val q = qById(qid)
      val ce = ceById(cell)
      // truncate at the shorter side: zip_with's null tail contributed no
      // term to the old aggregate, same as dtTable's length guard here
      val r = Array.tabulate(math.min(q.length, ce.length))(i => q(i) - ce(i))
      (qid, cell) -> dtTable(r, mat, cfg)
    }.toMap
  }

  /** [[adcRank]] with a (qid, cell)-keyed table — the residual form's scan:
    * same map-side UDF-per-candidate-row + TopKAgg bounded shuffle. */
  private def adcRankByCell(scored: DataFrame, k: Int,
                            dt: Map[(Long, Long), Array[Array[Double]]]): DataFrame = {
    val spark = scored.sparkSession
    val bc = spark.sparkContext.broadcast(dt)
    val adcUdf = udf { (qid: Long, cell: Long, codes: Seq[Long]) =>
      val t = bc.value((qid, cell))
      var s = 0.0
      var m = 0
      while (m < codes.length) { s += t(m)(codes(m).toInt); m += 1 }
      math.floor(s * 1e6 + 0.5) / 1e6
    }
    val topk = graft.functions.TopKAgg.topK(spark, k)
    scored
      .select(col("qid"),
        (-adcUdf(col("qid"), col("cell"), col("codes"))).as("score"),
        col("vec_id"))
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("qid"), (col("i") + 1).as("rank"),
        col("p._2").as("vec_id"), (-col("p._1")).as("adc"))
  }

  /** Corpus codes pivoted wide: (vec_id, codes array<long> in subspace
    * order) — the 8-byte row the PQ index actually stores. Since r17 a
    * zero-shuffle kernel projection (the codes come out of
    * [[graft.functions.VecPqCodes]] already pivoted). */
  private[operators] def codesWide(vecs: DataFrame, cfg: PqConfig,
                                   cents: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      pqCodesCol(col("e"), cbMat(cents, cfg)).as("codes"))

  /** Collected (vec_id, e) query vectors — O(n_q·dim) driver state (queries
    * are a SMALL set by contract; this is the same collect dtState always
    * did, now shared by the probe/table computations). */
  private def collectQueries(vecs: DataFrame, isQuery: Column): Array[(Long, Array[Double])] =
    vecs.filter(isQuery).select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** One query's m×k ADC table against the codebook matrix: round-6
    * si-ascending squared L2 per (subspace, centroid) — term-for-term the
    * relational aggregate's order. Coordinates past the query's length
    * contribute no term (the old inner join had no row there). */
  private def dtTable(q: Array[Double], mat: Array[Array[Array[Double]]],
                      cfg: PqConfig): Array[Array[Double]] =
    Array.tabulate(cfg.m, cfg.k) { (m, c) =>
      var s = 0.0
      var si = 0
      val base = m * cfg.subDim
      while (si < cfg.subDim && base + si < q.length) {
        val d = q(base + si) - mat(m)(c)(si); s += d * d; si += 1
      }
      round6d(s)
    }

  /** The per-query ADC lookup tables as broadcast driver state:
    * qid → (m → cent → round-6 distance). Queries are a SMALL set by
    * contract (n_q·m·k entries — the Ann-centroid O(model) collect), which
    * is what lets the corpus-side scan run map-side with zero shuffle.
    * Computed on the driver from the collected queries + codebook. */
  private[operators] def dtState(vecs: DataFrame, isQuery: Column, cfg: PqConfig,
                      cents: DataFrame): Map[Long, Array[Array[Double]]] = {
    val mat = cbMat(cents, cfg)
    collectQueries(vecs, isQuery)
      .map { case (qid, q) => qid -> dtTable(q, mat, cfg) }.toMap
  }

  /** Map-side ADC scan + bounded top-k: `scored` = (qid, vec_id, codes)
    * candidate rows; the UDF sums the m table lookups per row (the
    * broadcast-model-UDF pattern — one cheap call per candidate row,
    * never under an explode), and [[graft.functions.TopKAgg]] reduces each
    * query's candidates to ≤ k rows PER PARTITION before the only
    * shuffle — n_q·k rows move, no window, no sort of the candidates.
    * (The first cut was a relational m-way explode join + window: measured
    * 37 s / 1.7 GB shuffle on the 22k-vector soak vs ~2 s here — the scan
    * must stay map-side for PQ to beat the raw-vector kernel.) */
  private[operators] def adcRank(scored: DataFrame, k: Int,
                      dt: Map[Long, Array[Array[Double]]]): DataFrame = {
    val spark = scored.sparkSession
    val bc = spark.sparkContext.broadcast(dt)
    val adcUdf = udf { (qid: Long, codes: Seq[Long]) =>
      val t = bc.value(qid)
      var s = 0.0
      var m = 0
      while (m < codes.length) { s += t(m)(codes(m).toInt); m += 1 }
      math.floor(s * 1e6 + 0.5) / 1e6
    }
    val topk = graft.functions.TopKAgg.topK(spark, k)
    scored
      .select(col("qid"), (-adcUdf(col("qid"), col("codes"))).as("score"),
        col("vec_id"))
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("qid"), (col("i") + 1).as("rank"),
        col("p._2").as("vec_id"), (-col("p._1")).as("adc"))
  }

  /** ADC top-k: for each query vector (exact coordinates), rank the WHOLE
    * corpus by the codebook-approximated L2 distance — the scan side reads
    * 8-byte codes only. Returns (qid, rank, vec_id, adc). */
  def adcTopK(vecs: DataFrame, isQuery: Column, k: Int, cfg: PqConfig,
              cents: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val dt = dtState(vecs, isQuery, cfg, cents)
    val qids = dt.keys.toSeq.sorted.toDF("qid")
    val scored = codesWide(vecs, cfg, cents).crossJoin(broadcast(qids))
    adcRank(scored.select(col("qid"), col("vec_id"), col("codes")), k, dt)
  }

  /** IVFADC-R (Jégou 2011 §V; r11 verdict #2): ADC shortlist → EXACT L2
    * re-rank — the step production PQ search always runs and the one the
    * ANN family stopped short of. The 8-byte codes are deliberately lossy
    * (PqSpec: ADC top-3∩exact-top-3 ≈ 0.7 on this corpus, but exact-top-3
    * survives an ADC top-50 shortlist at ≥ 0.93): refining the shortlist
    * with exact distances over the shortlist's RAW vectors converts
    * shortlist recall into top-k recall at the cost of fetching
    * `shortlist` raw vectors per query.
    *
    * Engine shape: the shortlist (n_q·shortlist (qid, vec_id) rows —
    * O(model)) is BROADCAST against the corpus scan, so the raw-vector
    * fetch is one map-side semi-join on the full scan, never a shuffle of
    * the corpus; at 100 TB the same step is an id-keyed point lookup into
    * the vector store. Exact distances come from the [[graft.functions.VecL2]]
    * kernel (n_q·shortlist rows), and the final window ranks ≤ `shortlist`
    * rows per query — all post-shortlist cost is O(n_q·shortlist·dim),
    * independent of corpus size. Round-6'd squared L2 mirroring the
    * oracle's replay term-for-term (the q_embed_kmeans float discipline).
    * Returns (qid, rank, vec_id, d2) with d2 the EXACT round-6 squared L2,
    * self-match included (the adcTopK convention). */
  def adcRerankTopK(vecs: DataFrame, isQuery: Column, k: Int, shortlist: Int,
                    cfg: PqConfig, cents: DataFrame): DataFrame = {
    require(k <= shortlist, s"k ($k) must be <= shortlist ($shortlist)")
    val sl = adcTopK(vecs, isQuery, shortlist, cfg, cents)
      .select(col("qid"), col("vec_id"))
    rerankExact(vecs, isQuery, k, sl, cfg)
  }

  /** IVF-bounded IVFADC-R — the literal production pipeline Jégou 2011
    * names: IVF probes bound WHICH codes a query scans, ADC ranks them
    * from 8-byte codes, and the top-`shortlist` survivors are re-ranked by
    * EXACT L2 over their raw vectors. Same cost structure as
    * [[adcRerankTopK]]'s re-rank (broadcast shortlist semi-join fetch +
    * O(n_q·shortlist·dim) exact work) on top of [[ivfAdcTopK]]'s bounded
    * scan; self excluded (the ivfAdcTopK convention). Returns
    * (qid, rank, vec_id, d2). */
  def ivfAdcRerankTopK(vecs: DataFrame, isQuery: Column, k: Int,
                       shortlist: Int, nprobe: Int, numCentroids: Int,
                       cfg: PqConfig, cents: DataFrame): DataFrame = {
    require(k <= shortlist, s"k ($k) must be <= shortlist ($shortlist)")
    val sl = ivfAdcTopK(vecs, isQuery, shortlist, nprobe, numCentroids,
      cfg, cents).select(col("qid"), col("vec_id"))
    rerankExact(vecs, isQuery, k, sl, cfg)
  }

  /** Residual IVFADC-R — the COMPLETE Jégou 2011 recipe in one call
    * (r12 verdict #3): a TRAINED coarse quantizer bounds which codes a
    * query scans (§IV), PQ codes quantize the RESIDUAL x − centroid(cell)
    * so the 8 bytes spend their precision inside the cell (§IV), and the
    * top-`shortlist` ADC survivors are re-ranked by EXACT L2 over their
    * raw vectors (§V). [[ivfAdcRerankTopK]] composes the raw-coding
    * variant; this is the same wiring over [[ivfAdcResidualTopK]] — the
    * shortlist is ranked by per-(query, probed-cell) residual ADC, and the
    * re-rank stage is the shared broadcast-semi-join fetch (its exact
    * distances are coding-agnostic: raw L2 over raw coordinates). Same
    * cost structure: post-shortlist work is O(n_q·shortlist·dim),
    * independent of corpus size; self excluded (the ivfAdcResidualTopK
    * convention). Returns (qid, rank, vec_id, d2). */
  def ivfAdcResidualRerankTopK(vecs: DataFrame, isQuery: Column, k: Int,
                               shortlist: Int, nprobe: Int,
                               coarseCents: DataFrame, cfg: PqConfig,
                               pqSeedFrom: Long): DataFrame = {
    require(k <= shortlist, s"k ($k) must be <= shortlist ($shortlist)")
    val sl = ivfAdcResidualTopK(vecs, isQuery, shortlist, nprobe,
      coarseCents, cfg, pqSeedFrom).select(col("qid"), col("vec_id"))
    rerankExact(vecs, isQuery, k, sl, cfg)
  }

  /** Incremental ENCODE-INTO — the write side of the IVFADC index
    * lifecycle (r14 verdict #1; mirrors the graph index's B119 insert):
    * assign + encode a DELTA of vectors against FROZEN model state — the
    * coarse quantizer `coarseCents(cent_id, ce)` and the PQ codebook
    * `cents(m, cent_id, si, c)` both trained earlier and NOT retrained
    * here. Returns index rows (vec_id, cell, codes) — the 8-byte/vector
    * layout the store appends.
    *
    * This is the production vector-store write loop: train once (or
    * per-epoch), then absorb arrivals with ONE kernel projection over the
    * delta scan (cell assignment + code assignment both ride as codegen
    * reference objects since r17 — the pre-r17 form paid two broadcast
    * joins), ZERO passes over the existing index. Because encoding is
    * stateless given frozen models, delta-encode ≡ full-encode restricted
    * to the delta, and existing rows are untouched by construction (PqSpec
    * pins both). The cost of freezing is drift, not correctness: codes stay
    * exact w.r.t. the frozen codebook while the data distribution moves —
    * the B74/B86 drift monitors are the signal to retrain, exactly the
    * FAISS operational posture. */
  def encodeInto(delta: DataFrame, cfg: PqConfig, cents: DataFrame,
                 coarseCents: DataFrame): DataFrame =
    delta.select(col("vec_id"),
      Ann.cellCol9(Ann.collectCellCents(coarseCents)).as("cell"),
      pqCodesCol(col("e"), cbMat(cents, cfg)).as("codes"))

  /** DELETE maintenance on the codes index (the lifecycle's other write):
    * drop the deleted vectors' rows. Unlike the graph index — where
    * deletion must repair surviving adjacency lists ([[Ann.knnDelete]]'s
    * tombstone-and-donate pass) — a PQ index keeps NO cross-row state:
    * each row is (vec_id, cell, codes) derived from that vector alone, so
    * deletion is EXACT and O(deleted) with zero repair, one of the
    * operational reasons stores keep the IVFADC form at 100 TB. At scale
    * this filter is a partition-pruned anti-join on the id key (or a
    * tombstone file merged at read, the [[Compact]] posture); survivors
    * pass through verbatim (PqSpec pins that). */
  def deleteFrom(index: DataFrame, isDeleted: Column): DataFrame =
    index.filter(!isDeleted)

  /** SERVE — ADC top-k against a PRE-BUILT index (vec_id, cell, codes)
    * with frozen models: no training, no corpus-side encode, the read
    * loop of the lifecycle. Probes and per-query distance tables come
    * from the `queries(vec_id, e)` rows alone (O(model): n_q·m·k table
    * entries + n_q·nprobe probe rows, both broadcast); the scan touches
    * only codes in probed cells, map-side, with [[graft.functions.TopKAgg]]
    * bounding the single shuffle to n_q·k rows. Self-match excluded (the
    * [[ivfAdcTopK]] convention). Returns (qid, rank, vec_id, adc). */
  def ivfAdcServeTopK(queries: DataFrame, index: DataFrame, k: Int,
                      nprobe: Int, cfg: PqConfig, cents: DataFrame,
                      coarseCents: DataFrame): DataFrame = {
    val (_, probes) = assignProbes(queries, lit(true), nprobe, coarseCents)
    val dt = dtState(queries, lit(true), cfg, cents)
    val cand = index
      .join(broadcast(probes),
        index("cell") === probes("qcell") && probes("qid") =!= index("vec_id"))
      .select(col("qid"), col("vec_id"), col("codes"))
    adcRank(cand, k, dt)
  }

  /** FILTERED serve (SURVEY.md §2 B133's PQ half — r15 verdict #3's
    * "and/or"): [[ivfAdcServeTopK]] with a metadata predicate over the
    * index — "top-k among vectors IN the allowed set", the
    * tenant/category-filtered form next to [[Ann.knnSearchFilteredInto]]'s
    * graph walk. Here the filter is a PRE-filter: the codes index is
    * semi-joined against the allowed ids BEFORE the probe join, so
    * disallowed codes are never scanned at all — cheaper than
    * post-filtering, and exact, because ADC candidates come from cell
    * blocking (each row qualifies independently), not from graph
    * adjacency — there is no path-through-disallowed-vectors concern and
    * hence no post-filtering discipline to keep. The starvation mode is
    * different from the graph's: a selective filter empties probed
    * CELLS, and the recovery dial is nprobe — what nprobe provably
    * grows is candidate-pool COVERAGE (probed cells are supersets);
    * fixed-k shortlist recall is NOT monotone in it (an ADC-closer
    * candidate from an extra cell can displace a gold member — measured
    * 0.70 → 0.63 at 49% selectivity). PqSpec asserts coverage
    * monotonicity as a theorem and floors the top-10 shortlist recall
    * vs the exact-L2-among-allowed gold at two selectivities. `allowedIds` is a (vec_id)-keyed frame (the filter
    * attribute usually lives in a metadata table, not in the index). */
  def ivfAdcServeFilteredTopK(queries: DataFrame, index: DataFrame,
                              allowedIds: DataFrame, k: Int, nprobe: Int,
                              cfg: PqConfig, cents: DataFrame,
                              coarseCents: DataFrame): DataFrame =
    ivfAdcServeTopK(queries,
      index.join(allowedIds.select(col("vec_id")), Seq("vec_id"), "left_semi"),
      k, nprobe, cfg, cents, coarseCents)

  /** One streaming micro-batch of the serve loop (B124/B129 pattern —
    * batchId-keyed overwrite = exactly-once): answer THIS batch's query
    * vectors against the frozen index + models and write to
    * `aRoot/b<batchId>`. Serving is stateless per query (no cross-batch
    * LSH occupancy, unlike [[Ann.knnStreamServe]]'s walk), so a retried
    * batch rewrites byte-identical answers and batch composition cannot
    * change any answer — StreamPqSpec pins both. */
  def ivfStreamServe(batch: DataFrame, batchId: Long, index: DataFrame,
                     cents: DataFrame, coarseCents: DataFrame, aRoot: String,
                     k: Int, nprobe: Int, cfg: PqConfig): Unit = {
    val qs = batch.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    ivfAdcServeTopK(qs, index, k, nprobe, cfg, cents, coarseCents)
      .write.mode("overwrite").parquet(s"$aRoot/b$batchId")
  }

  /** One streaming micro-batch of the WRITE side — the B124 mirror for
    * the codes index: [[encodeInto]] THIS batch's vectors against the
    * frozen models into `iRoot/b<batchId>` (batchId-keyed overwrite =
    * exactly-once). Encoding is stateless given frozen models, so unlike
    * the graph insert there is NO cross-batch state read: a retried
    * batch rewrites byte-identical codes and batch composition cannot
    * change any row — StreamPqSpec pins both. The accumulated index is
    * simply the union of the batch dirs; production compacts them with
    * the [[Compact]]/[[StreamCurate.compact]] posture. */
  def ivfStreamEncode(batch: DataFrame, batchId: Long, cents: DataFrame,
                      coarseCents: DataFrame, iRoot: String,
                      cfg: PqConfig): Unit = {
    val vs = batch.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    encodeInto(vs, cfg, cents, coarseCents)
      .write.mode("overwrite").parquet(s"$iRoot/b$batchId")
  }

  /** The shared exact re-rank stage: fetch the raw coordinates of the
    * (qid, vec_id) shortlist via ONE broadcast semi-join against the
    * corpus scan, compute exact squared L2 through the
    * [[graft.functions.VecL2]] kernel (round-6, term-for-term the order
    * the oracle replays), window-rank ≤ shortlist rows per query. All
    * post-shortlist cost is O(n_q·shortlist·dim). The pre-r17 form
    * exploded the WHOLE corpus to coordinate rows before the shortlist
    * join; the kernel form probes the broadcast shortlist with intact
    * vector rows. */
  private def rerankExact(vecs: DataFrame, isQuery: Column, k: Int,
                          sl: DataFrame, cfg: PqConfig): DataFrame = {
    val cand = vecs.join(broadcast(sl), Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("e"))
    val q = vecs.filter(isQuery)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val d = cand.join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round6(call_function("vec_l2", col("qe"), col("e"))).as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    d.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("d2"))
  }
}
