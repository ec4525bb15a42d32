package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geometry of the banded hyperplane LSH over an embedding column
  * (SURVEY.md §2 B50/B51).
  *
  * `bands` independent `bits`-bit buckets per vector: two vectors become
  * candidates when they share ANY (band, bucket). Per-pair recall follows
  * the standard amplification curve `1 − (1 − p^bits)^bands` where
  * `p = 1 − θ/π` is the per-plane agreement probability at angle θ.
  *
  *  - `bits` is the corpus-size knob: expected bucket occupancy is
  *    `n / 2^bits` per band, so raise `bits` as the corpus grows to keep
  *    buckets bounded (and therefore candidate generation linear);
  *  - `bands` buys back the recall a finer bucket costs;
  *  - `prime` feeds the deterministic plane formula and MUST be ≥
  *    `bands·bits` ([[graft.functions.VecLshBuckets]] enforces it);
  *  - `maxBucket` skips degenerate hot buckets entirely (a bucket of n
  *    members is n(n−1)/2 candidate pairs on one reducer — mega-families
  *    belong to the exact-dup pass, not near-dup candidate generation);
  *  - `cosineConfirm` is the exact-cosine confirmation threshold applied
  *    to candidates in [[NearDup.embedCosinePairs]].
  *
  * Use [[EmbedLshConfig.derive]] (pure sizing math, unit-testable) or
  * [[EmbedLshConfig.forCorpus]] (sniffs the corpus cardinality with
  * `approx_count_distinct`) instead of hand-picking numbers.
  */
final case class EmbedLshConfig(
    bands: Int = 24,
    bits: Int = 6,
    prime: Int = 149,
    dim: Int = 64,
    maxBucket: Int = 1000,
    cosineConfirm: Double = 0.45) {
  require(bands >= 1 && bits >= 1 && bits <= 63, s"bad geometry: $bands x $bits")
  require(prime >= bands * bits,
    s"prime ($prime) must be >= plane count (${bands * bits})")

  /** Expected per-band bucket occupancy at corpus size n (uniform hash). */
  def expectedOccupancy(corpusSize: Long): Double =
    corpusSize.toDouble / (1L << math.min(bits, 62))
}

object EmbedLshConfig {
  /** Smallest prime ≥ n (n ≤ a few thousand here — trial division is fine). */
  private[operators] def primeAtLeast(n: Int): Int = {
    def isPrime(k: Int): Boolean =
      k >= 2 && (2 to math.sqrt(k).toInt).forall(k % _ != 0)
    Iterator.from(math.max(n, 2)).find(isPrime).get
  }

  /** Pure sizing math — the formula the r3 hard-coded `24 × 6` comment
    * described, now executable, and HONEST about feasibility:
    *
    *  - ideal `bits = max(4, ceil(log2(corpusSize / targetBucket)))` keeps
    *    the expected per-band bucket at ~`targetBucket` members;
    *  - `bands(bits) = ceil(ln(1 − recallTarget) / ln(1 − p^bits))` is what
    *    per-pair recall ≥ `recallTarget` COSTS at per-plane agreement `p`
    *    (`p = 1 − θ/π`; 0.6 ≈ the cosine-0.3..0.5 regime, ~0.8 for true
    *    near-dups at cosine ≥ 0.8) — it grows geometrically with bits, so
    *    past a corpus size the ideal bit width is unaffordable;
    *  - when `bands(bits)` exceeds `maxBands`, bits are WALKED DOWN until
    *    the recall target is affordable — coarser buckets (occupancy above
    *    `targetBucket`) are a cost the candidate-confirm stage absorbs,
    *    whereas silently missing recall is an unfixable data defect;
    *  - if even the affordable geometry would push expected occupancy past
    *    `maxBucket` (the skew cap would then SKIP typical buckets, a
    *    silent recall collapse), derive REFUSES with the actionable
    *    alternatives rather than returning a config that lies;
    *  - `prime` = smallest prime ≥ the plane count (pairwise-distinct
    *    planes — see VecLshBuckets for the two historical defects).
    */
  def derive(corpusSize: Long, dim: Int,
             targetBucket: Int = 64,
             planeAgreement: Double = 0.6,
             recallTarget: Double = 0.9,
             maxBucket: Int = 1000,
             cosineConfirm: Double = 0.45,
             maxBands: Int = 64): EmbedLshConfig = {
    require(corpusSize > 0 && targetBucket > 0 && maxBands >= 1)
    require(planeAgreement > 0 && planeAgreement < 1)
    require(recallTarget > 0 && recallTarget < 1)
    def bandsFor(bits: Int): Long = {
      val pBand = math.pow(planeAgreement, bits)
      if (pBand <= 0) Long.MaxValue
      else math.ceil(math.log1p(-recallTarget) / math.log1p(-pBand)).toLong
    }
    val idealBits = math.max(4,
      math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2)).toInt)
    val bits = (idealBits to 4 by -1).find(b => bandsFor(b) <= maxBands)
      .getOrElse(throw new IllegalArgumentException(
        s"recall $recallTarget at plane agreement $planeAgreement needs " +
          s"${bandsFor(4)} bands even at 4 bits (> maxBands $maxBands): " +
          "raise maxBands, lower recallTarget, or use IVF"))
    val occupancy = corpusSize.toDouble / (1L << bits)
    require(occupancy <= maxBucket,
      f"corpus $corpusSize needs $idealBits-bit buckets, but recall " +
        f"$recallTarget only affords $bits bits within $maxBands bands — " +
        f"expected occupancy $occupancy%.0f would exceed maxBucket " +
        s"$maxBucket and the skew cap would skip TYPICAL buckets: raise " +
        "maxBands/maxBucket, lower recallTarget, or use IVF at this scale")
    val bands = math.max(8, bandsFor(bits).toInt)
    EmbedLshConfig(bands, bits, primeAtLeast(bands * bits), dim,
      maxBucket, cosineConfirm)
  }

  /** Derive from the corpus itself: cardinality via `approx_count_distinct`
    * (one cheap aggregate job — HLL sketch, no exact distinct shuffle) and
    * the vector width from the schema-declared first row. */
  def forCorpus(emb: DataFrame,
                targetBucket: Int = 64,
                planeAgreement: Double = 0.6,
                recallTarget: Double = 0.9): EmbedLshConfig = {
    val row = emb.agg(
      approx_count_distinct(col("vec_id")).as("n"),
      max(size(col("e"))).as("dim")).head()
    derive(row.getLong(0), row.getInt(1), targetBucket, planeAgreement,
      recallTarget)
  }
}

/** IVF index shape: `numCentroids` coarse cells (deterministic "training" =
  * the first `numCentroids` vectors by id, or a [[Ann.kmeansFit]] model),
  * each vector assigned to its max-cosine cell; queries probe their
  * `nprobe` nearest cells.
  *
  * Use [[IvfConfig.derive]] (pure sizing math, unit-testable) or
  * [[IvfConfig.forCorpus]] (sniffs the corpus cardinality) instead of
  * hand-picking numbers — the same contract as [[EmbedLshConfig]]. */
final case class IvfConfig(numCentroids: Int = 16, nprobe: Int = 2) {
  require(numCentroids >= 1 && nprobe >= 1 && nprobe <= numCentroids)

  /** Expected cell occupancy at corpus size n (balanced quantizer). */
  def expectedCell(corpusSize: Long): Double =
    corpusSize.toDouble / numCentroids
}

object IvfConfig {
  /** Pure sizing math for the coarse quantizer, mirroring
    * [[EmbedLshConfig.derive]]'s refuse-to-lie contract:
    *
    *  - `nprobe = ceil(ln(1 − recallTarget) / ln(1 − cellHitRate))` — under
    *    the standard multi-probe model the true neighbor lands in the
    *    query's j-th-ranked cell with geometrically decaying probability
    *    (`cellHitRate` per rank), so recall ≥ target costs that many
    *    probes. `cellHitRate` is corpus-dependent: ~0.6 is the clustered
    *    regime a TRAINED quantizer produces; weak-similarity corpora sit
    *    lower — measure with AnnRecallSpec's method before trusting it;
    *  - ideal `k = sqrt(n · nprobe)` minimizes per-query work
    *    `k + nprobe · n/k` (rank k centroids, then scan nprobe cells of
    *    ~n/k vectors) — the classic IVF balance point;
    *  - `k` is CAPPED at `n / minCell`: cells below ~`minCell` vectors make
    *    the coarse quantizer noise-dominated (assignment flips on rounding,
    *    recall collapses without the cost going down);
    *  - REFUSES when the result degenerates: `nprobe > maxProbeFraction·k`
    *    means the "index" scans most of the corpus per query — brute-force
    *    [[Ann.exactTopK]] is then strictly better, and returning a config
    *    anyway would lie about the speedup. Tiny corpora refuse the same
    *    way (k capped to n/minCell falls below nprobe/maxProbeFraction).
    */
  def derive(corpusSize: Long,
             recallTarget: Double = 0.9,
             cellHitRate: Double = 0.6,
             minCell: Int = 32,
             maxProbeFraction: Double = 0.25): IvfConfig = {
    require(corpusSize > 0 && minCell >= 1)
    require(recallTarget > 0 && recallTarget < 1)
    require(cellHitRate > 0 && cellHitRate < 1)
    require(maxProbeFraction > 0 && maxProbeFraction <= 1)
    val nprobe = math.ceil(
      math.log1p(-recallTarget) / math.log1p(-cellHitRate)).toInt.max(1)
    val idealK = math.round(math.sqrt(corpusSize.toDouble * nprobe)).toInt
    val k = math.min(idealK.toLong, corpusSize / minCell).toInt
    if (k < math.ceil(nprobe / maxProbeFraction))
      throw new IllegalArgumentException(
        s"IVF degenerates at corpus $corpusSize: recall $recallTarget at " +
          s"cell-hit $cellHitRate needs $nprobe probes, but only $k cells " +
          s"of >= $minCell vectors exist — probing that much of the index " +
          "is brute force with extra steps: use Ann.exactTopK, lower " +
          "recallTarget, or accept smaller cells (minCell)")
    IvfConfig(k, nprobe)
  }

  /** Derive from the corpus itself: cardinality via `approx_count_distinct`
    * (one cheap aggregate job), mirroring [[EmbedLshConfig.forCorpus]]. */
  def forCorpus(emb: DataFrame,
                recallTarget: Double = 0.9,
                cellHitRate: Double = 0.6,
                minCell: Int = 32): IvfConfig = {
    val n = emb.agg(approx_count_distinct(col("vec_id")).as("n"))
      .head().getLong(0)
    derive(n, recallTarget, cellHitRate, minCell)
  }
}

/** Similarity search over an embedding column (SURVEY.md §2 B51): exact
  * brute-force cosine top-k plus two ANN index shapes (banded hyperplane
  * LSH, IVF with multi-probe). Input contract for every operator here:
  * `emb` has `vec_id: long` and `e: array<double>`; queries are selected by
  * the `isQuery` predicate column. Output: (qid, rank, cid, cos_sim),
  * cosine rounded to 6 places (engine-stable rank key), id tiebreak.
  *
  * Scale posture (100 TB): LSH candidates come from bounded (band, bucket)
  * groups after one shuffle — no all-pairs step; IVF assignment is ONE
  * partial+final `max_by` aggregate (map-side combined — r3 ranked all 16
  * candidate cells through a full-data window, a 16× shuffle this shape
  * avoids); the exact path broadcasts the query side and exists as the
  * correctness baseline the ANN shapes are measured against (AnnRecallSpec).
  */
object Ann {

  private[operators] def vdot(x: Column, y: Column): Column =
    call_function("vec_dot", x, y)

  private def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", sqrt(vdot(col("e"), col("e"))))

  /** One (vec_id, band, bucket) row per band per vector — all buckets from
    * ONE codegen'd pass ([[graft.functions.VecLshBuckets]]). */
  def lshBands(emb: DataFrame, cfg: EmbedLshConfig): DataFrame =
    emb.select(col("vec_id"),
      posexplode(call_function("vec_lsh_buckets", col("e"),
        lit(cfg.bands), lit(cfg.bits), lit(cfg.prime), lit(cfg.dim))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))

  /** Exact brute-force cosine top-k: the correctness baseline. Broadcasts
    * the (small) query side; linear in the corpus. */
  def exactTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val n = withNorm(emb)
    val q = n.filter(isQuery)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val c = n.select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val scored = broadcast(q).crossJoin(c).filter(col("qid") =!= col("cid"))
      .withColumn("cos_sim", round(vdot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    rankTopK(scored, k)
  }

  /** Contrastive-pair mining (SURVEY.md §2 B104): per query vector, the
    * HARDEST NEGATIVE (highest-cosine candidate with a DIFFERENT label —
    * the near-miss that carries the gradient signal in triplet/contrastive
    * training, Schroff et al. 2015 §3.2) and the HARDEST POSITIVE
    * (lowest-cosine candidate with the SAME label — the stretched
    * intra-class pair). Input contract: `emb` additionally carries
    * `label`. Output one row per query: (qid, q_label, hard_neg_id,
    * hard_neg_sim, hard_pos_id, hard_pos_sim); rank key = rounded cosine
    * (engine-stable) + id tiebreak, same discipline as [[exactTopK]].
    *
    * Scale posture: the exact form below broadcasts the (bounded) query
    * side and scans the corpus once — the mining analog of [[exactTopK]].
    * At corpus-scale query sets, production swaps the crossJoin for the
    * [[knnGraph]] neighbor lists (mine within each vector's top-k list,
    * one window over graph edges) at the usual ANN recall trade. */
  def hardPairs(emb: DataFrame, isQuery: Column): DataFrame = {
    val n = withNorm(emb)
    val q = n.filter(isQuery).select(col("vec_id").as("qid"),
      col("e").as("qe"), col("nrm").as("qn"), col("label").as("q_label"))
    val c = n.select(col("vec_id").as("cid"), col("e").as("ce"),
      col("nrm").as("cn"), col("label").as("c_label"))
    val scored = broadcast(q).crossJoin(c).filter(col("qid") =!= col("cid"))
      .withColumn("cos_sim",
        round(vdot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    def pick(cond: Column, ord: Seq[Column], idOut: String, simOut: String,
             keep: Seq[Column]): DataFrame =
      scored.filter(cond)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(ord: _*)))
        .filter(col("rn") === 1)
        .select(keep ++ Seq(col("cid").as(idOut), col("cos_sim").as(simOut)): _*)
    val neg = pick(col("q_label") =!= col("c_label"),
      Seq(col("cos_sim").desc, col("cid")), "hard_neg_id", "hard_neg_sim",
      Seq(col("qid"), col("q_label")))
    val pos = pick(col("q_label") === col("c_label"),
      Seq(col("cos_sim").asc, col("cid")), "hard_pos_id", "hard_pos_sim",
      Seq(col("qid")))
    // both sides are one row per query — O(n_q) by construction — but the
    // window output carries no size stats, so without the hint the static
    // planner ships a corpus-irrelevant 10-row SortMergeJoin
    neg.join(broadcast(pos), Seq("qid"))
  }

  /** Scalar-quantized (SQ8) cosine top-k (SURVEY.md §2 B105) — the search
    * half of int8 quantization (q_embed_quant is the encode half): each
    * vector is coded as per-vector-scaled int8 `q_i = ⌊e_i/s·127 + ½⌋`
    * with `s = max|e_i|`, and candidates are ranked by the DEQUANTIZED
    * cosine `s_q·s_c·Σ q_i·c_i / (127²·‖q‖·‖c‖)`. The integer dot is
    * exact in doubles (|Σ| ≤ 64·127² ≪ 2^53, so it is order-INDEPENDENT,
    * unlike a float dot), and the surrounding scalar multiply/divide chain
    * is written in one fixed association mirrored verbatim in the oracle.
    * Zero vectors carry no signal and are excluded on both sides (the
    * q_embed_quant convention).
    *
    * Why it exists next to PQ: SQ8 is the 4×-smaller-scan path that keeps
    * per-candidate work exact-ish (one int dot) with NO trained codebook —
    * the production default when recall must stay near-exact and training
    * a quantizer is not worth it (FAISS SQ8). Codes are 64 bytes vs 256
    * for float32 — the corpus scan that dominates brute-force search drops
    * 4× before any index is built. AnnRecallSpec pins the measured top-k
    * overlap vs [[exactTopK]]. */
  def sq8TopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val coded = withNorm(emb)
      .withColumn("scale", array_max(transform(col("e"), v => abs(v))))
      .filter(col("scale") > 0)
      .withColumn("qv", transform(col("e"),
        v => floor(v / col("scale") * 127 + 0.5)))
    val q = coded.filter(isQuery).select(col("vec_id").as("qid"),
      col("qv").as("qcode"), col("scale").as("qs"), col("nrm").as("qn"))
    val c = coded.select(col("vec_id").as("cid"), col("qv").as("ccode"),
      col("scale").as("cs"), col("nrm").as("cn"))
    val scored = broadcast(q).crossJoin(c).filter(col("qid") =!= col("cid"))
      .withColumn("cos_sim", round(
        col("qs") * col("cs") * vdot(col("qcode"), col("ccode")) /
          (lit(16129.0) * col("qn") * col("cn")), 6))
    rankTopK(scored, k).withColumnRenamed("cos_sim", "sq_sim")
  }

  /** Banded-LSH ANN top-k: candidates share ≥1 (band, bucket) with a query,
    * hot buckets above `cfg.maxBucket` skipped. */
  def lshTopK(emb: DataFrame, isQuery: Column, k: Int,
              cfg: EmbedLshConfig): DataFrame = {
    val bands = lshBands(emb, cfg)
    val okBuckets = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= cfg.maxBucket).select(col("band"), col("bucket"))
    // isQuery is applied to emb itself (not the pruned bands projection) so
    // a predicate over any contract column — vec_id OR e — works in every
    // Ann operator; re-banding the handful of query rows is free
    val qb = lshBands(emb.filter(isQuery), cfg).select(col("vec_id").as("qid"),
      col("band"), col("bucket"))
    val cb = bands.select(col("vec_id").as("cid"), col("band"), col("bucket"))
    val cand = qb.join(okBuckets, Seq("band", "bucket"))
      .join(cb, Seq("band", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid")).distinct()
    val n = withNorm(emb)
    val scored = cand
      .join(n.select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn")), "qid")
      .join(n.select(col("vec_id").as("cid"), col("e").as("ce"),
        col("nrm").as("cn")), "cid")
      .withColumn("cos_sim", round(vdot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    rankTopK(scored, k)
  }

  /** IVF ANN top-k with multi-probe.
    *
    * Cell assignment is a `max_by(cent_id, struct(cent_cos, −cent_id))`
    * aggregate over the vector×centroid scores: every vector's 16 candidate
    * rows are produced from ONE input row, so the partial aggregate reduces
    * them map-side and the shuffle carries ~n rows — NOT the n×numCentroids
    * a `row_number()` window over the full corpus would move (the r3
    * shape). The window ranking survives only on the query side, AFTER the
    * `isQuery` filter (`nprobe` cells per query need a real rank). */
  def ivfTopK(emb: DataFrame, isQuery: Column, k: Int,
              cfg: IvfConfig = IvfConfig()): DataFrame =
    ivfTopK(emb, isQuery, k, cfg,
      emb.filter(col("vec_id") < cfg.numCentroids)
        .select(col("vec_id").as("cent_id"), col("e").as("ce")))

  /** Collected (cent_id, ce) centroids sorted by id — the O(k·d) driver
    * model the round-9 assignment kernel bakes in (here and in [[Pq]]). */
  private[operators] def collectCellCents(cents: DataFrame): Array[(Long, Array[Double])] =
    cents.select(col("cent_id"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** Round-9 argmax-cosine cell assignment as a zero-shuffle column
    * ([[graft.functions.VecBestCell]] at scale 9 — BigDecimal HALF_UP, the
    * exact `round(cos, 9)` + min-id-tiebreak `max_by` semantics); the
    * kernel index maps back to cent_id when ids aren't dense 0-based. */
  private[operators] def cellCol9(cs: Array[(Long, Array[Double])]): Column = {
    require(cs.nonEmpty, "cell assignment: empty centroid set")
    val ids = cs.map(_._1)
    val idx = call_function("vec_best_cell", col("e"),
      typedLit(cs.map(_._2.toSeq).toSeq), lit(9))
    if (ids.zipWithIndex.forall { case (id, i) => id == i.toLong }) idx
    else element_at(typedLit(ids.toSeq), (idx + 1).cast("int"))
  }

  /** IVF against an explicit centroid table (cent_id, ce) — e.g. one
    * trained by [[kmeansFit]]. The deterministic-init overload above is the
    * no-training quick path; same plan shape either way.
    *
    * r17 shape: corpus cell assignment is ONE projection through the
    * round-9 [[graft.functions.VecBestCell]] kernel (the centroid matrix
    * is O(k·d) driver model state — it always was; the pre-r17 form
    * reached it through a crossJoin and then shuffled every vector WITH
    * its embedding array through a max_by aggregate — guide §2.3/§2.4).
    * Only the query side still crossJoins the broadcast centroids (the
    * nprobe ranking needs every (query, cell) score — n_q·k rows). */
  def ivfTopK(emb: DataFrame, isQuery: Column, k: Int,
              cfg: IvfConfig, centroids: DataFrame): DataFrame = {
    val cs = collectCellCents(centroids)
    val n = withNorm(emb)
    val cents = centroids.select(col("cent_id"), col("ce"),
      sqrt(vdot(col("ce"), col("ce"))).as("cnrm"))
    val probeW = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val probes = withNorm(emb.filter(isQuery)).crossJoin(broadcast(cents))
      .withColumn("cent_cos",
        round(vdot(col("e"), col("ce")) / (col("nrm") * col("cnrm")), 9))
      .withColumn("arn", row_number().over(probeW))
      .filter(col("arn") <= cfg.nprobe)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn"), col("cent_id").as("qcell"))
    val c = n.select(col("vec_id").as("cid"), col("e").as("ce2"),
      col("nrm").as("cn"), cellCol9(cs).as("ccell"))
    // cells are disjoint per candidate (one cell each), so the probe join
    // yields each (query, candidate) at most once — no dedup step needed
    val out = broadcast(probes)
      .join(c, col("qcell") === col("ccell") && col("qid") =!= col("cid"))
      .withColumn("cos_sim", round(vdot(col("qe"), col("ce2")) / (col("qn") * col("cn")), 6))
    rankTopK(out, k)
  }

  /** Lloyd-iteration k-means over the embedding column — the trainer for a
    * REAL IVF coarse quantizer (the catalog's IVF uses the deterministic
    * first-k init directly; `kmeansFit` is what you run first at scale so
    * cells actually balance). Deterministic end to end: init = the k
    * lowest-id vectors, assignment by cosine rounded to 6 places with
    * min-id tiebreak, update = per-dimension mean with empty cells keeping
    * their previous centroid.
    *
    * Shape per iteration (the 100 TB path): ONE broadcast crossJoin scores
    * every vector against the k centroids inside codegen (`vec_dot`), a
    * map-side-combined `max_by` picks each vector's cell (~n rows
    * shuffled), and the update is a posexplode + partial+final avg keyed on
    * (cell, dim) — k·d result rows. Only the O(k·d) MODEL is collected to
    * the driver between iterations (how every distributed k-means works);
    * the data never leaves the cluster.
    *
    * @return exploded centroids (cent_id, j, c_val), c_val rounded to 6. */
  def kmeansFit(emb0: DataFrame, k: Int = 16, iters: Int = 2): DataFrame = {
    val spark = emb0.sparkSession
    import spark.implicits._
    // 1 init + `iters` update jobs each scan the corpus: persist it once
    // (MEMORY_AND_DISK — spills instead of OOMing at scale) for the
    // duration of training, the standard iterative-ML shape. The returned
    // model is driver state, so unpersisting before returning is safe —
    // but only if WE created the cache: persisting an already-persisted
    // DataFrame is a no-op, and unpersisting it in finally would silently
    // evict the CALLER's cache (r7 advice), so both sides are skipped when
    // the input arrives cached.
    val callerCached =
      emb0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val emb =
      if (callerCached) emb0
      else emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var cents: IndexedSeq[(Long, Seq[Double])] = emb.filter(col("vec_id") < k)
      .select(col("vec_id"), col("e")) // by name: the contract promises the
      .orderBy(col("vec_id")).collect() // columns, not their position
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toIndexedSeq
    for (_ <- 1 to iters) {
      // the centroids are MODEL state already on the driver, so the
      // assignment is ONE projection through the vec_best_cell kernel
      // ([[graft.functions.VecBestCell]]): the matrix rides along as a
      // primitive codegen reference object — no broadcast join, no
      // groupBy(vec) (which would shuffle every vector once per
      // iteration), and no boxed literal-array reads. The kernel returns
      // the argmax INDEX with first-wins ties; centroids are sorted by id,
      // so that is exactly the (round(cos,6) DESC, cent_id ASC) rank-1
      // the oracle replays.
      val cell = call_function("vec_best_cell", col("e"),
        typedLit(cents.map(_._2)))
      val means = emb.select(cell.as("cell"), posexplode(col("e")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .collect().groupBy(_.getLong(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      cents = cents.zipWithIndex.map { case ((id, prev), i) =>
        (id, means.getOrElse(i.toLong, prev)) }
    }
    cents.toDF("cent_id", "ce")
      .select(col("cent_id"), posexplode(col("ce")))
      .select(col("cent_id"), col("pos").as("j"),
        round(col("col"), 6).as("c_val"))
    } finally if (!callerCached) emb.unpersist(blocking = false)
  }

  /** Truncated-dimension two-stage retrieval (the Matryoshka serving
    * pattern — Kusupati et al., "Matryoshka Representation Learning",
    * NeurIPS 2022, §4 adaptive retrieval; SURVEY.md §2 B110): stage 1
    * shortlists per query by cosine over only the FIRST `prefixDims`
    * components, stage 2 exact-cosine re-ranks the shortlist at full
    * dimension. With MRL-trained embeddings the prefix is a trained
    * coarse representation; on generic embeddings (this fixture) it is a
    * plain truncation — AnnRecallSpec MEASURES what that buys rather than
    * assuming it, and the honest result rides the entry's scaladoc.
    *
    * Scale shape: stage 1 projects the corpus to `prefixDims` floats in
    * the scan stage (a d/prefixDims bandwidth cut on the hot loop — the
    * reason production tiers store the prefix as its own column), scores
    * against the broadcast truncated queries, and bounds the shortlist
    * with the O(S) [[graft.functions.TopKAgg]] buffer — partial top-S per
    * partition, no corpus-wide window sort. Stage 2 is the broadcast
    * shortlist semi-join fetch measured in SCALE.md ("Re-rank fetch at
    * 10x"): raw vectors move only for qid×S rows, never a corpus shuffle.
    * Keys are round-6 cosine with id-ascending ties on BOTH stages — the
    * shared float discipline, fully SQL-replayable. */
  def prefixDimTopK(emb: DataFrame, isQuery: Column, k: Int,
                    prefixDims: Int, shortlistS: Int): DataFrame = {
    require(prefixDims >= 1, s"prefixDims ($prefixDims) must be >= 1")
    require(shortlistS >= k, s"shortlist ($shortlistS) must be >= k ($k)")
    val spark = emb.sparkSession
    // pn > 0 guards a nonzero vector whose first prefixDims components are
    // all zero: pn=0 would yield NaN pcos, which ranks differently in
    // TopKAgg's comparator than in the oracle's ORDER BY DESC — the same
    // zero-signal exclusion sq8TopK applies, mirrored in the oracle WHERE.
    val pe = emb.select(col("vec_id"), slice(col("e"), 1, prefixDims).as("pe"))
      .withColumn("pn", sqrt(vdot(col("pe"), col("pe"))))
      .filter(col("pn") > 0)
    val pq = pe.filter(isQuery)
      .select(col("vec_id").as("qid"), col("pe").as("qpe"), col("pn").as("qpn"))
    val scored = pe.crossJoin(broadcast(pq))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("pcos",
        round(vdot(col("pe"), col("qpe")) / (col("pn") * col("qpn")), 6))
    val topS = graft.functions.TopKAgg.topK(spark, shortlistS)
    val sl = scored.groupBy(col("qid"))
      .agg(topS(col("pcos"), col("vec_id")).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e2"))
      .select(col("qid"), col("e2._2").as("vec_id"))
    val full = withNorm(emb)
    val cand = full.join(broadcast(sl), Seq("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"), col("e").as("ce"),
        col("nrm").as("cn"))
    val qfull = withNorm(emb.filter(isQuery))
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val rer = cand.join(broadcast(qfull), Seq("qid"))
      .withColumn("cos_sim",
        round(vdot(col("ce"), col("qe")) / (col("cn") * col("qn")), 6))
    rankTopK(rer, k)
  }

  /** Cluster-prototype data pruning (Sorscher et al., "Beyond neural
    * scaling laws: beating power law scaling via data pruning", NeurIPS
    * 2022 — the SSL-prototypes metric; SURVEY.md §2 B109): assign every
    * vector to its trained-centroid cell, score it by cosine to its OWN
    * prototype, and keep the HARDEST ceil(1/keepDen) fraction per cell
    * (lowest prototype-cosine first — the paper's regime for large
    * datasets, where easy/prototypical examples are the redundant ones).
    * Every row ships with its cell, prototype-cosine, within-cell hardness
    * rank, and the keep verdict, so the pruned AND retained sides are both
    * auditable.
    *
    * Scale shape: ONE broadcast crossJoin scores vectors against the O(k·d)
    * centroid model inside codegen (`vec_dot`), `max_by` picks the cell
    * map-side (~n rows shuffled once), and the hardness rank is a window
    * PARTITIONED BY CELL — state bounded by the largest cluster, never a
    * global sort. The assignment key is round-9 cosine with min-id
    * tiebreak — the q_embed_ann_ivf_trained convention, replayable in any
    * engine from the rounded centroid matrix.
    *
    * @param centroids (cent_id, ce) — e.g. [[kmeansFit]] output re-packed
    * @param keepDen   keep ceil(n_cell/keepDen) hardest rows per cell */
  def prototypesPrune(emb: DataFrame, centroids: DataFrame,
                      keepDen: Int = 2): DataFrame = {
    require(keepDen >= 1, s"keepDen ($keepDen) must be >= 1")
    val cs = collectCellCents(centroids)
    val n = withNorm(emb)
    val cents = centroids.select(col("cent_id"), col("ce"),
      sqrt(vdot(col("ce"), col("ce"))).as("cnrm"))
    // r17: cell = the round-9 VecBestCell kernel (zero shuffle); the
    // prototype cosine is then recomputed for the ONE assigned centroid
    // via a broadcast join — same formula, same operands, bit-identical
    // to the pre-r17 crossJoin + max_by's winning score, without shuffling
    // every vector×centroid score through an aggregate (guide §2.4)
    val assigned = n.withColumn("cell", cellCol9(cs))
      .join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("vec_id"), col("cell"),
        round(vdot(col("e"), col("ce")) / (col("nrm") * col("cnrm")), 9)
          .as("proto_cos"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("proto_cos").asc, col("vec_id"))
    assigned
      .withColumn("rank", row_number().over(w))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .withColumn("kept",
        col("rank") <= expr(s"(n_cell + ${keepDen - 1}) div $keepDen"))
  }

  /** Distributed k-NN GRAPH construction via NN-descent (Dong, Charikar &
    * Li, "Efficient k-nearest neighbor graph construction for generic
    * similarity measures", WWW 2011; SURVEY.md §2 B95) — the neighbor-graph
    * family production ANN systems (HNSW/NN-descent pipelines) build on,
    * expressed entirely as relational joins:
    *
    *  - SEED: each vector's initial list = its top-k exact-cosine
    *    neighbors among banded-LSH candidates (shared [[lshBands]]
    *    machinery, hot buckets ≥ cfg.maxBucket skipped — a deliberately
    *    CHEAP approximate start; NN-descent's whole point is that
    *    refinement converges from a weak seed);
    *  - ROUND ("my neighbors' neighbors are probably my neighbors"): the
    *    adjacency is symmetrized as B = G ∪ reverse(G) with the reverse
    *    lists CAPPED at k by the same (cos DESC, id ASC) rank (the paper's
    *    reverse-list sampling, made deterministic) — without the cap a
    *    popular vector's in-degree is unbounded and the join below goes
    *    quadratic on it; candidates(v) = { w : (v,u) ∈ B, (u,w) ∈ B } ∪
    *    G(v), i.e. ONE self-join of B on the middle vertex — fan-out is
    *    bounded by (2k)² per vertex, so each round touches ≤ 4k²·n
    *    candidate pairs, never all-pairs; new lists = exact-cosine top-k
    *    over the candidates (the union with G(v) makes recall monotone
    *    per round).
    *
    * Scale posture (100 TB): per round, ONE shuffle of the (2k·n)-row
    * adjacency on the middle vertex + one candidate-scoring join against
    * the corpus; [[graft.functions.TopKAgg]] bounds every list rebuild to
    * ≤ k rows per vertex per partition before its shuffle. Each round is
    * MATERIALIZED (persist + count) — the iterative-ML shape kmeansFit
    * uses — so round r+1's two references to G_r never recompute the
    * chain; the final graph is returned via [[Materialize.cutFinal]] (an
    * eager checkpoint in the session's durability mode — executor-local
    * blocks by default, reliable-FS files under
    * `graft.checkpoint.reliable`) so no session-lifetime cache leaks
    * ([[graft.queries]] r12 convention).
    *
    * Float discipline: cosine rounded to 6 dp before every rank, dst-id
    * ascending tie-break — the whole construction (LSH seed, reverse cap,
    * candidate join, re-rank) replays in the DuckDB oracle under one hash.
    *
    * `buildK` (≥ k, default k) is the INTERNAL list width — the paper's K,
    * and the convergence lever that matters: wider working lists make the
    * neighbor-of-neighbor candidate pool denser, and the k-prefix recall
    * converges much faster than the full-width list's (measured on the
    * fixture corpus at 8 bands / 2 rounds: top-5 recall 0.49 at
    * buildK=5 → 0.76 at 10 → 0.93 at 15 — AnnRecallSpec pins the curve).
    * Candidate cost per round is (2·buildK)²·n.
    *
    * @return (src, rank, dst, cos_sim), rank ≤ k — each vector's k nearest
    *         known neighbors after `rounds` refinement rounds (vectors
    *         with no LSH seed candidate and no in-edge are absent,
    *         deterministic both engines). */
  /** Exact round-6 cosine for (src, dst) pair rows against a normed
    * embedding table — the kNN-graph scoring stage, shared by the builder
    * and the incremental insert. */
  private def knnScorePairs(n: DataFrame, cand: DataFrame): DataFrame =
    cand.join(n.select(col("vec_id").as("src"), col("e").as("se"),
        col("nrm").as("sn")), "src")
      .join(n.select(col("vec_id").as("dst"), col("e").as("de"),
        col("nrm").as("dn")), "dst")
      .select(col("src"), col("dst"),
        round(vdot(col("se"), col("de")) / (col("sn") * col("dn")), 6)
          .as("cos_sim"))

  /** Per-src bounded top-k of scored pairs via TopKAgg — (cos_sim DESC,
    * dst ASC), exactly the aggregate's native rank order. */
  private def knnTopKOf(spark: org.apache.spark.sql.SparkSession, bk: Int,
                        sc: DataFrame): DataFrame =
    sc.groupBy(col("src"))
      .agg(graft.functions.TopKAgg.topK(spark, bk)(
        col("cos_sim"), col("dst")).as("top"))
      .select(col("src"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("src"), (col("i") + 1).as("rank"),
        col("p._2").as("dst"), col("p._1").as("cos_sim"))

  def knnGraph(emb0: DataFrame, k: Int, cfg: EmbedLshConfig,
               rounds: Int, buildK: Int = 0): DataFrame = {
    val bk = if (buildK <= 0) k else buildK
    require(k >= 1 && rounds >= 0 && bk >= k,
      s"bad knnGraph geometry k=$k buildK=$bk rounds=$rounds")
    val spark = emb0.sparkSession
    val callerCached =
      emb0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val emb = if (callerCached) emb0
      else emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = withNorm(emb)
      def scorePairs(cand: DataFrame): DataFrame = knnScorePairs(n, cand)
      def topKOf(sc: DataFrame): DataFrame = knnTopKOf(spark, bk, sc)
      val bands = lshBands(emb, cfg)
      val okBuckets = bands.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bc"))
        .filter(col("bc") <= cfg.maxBucket).select(col("band"), col("bucket"))
      val xs = bands.select(col("vec_id").as("src"), col("band"), col("bucket"))
      val xd = bands.select(col("vec_id").as("dst"), col("band"), col("bucket"))
      val seedCand = xs.join(okBuckets, Seq("band", "bucket"))
        .join(xd, Seq("band", "bucket"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      var g = topKOf(scorePairs(seedCand))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g.count()
      for (_ <- 1 to rounds) {
        val rev = topKOf(g.select(col("dst").as("src"), col("src").as("dst"),
          col("cos_sim")))
        val b = g.select(col("src"), col("dst"))
          .union(rev.select(col("src"), col("dst"))).distinct()
        val cand = b.select(col("src"), col("dst").as("mid"))
          .join(b.select(col("src").as("mid"), col("dst")), Seq("mid"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"))
          .union(g.select(col("src"), col("dst")))
          .distinct()
        val next = topKOf(scorePairs(cand))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        g.unpersist(blocking = false)
        g = next
      }
      val out = Materialize.cutFinal(g.filter(col("rank") <= k))
      g.unpersist(blocking = false)
      out
    } finally if (!callerCached) emb.unpersist(blocking = false)
  }

  /** Incremental k-NN-graph INSERTION (SURVEY.md §2 B119) — the
    * maintenance half of [[knnGraph]]: production neighbor graphs are not
    * rebuilt per batch, new vectors are INSERTED against the frozen index
    * (the standard incremental NN-descent / HNSW-style flow). The
    * contract, fully replayable:
    *
    *  - history: the frozen graph = knnGraph over the OLD (non-delta)
    *    vectors, k-prefix — the artifact a production run persists;
    *  - delta search: each delta vector's candidates = its LSH
    *    bucket-mates among old vectors (blocking over the COMBINED
    *    corpus's bucket occupancy — insertion sees current load, while
    *    the frozen graph was built under old-corpus caps: both facts of
    *    the timeline, both replayed) UNION those mates' frozen-graph
    *    neighbors (the 1-hop graph expansion that makes the index worth
    *    holding); exact-cosine top-k;
    *  - reverse update: an old vector's list admits any delta vector
    *    that considered it (candidate reversal), re-ranked top-k — a new
    *    arrival can displace an old neighbor, so the graph stays current
    *    in BOTH directions;
    *  - delta-delta pairs are deferred to the next full rebuild (the
    *    q_dedup_incremental delta-vs-history convention, stated, not
    *    hidden — AnnRecallSpec measures what the deferral costs).
    *
    * Scale posture: the delta work is |delta|-proportional (bucket-mate
    * join + 1-hop expansion + bounded TopKAgg re-ranks); the old corpus
    * is touched only by the candidate joins, never re-paired against
    * itself — the whole point vs. re-running the O(n·buildK²) builder. */
  def knnInsert(emb0: DataFrame, isDelta: Column, k: Int,
                cfg: EmbedLshConfig, rounds: Int, buildK: Int,
                expandHops: Int = 2): DataFrame = {
    require(expandHops >= 1, s"expandHops ($expandHops) must be >= 1")
    val spark = emb0.sparkSession
    val callerCached =
      emb0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val emb = if (callerCached) emb0
      else emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gOld = knnGraph(emb.filter(!isDelta), k, cfg, rounds, buildK)
      knnInsertInto(emb, isDelta, gOld, k, cfg, expandHops)
    } finally if (!callerCached) emb.unpersist(blocking = false)
  }

  /** The insert kernel with EXPLICIT state ([[knnInsert]] minus the
    * rebuild): insert the `isDelta` rows of `embVisible` against the
    * caller-supplied frozen graph `gOld` (src, dst, cos_sim — k-prefix
    * lists covering the non-delta rows). This is the form a maintained
    * index actually runs — the graph is state handed forward between
    * batches, never rebuilt ([[knnStreamBatch]] is the streaming driver).
    * Same walk, re-rank, and reverse-update semantics as [[knnInsert]];
    * same |delta|-proportional cost. */
  def knnInsertInto(embVisible: DataFrame, isDelta: Column, gOld: DataFrame,
                    k: Int, cfg: EmbedLshConfig, hops: Int = 2): DataFrame = {
    require(hops >= 1, s"hops ($hops) must be >= 1")
    val spark = embVisible.sparkSession
    val n = withNorm(embVisible)
    val candV = frozenWalkCandidates(embVisible, isDelta, gOld, cfg, hops)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val listDelta = knnTopKOf(spark, k, knnScorePairs(n, candV))
    // reverse update: old lists admit the delta vectors that saw them.
    // MEASURED alternative (r14, rejected): the knnDeleteFrom
    // untouched-verbatim trick — re-rank only the lists some delta
    // candidate reversed onto — is EXACT here too, but on the 22k-vector
    // soak it LOST (15.6 s → 23.5 s): a 1% delta's LSH-mates + 2-hop
    // candidates already touch most old lists at this blocking geometry,
    // so the extra distincts and anti/semi joins cost more than the
    // skipped re-ranks. Delete keeps the trick because its affected set
    // is genuinely tiny (only lists that POINTED at a deleted vector,
    // ≤ k·|deleted|); insert's touched set is fan-out-shaped, not
    // k-bounded. Full re-rank of the bounded lists table it is.
    val rev = candV.select(col("dst").as("src"), col("src").as("dst"))
    val listOld = knnTopKOf(spark, k,
      knnScorePairs(n, rev).union(gOld.select(col("src"), col("dst"),
        col("cos_sim"))))
    val out = Materialize.cutFinal(listDelta.union(listOld))
    candV.unpersist(blocking = false)
    out
  }

  /** STREAMING k-NN-graph maintenance (SURVEY.md §2 B124) — the B119
    * insert composed with the exactly-once micro-batch state discipline
    * ([[StreamCurate]]'s): batch 0 BUILDS the graph over its vectors;
    * every later batch INSERTS its vectors against the graph state handed
    * forward ([[knnInsertInto]]) over the corpus accumulated so far.
    * State layout under the two roots, batchId-keyed and retry-safe:
    *
    *  - `<vRoot>/b<id>`: that batch's raw vectors (mode OVERWRITE);
    *  - `<gRoot>/b<id>`: the FULL graph after batch id (mode OVERWRITE —
    *    the persisted artifact a serving tier loads; production would
    *    delta-encode, the contract here is the simple full-state form);
    *  - every read takes only dirs with id STRICTLY BELOW the current
    *    batch (an at-least-once foreachBatch retry must not see its own
    *    failed attempt), so replaying any (batch, batchId) reproduces
    *    byte-identical state — the StreamCurate theorem, pinned for this
    *    operator in StreamKnnSpec. */
  def knnStreamBatch(batch: DataFrame, batchId: Long, gRoot: String,
                     vRoot: String, k: Int, cfg: EmbedLshConfig,
                     rounds: Int, buildK: Int, hops: Int = 2): Unit = {
    val ss = batch.sparkSession
    import org.apache.hadoop.fs.Path
    def dirs(root: String): Seq[(Long, Path)] = {
      val p = new Path(root)
      val fs = p.getFileSystem(ss.sessionState.newHadoopConf())
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .flatMap(q => q.getName.stripPrefix("b").toLongOption.map(_ -> q))
        .filter { case (id, _) => id < batchId }
    }
    def toE(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    val oldVecDirs = dirs(vRoot)
    val g =
      if (oldVecDirs.isEmpty) knnGraph(toE(batch), k, cfg, rounds, buildK)
      else {
        val oldVecs = toE(ss.read.parquet(oldVecDirs.map(_._2.toString): _*))
          .withColumn("is_new", lit(false))
        val cur = toE(batch).withColumn("is_new", lit(true))
        // g-before-v write ordering below is what makes this read safe: a
        // committed vector dir implies its graph dir exists. The require
        // documents (and fail-louds) that invariant rather than surfacing
        // an `empty.maxBy` if the ordering is ever changed.
        val gDirs = dirs(gRoot)
        require(gDirs.nonEmpty,
          s"no committed graph state under $gRoot for batch $batchId — " +
            "vector dirs exist but no graph dir (g-before-v write ordering broken?)")
        val gPrev = ss.read.parquet(gDirs.maxBy(_._1)._2.toString)
          .select(col("src"), col("rank"), col("dst"), col("cos_sim"))
        knnInsertInto(oldVecs.unionByName(cur), col("is_new"), gPrev,
          k, cfg, hops)
      }
    g.write.mode("overwrite").parquet(s"$gRoot/b$batchId")
    batch.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$vRoot/b$batchId")
  }

  /** The newest committed graph state under `gRoot`. */
  def knnStreamState(ss: org.apache.spark.sql.SparkSession,
                     gRoot: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(gRoot)
    val fs = p.getFileSystem(ss.sessionState.newHadoopConf())
    val committed = (if (fs.exists(p))
        fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      else Nil)
      .flatMap(q => q.getName.stripPrefix("b").toLongOption.map(_ -> q))
    require(committed.nonEmpty,
      s"no committed graph state under $gRoot — reading index state " +
        "before any batch committed (or gRoot/vRoot swapped)")
    val newest = committed.maxBy(_._1)._2
    ss.read.parquet(newest.toString)
      .select(col("src"), col("rank"), col("dst"), col("cos_sim"))
  }

  /** Shared frozen-graph candidate walk (the B119/B120 kernel): LSH
    * bucket-mates of the `isNew` rows among old rows (blocking under the
    * COMBINED corpus's bucket occupancy — arrival-time load, while the
    * frozen graph was built under old-corpus caps: both facts of the
    * timeline, both replayed in the oracles), then `hops` rounds of
    * frozen-graph neighbor expansion — hop h adds the graph neighbors of
    * hop h−1's candidates, the greedy walk an HNSW-style descent performs
    * (measured on the fixture: delta recall 0.61 at 1 hop → 0.83 at 2 for
    * 1.7× the candidates — the dial pinned at 2). Cost is
    * |new|-proportional throughout; the old corpus is touched only
    * through the candidate joins. */
  /** LSH bucket-mate seed pairs (src = `isNew` rows, dst = old rows)
    * under the COMBINED corpus's bucket caps — the shared seed stage of
    * the frozen-graph walks ([[frozenWalkCandidates]] and the r17
    * beam-limited variant). */
  private def lshSeedPairs(emb: DataFrame, isNew: Column,
                           cfg: EmbedLshConfig): DataFrame = {
    val bands = lshBands(emb, cfg)
    val ok = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= cfg.maxBucket).select(col("band"), col("bucket"))
    val flags = emb.select(col("vec_id"), isNew.as("is_new"))
    val bx = bands.join(ok, Seq("band", "bucket"))
      .join(flags, Seq("vec_id"))
    bx.filter(col("is_new"))
      .select(col("vec_id").as("src"), col("band"), col("bucket"))
      .join(bx.filter(!col("is_new"))
        .select(col("vec_id").as("dst"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("src"), col("dst")).distinct()
  }

  private def frozenWalkCandidates(emb: DataFrame, isNew: Column,
      gOld: DataFrame, cfg: EmbedLshConfig, hops: Int): DataFrame = {
    var candV = lshSeedPairs(emb, isNew, cfg)
    for (_ <- 1 to hops) {
      val expand = candV.select(col("src"), col("dst").as("mid"))
        .join(gOld.select(col("src").as("mid"), col("dst")), Seq("mid"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      candV = candV.union(expand).distinct()
    }
    candV
  }

  /** BEAM-LIMITED frozen-graph search (r16 verdict #8 stretch) — the
    * serving economics at high degree. [[knnSearchInto]]'s walk expands
    * the FULL neighborhood of every candidate each hop (pool grows ~
    * fanout^hops per query); a serving tier bounds per-query work by
    * scoring each hop's NEWLY REACHED candidates exactly once and
    * expanding only the best `beam` per query (greedy best-first — the
    * HNSW efSearch discipline, frontier picked by the same round-6
    * (cos DESC, id ASC) order as every rank in this family). Every
    * scored candidate stays in the answer pool: the beam bounds
    * EXPANSION, not the final re-rank, so recall degrades gracefully as
    * beam shrinks instead of cliffing. Frontier choice is per-hop (best
    * of the hop's new candidates), not global-unexpanded-best — one
    * bounded join per hop, no driver-side priority queue, and at
    * beam = ∞ the reached set provably equals the unlimited walk's
    * (frontier-only expansion has the same ≤hops reachability closure).
    * AnnRecallSpec measures the recall-vs-scored-pairs curve at two beam
    * widths against that unlimited pool; SCALE.md records the dial. */
  def knnSearchBeamInto(embVisible: DataFrame, isQuery: Column,
                        gOld: DataFrame, k: Int, cfg: EmbedLshConfig,
                        hops: Int, beam: Int): DataFrame =
    knnSearchBeamCounted(embVisible, isQuery, gOld, k, cfg, hops, beam)._1

  /** [[knnSearchBeamInto]] plus the exact distance evaluations it paid
    * (scored (qid, cand) pairs across all hops) — the cost axis of the
    * recall-vs-cost curve. */
  private[graft] def knnSearchBeamCounted(embVisible: DataFrame,
      isQuery: Column, gOld: DataFrame, k: Int, cfg: EmbedLshConfig,
      hops: Int, beam: Int): (DataFrame, Long) = {
    require(hops >= 1 && beam >= k,
      s"bad beam geometry k=$k beam=$beam hops=$hops")
    val spark = embVisible.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val n = withNorm(embVisible).persist(lvl)
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      var scored = knnScorePairs(n, lshSeedPairs(embVisible, isQuery, cfg))
        .persist(lvl)
      persisted += scored
      var total = scored.count()
      var frontier = knnTopKOf(spark, beam, scored)
        .select(col("src"), col("dst"))
      for (_ <- 1 to hops) {
        val raw = frontier.select(col("src"), col("dst").as("mid"))
          .join(gOld.select(col("src").as("mid"), col("dst")), Seq("mid"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst")).distinct()
          // each candidate is scored exactly once — the cost number is
          // distance evaluations, not join rows
          .join(scored.select(col("src"), col("dst")),
            Seq("src", "dst"), "left_anti")
        val ns = knnScorePairs(n, raw).persist(lvl)
        persisted += ns
        total += ns.count()
        scored = scored.unionByName(ns)
        frontier = knnTopKOf(spark, beam, ns).select(col("src"), col("dst"))
      }
      val out = Materialize.cutFinal(
        knnTopKOf(spark, k, scored)
          .select(col("src").as("qid"), col("rank"), col("dst").as("cid"),
            col("cos_sim")))
      (out, total)
    } finally {
      persisted.foreach(_.unpersist(blocking = false))
      n.unpersist(blocking = false)
    }
  }

  /** Query-time graph-ANN SEARCH (SURVEY.md §2 B120) — the serving half
    * of the [[knnGraph]]/[[knnInsert]] family: answer an OUT-OF-CORPUS
    * query against the frozen neighbor graph without scoring the corpus.
    * This is the read path production graph indexes (HNSW/NSG serving
    * tiers) exist for; [[knnInsert]] is the same walk plus a write-back.
    *
    *  - frozen index: [[knnGraph]] over the non-query vectors, k-prefix —
    *    the artifact a production run persists;
    *  - descent: seed each query from its LSH bucket-mates among corpus
    *    vectors, expand frozen-graph neighbors for `hops` rounds
    *    ([[frozenWalkCandidates]] — the shared B119 kernel, so search and
    *    insert cannot drift);
    *  - answer: exact-cosine re-rank of the candidate pool, bounded by
    *    the O(k) [[graft.functions.TopKAgg]] buffer. No reverse
    *    update — a query READS the index, it never joins it.
    *
    * Scale posture: per-query work is bounded by bucket caps ×
    * (2·k)^hops graph fan-out — independent of corpus size once the
    * index is built; the corpus is touched only by the candidate-scoring
    * join (qid×|cand| rows), never self-paired. Recall at the hop dial is
    * MEASURED in AnnRecallSpec, not assumed: top-5 recall vs corpus-exact
    * 0.60 / 0.90 / 0.96 at 1 / 2 / 3 hops on the sf0.01 fixture — the
    * catalog pins 2 (the same knee as the insert dial).
    *
    * @return (qid, rank, cid, cos_sim), rank ≤ k */
  def knnSearch(emb0: DataFrame, isQuery: Column, k: Int,
                cfg: EmbedLshConfig, rounds: Int, buildK: Int,
                hops: Int = 2): DataFrame = {
    require(hops >= 1, s"hops ($hops) must be >= 1")
    val spark = emb0.sparkSession
    val callerCached =
      emb0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val emb = if (callerCached) emb0
      else emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gOld = knnGraph(emb.filter(!isQuery), k, cfg, rounds, buildK)
      knnSearchInto(emb, isQuery, gOld, k, cfg, hops)
    } finally if (!callerCached) emb.unpersist(blocking = false)
  }

  /** The search kernel with EXPLICIT state ([[knnSearch]] minus the
    * build): answer the `isQuery` rows of `embVisible` against the
    * caller-supplied frozen graph `gOld` — the form a serving tier runs,
    * where the index is a loaded artifact ([[knnStreamServe]] is the
    * streaming driver). Same walk and re-rank as [[knnSearch]]; the
    * index is READ, never written. */
  def knnSearchInto(embVisible: DataFrame, isQuery: Column, gOld: DataFrame,
                    k: Int, cfg: EmbedLshConfig, hops: Int = 2): DataFrame = {
    require(hops >= 1, s"hops ($hops) must be >= 1")
    val spark = embVisible.sparkSession
    val candV = frozenWalkCandidates(embVisible, isQuery, gOld, cfg, hops)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Materialize.cutFinal(
      knnTopKOf(spark, k, knnScorePairs(withNorm(embVisible), candV))
        .select(col("src").as("qid"), col("rank"), col("dst").as("cid"),
          col("cos_sim")))
    candV.unpersist(blocking = false)
    out
  }

  /** FILTERED graph-ANN search (r15 verdict #3) — [[knnSearch]] with a
    * metadata predicate over the corpus: "top-k neighbors among vectors
    * WHERE allowed", the filtered-search form every production vector
    * store serves (tenant/category/date filters next to the vector
    * match). The discipline is the standard post-filtering walk:
    *
    *  - the walk TRAVERSES disallowed vectors — [[frozenWalkCandidates]]
    *    runs filter-blind, so a disallowed vector still routes the
    *    descent through its graph neighborhood (dropping it from the
    *    walk would disconnect the frozen graph exactly when the filter
    *    is selective, the worst case);
    *  - the predicate lands on the candidate pool BEFORE the exact
    *    re-rank (a semi-join against the allowed ids — disallowed
    *    candidates are never scored), so the answer ranks allowed
    *    vectors only;
    *  - the known failure mode — a selective filter starving the
    *    shortlist because the walk's fan-out is filter-blind — is
    *    MEASURED, not assumed: AnnRecallSpec pins recall vs the
    *    post-filter exact gold at two selectivities, with the hops dial
    *    as the recovery lever (a more selective filter wants more hops,
    *    same knee as the unfiltered dial).
    *
    * Scale posture: identical to [[knnSearch]] (the filter only SHRINKS
    * the scored candidate set); the allowed-id side of the semi-join is
    * a projection of the corpus, shuffled once on dst. */
  def knnSearchFiltered(emb0: DataFrame, isQuery: Column, allowed: Column,
                        k: Int, cfg: EmbedLshConfig, rounds: Int,
                        buildK: Int, hops: Int = 2): DataFrame = {
    require(hops >= 1, s"hops ($hops) must be >= 1")
    val callerCached =
      emb0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val emb = if (callerCached) emb0
      else emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gOld = knnGraph(emb.filter(!isQuery), k, cfg, rounds, buildK)
      knnSearchFilteredInto(emb, isQuery, allowed, gOld, k, cfg, hops)
    } finally if (!callerCached) emb.unpersist(blocking = false)
  }

  /** The filtered-search kernel with EXPLICIT state ([[knnSearchFiltered]]
    * minus the build) — the serving-tier form, symmetric with
    * [[knnSearchInto]]. `allowed` is evaluated against `embVisible`'s
    * rows (same contract as `isQuery`); candidates are corpus vectors by
    * construction, so the predicate never has to exclude queries. */
  def knnSearchFilteredInto(embVisible: DataFrame, isQuery: Column,
                            allowed: Column, gOld: DataFrame, k: Int,
                            cfg: EmbedLshConfig, hops: Int = 2): DataFrame = {
    require(hops >= 1, s"hops ($hops) must be >= 1")
    val spark = embVisible.sparkSession
    val candV = frozenWalkCandidates(embVisible, isQuery, gOld, cfg, hops)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candA = candV.join(
      embVisible.filter(allowed).select(col("vec_id").as("dst")),
      Seq("dst"), "left_semi")
    val out = Materialize.cutFinal(
      knnTopKOf(spark, k, knnScorePairs(withNorm(embVisible), candA))
        .select(col("src").as("qid"), col("rank"), col("dst").as("cid"),
          col("cos_sim")))
    candV.unpersist(blocking = false)
    out
  }

  /** STREAMING graph-ANN SERVING (SURVEY.md §2 B129) — the read side of
    * the streaming index lifecycle ([[knnStreamBatch]] maintains, this
    * answers): the graph is built OFFLINE over the corpus (the frozen
    * artifact a serving tier deploys — the q_stream_curate_scored
    * offline-train/online-apply convention), query batches arrive on a
    * stream, and each micro-batch is answered by the [[knnSearchInto]]
    * walk against corpus + THIS batch — per-batch LSH blocking sees the
    * corpus plus the arriving queries only (arrival-time occupancy,
    * exactly the insert entry's timeline discipline), and queries never
    * touch the index or each other's batches. Answers land batchId-keyed
    * (`<aRoot>/b<id>`, mode OVERWRITE) — a retry rewrites its own
    * directory; with a static index and no cross-batch state that alone
    * is exactly-once. */
  def knnStreamServe(batch: DataFrame, batchId: Long, corpus: DataFrame,
                     gFrozen: DataFrame, aRoot: String, k: Int,
                     cfg: EmbedLshConfig, hops: Int = 2): Unit = {
    val cur = batch.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("is_q", lit(true))
    val visible = corpus.withColumn("is_q", lit(false)).unionByName(cur)
    knnSearchInto(visible, col("is_q"), gFrozen, k, cfg, hops)
      .write.mode("overwrite").parquet(s"$aRoot/b$batchId")
  }

  /** k-NN-graph DELETION maintenance (SURVEY.md §2 B122) — the third
    * lifecycle operation of the graph family ([[knnGraph]] build,
    * [[knnInsert]] insert, this delete): production indexes drop vectors
    * (GDPR erasure, corpus re-curation) WITHOUT a rebuild, via the
    * standard tombstone-and-repair flow:
    *
    *  - the frozen graph = [[knnGraph]] over the FULL (pre-delete)
    *    corpus, k-prefix — the artifact as it existed when the delete
    *    arrived;
    *  - tombstone: every list of a deleted vector is dropped, and every
    *    deleted id is purged from surviving lists;
    *  - repair: a surviving list that lost a neighbor re-ranks over its
    *    KEPT edges ∪ the DONATED candidates — each deleted neighbor
    *    donates its own (surviving) adjacency to the lists that pointed
    *    at it, the HNSW-repair heuristic that keeps the graph navigable
    *    where a bare purge would thin it; exact-cosine top-k re-rank.
    *    A repaired list may end shorter than k (candidate pool bounded by
    *    k + k² per affected vertex) — stated, not hidden: the next full
    *    rebuild restores width.
    *  - untouched lists pass through VERBATIM (rank and cos_sim
    *    unchanged) — repair cost is |affected| ≤ k·|deleted| lists, never
    *    corpus-proportional.
    *
    * Float discipline: the repair re-rank recomputes round-6 cosine with
    * the shared (cos DESC, id ASC) order, so kept edges re-score to their
    * original values and the whole timeline replays in the DuckDB oracle.
    *
    * @return (src, rank, dst, cos_sim) — the post-delete graph */
  def knnDelete(emb0: DataFrame, isDeleted: Column, k: Int,
                cfg: EmbedLshConfig, rounds: Int, buildK: Int): DataFrame = {
    val spark = emb0.sparkSession
    val callerCached =
      emb0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val emb = if (callerCached) emb0
      else emb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val g = knnGraph(emb, k, cfg, rounds, buildK)
      knnDeleteFrom(emb, isDeleted, g, k)
    } finally if (!callerCached) emb.unpersist(blocking = false)
  }

  /** The delete kernel with EXPLICIT state ([[knnDelete]] minus the
    * rebuild): tombstone-and-repair against the caller-supplied graph —
    * the form a maintained index runs, symmetric with [[knnInsertInto]]
    * and [[knnSearchInto]]. */
  def knnDeleteFrom(emb: DataFrame, isDeleted: Column, g: DataFrame,
                  k: Int): DataFrame = {
    val spark = emb.sparkSession
    val flags = emb.select(col("vec_id"), isDeleted.as("is_del"))
    val gf = g
      .join(flags.select(col("vec_id").as("src"), col("is_del").as("src_del")), "src")
      .join(flags.select(col("vec_id").as("dst"), col("is_del").as("dst_del")), "dst")
    val live = gf.filter(!col("src_del"))
    val keep = live.filter(!col("dst_del"))
    val affected = live.filter(col("dst_del")).select(col("src")).distinct()
    val donate = live.filter(col("dst_del"))
      .select(col("src"), col("dst").as("mid"))
      .join(g.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .join(flags.select(col("vec_id").as("dst"), col("is_del").as("w_del")), "dst")
      .filter(!col("w_del") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val cand = keep.select(col("src"), col("dst")).join(affected, Seq("src"))
      .union(donate).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repaired = knnTopKOf(spark, k, knnScorePairs(withNorm(emb), cand))
    val untouched = keep.join(affected, Seq("src"), "left_anti")
      .select(col("src"), col("rank"), col("dst"), col("cos_sim"))
    val out = Materialize.cutFinal(untouched.union(repaired))
    cand.unpersist(blocking = false)
    out
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): k-means cells make
    * within-cell all-pairs cosine dedup tractable — the third dedup axis
    * next to lexical minhash (near-COPIES) and embedding-LSH (high cosine
    * anywhere): it prunes semantic redundancy INSIDE semantic clusters.
    *
    * Scale posture (100 TB): the quadratic term is Σ|cell|² with |cell| ≈
    * n/k — the paper's design point — and the within-cell self-join
    * shuffles on the cell key only. Two guards make that hold under skew:
    *
    *  - PRECONDITION (as in the paper): exact dedup runs FIRST. A family
    *    of byte-identical vectors all lands in one cell and would pay
    *    |family|²/2 pairs there; the linear sha/hash pass removes it for
    *    free.
    *  - `maxCell`: any cell the trained quantizer still leaves larger than
    *    the cap is SKIPPED for pair generation (members kept), exactly the
    *    LSH mega-bucket refusal ([[graft.operators.NearDup]] caps, oracle
    *    HAVING). A capped cell is either residual exact-dup mass (the
    *    precondition's catch) or a quantizer failure — both are the linear
    *    pass's job, not a |cell|² one. ScaleSoak plants an identical
    *    mega-block and measures the cap firing on exactly its cell.
    *
    * Size `k` with [[IvfConfig.derive]]/[[IvfConfig.forCorpus]] — k =
    * √(n·nprobe) keeps |cell| ≈ n/k near the minCell floor.
    *
    * @param matrix trained centroids (row-major, from [[kmeansFit]])
    * @return (vec_id, cell, keep) — keep=false iff a smaller-id neighbor
    *         in the same (un-capped) cell has cosine ≥ `cosineConfirm`. */
  def semDedup(emb: DataFrame, matrix: Seq[Seq[Double]],
               cosineConfirm: Double, maxCell: Int = 1000): DataFrame =
    semDedupAssigned(semAssign(emb, matrix), cosineConfirm, maxCell)

  /** The assignment half of [[semDedup]]: (input columns ++ cell, nrm).
    * Public so callers needing cell diagnostics (cap audits, occupancy
    * stats — ScaleSoak) derive them from the SAME pass the dedup uses
    * instead of recomputing the assignment (r8 review). */
  def semAssign(emb: DataFrame, matrix: Seq[Seq[Double]]): DataFrame =
    emb.withColumn("cell",
        call_function("vec_best_cell", col("e"), typedLit(matrix)))
      .withColumn("nrm", sqrt(vdot(col("e"), col("e"))))

  /** The dedup half of [[semDedup]], over a [[semAssign]] result. */
  def semDedupAssigned(assigned: DataFrame,
                       cosineConfirm: Double, maxCell: Int): DataFrame = {
    // ≤ k rows survive this aggregate — broadcast keeps the gate off the
    // shuffle path (k = O(√n) stays broadcastable far past 100 TB)
    val okCells = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("cn")).filter(col("cn") <= maxCell)
      .select(col("cell"))
    val inCap = assigned.join(broadcast(okCells), Seq("cell"))
    val x = inCap.select(col("cell"), col("vec_id").as("ka"),
      col("e").as("ea"), col("nrm").as("na"))
    val y = inCap.select(col("cell"), col("vec_id").as("kb"),
      col("e").as("eb"), col("nrm").as("nb"))
    val dropped = x.join(y, Seq("cell")).filter(col("ka") < col("kb"))
      .withColumn("cos", round(vdot(col("ea"), col("eb"))
        / (col("na") * col("nb")), 6))
      .filter(col("cos") >= cosineConfirm)
      .select(col("kb").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(1))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("is_dropped").isNull.as("keep"))
  }

  /** [[semDedup]] with the quantizer trained in-line ([[kmeansFit]]). */
  def semDedup(emb: DataFrame, k: Int, iters: Int,
               cosineConfirm: Double, maxCell: Int): DataFrame =
    semDedup(emb, collectCentroids(kmeansFit(emb, k, iters)),
      cosineConfirm, maxCell)

  /** Collect an exploded (cent_id, j, c_val) model to a row-major driver
    * matrix — O(k·d), the only thing that ever leaves the cluster. */
  def collectCentroids(model: DataFrame): Seq[Seq[Double]] =
    model.collect().groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)

  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("cid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("cos_sim"))
}
