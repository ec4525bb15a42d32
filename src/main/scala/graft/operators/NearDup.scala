package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash-LSH geometry (SURVEY.md §2 B50). `numHashes` minhashes split
  * into `bands` bands of `numHashes / bands` rows; two docs become
  * candidates when any band's full signature slice matches. The LSH
  * S-curve threshold sits at ≈ `(1/bands)^(bands/numHashes)` — size the
  * split so it lands just under `jaccardConfirm` (candidates are always
  * confirmed by exact Jaccard, so a lower threshold costs work, not
  * correctness; a higher one costs recall, which nothing recovers). */
final case class MinHashConfig(
    numHashes: Int = 12,
    bands: Int = 6,
    maxBucket: Int = 1000,
    jaccardConfirm: Double = 0.8,
    shingleWidth: Int = 3) {
  require(numHashes % bands == 0,
    s"numHashes ($numHashes) must split evenly into bands ($bands)")
  require(shingleWidth >= 1, s"shingleWidth ($shingleWidth) must be >= 1")
  val rowsPerBand: Int = numHashes / bands

  /** The similarity at which candidate probability crosses ~50% —
    * the standard (1/b)^(1/r) LSH threshold approximation. */
  def sCurveThreshold: Double =
    math.pow(1.0 / bands, 1.0 / rowsPerBand)
}

object MinHashConfig {
  /** Size the band split for a confirm threshold: the S-curve threshold
    * `(1/b)^(1/r)` RISES with rows-per-band (more rows = stricter bands),
    * so take the LARGEST r that keeps it at or below `margin ·
    * jaccardConfirm` — the band test stays strict enough that candidate
    * volume is bounded, while the threshold sits far enough under the
    * confirm level that recall there stays high (at `margin` 0.75 and the
    * solved r, recall at `jaccardConfirm` is ≥ ~0.95 for b ≥ 4). Closed
    * form: `(1/b)^(1/r) ≤ t  ⟺  r ≤ ln(1/b)/ln(t)` (both logs negative).
    * r floors at 1 — the loosest band possible — when even a single-row
    * band sits above the target (tiny confirm thresholds: max recall, more
    * candidates to confirm; never an infinite search). Pure math — corpus
    * size does not move MinHash geometry (bucket keys are 28-bit hash
    * tuples, already sparse); `maxBucket` is the skew guard. */
  def derive(jaccardConfirm: Double, bandsCount: Int = 6,
             maxBucket: Int = 1000, margin: Double = 0.75): MinHashConfig = {
    require(jaccardConfirm > 0 && jaccardConfirm < 1)
    require(margin > 0 && margin <= 1)
    val target = margin * jaccardConfirm
    val r = math.max(1,
      math.floor(math.log(1.0 / bandsCount) / math.log(target)).toInt)
    MinHashConfig(bandsCount * r, bandsCount, maxBucket, jaccardConfirm)
  }
}

/** SimHash geometry (B50): a `bits`-bit signature (≤ 28 — the shingle hash
  * is 28-bit) split into `blocks` pigeonhole blocks; Hamming ≤ `maxHamming`
  * pairs are guaranteed to share ≥1 identical block when
  * `maxHamming < blocks`. */
final case class SimHashConfig(
    bits: Int = 28,
    blocks: Int = 5,
    maxBucket: Int = 1000,
    maxHamming: Int = 4,
    shingleWidth: Int = 3) {
  require(bits >= blocks && bits <= 28, s"bits ($bits) must be in [blocks, 28]")
  require(shingleWidth >= 1, s"shingleWidth ($shingleWidth) must be >= 1")
  require(maxHamming < blocks,
    s"pigeonhole needs maxHamming ($maxHamming) < blocks ($blocks)")

  /** Block layout (offset, length): bits distributed as evenly as possible,
    * earlier blocks taking the remainder — e.g. 28/5 → 6,6,6,5,5. */
  def blockDefs: Seq[(Int, Int)] = {
    val base = bits / blocks
    val extra = bits % blocks
    val lens = (0 until blocks).map(i => if (i < extra) base + 1 else base)
    lens.scanLeft(0)(_ + _).zip(lens)
  }
}

/** Near-duplicate detection over a document corpus (SURVEY.md §2 B49/B50):
  * MinHash+LSH, SimHash and embedding-cosine candidate generation, each
  * confirmed by its exact measure, plus cluster canonicalization via
  * [[ConnectedComponents]].
  *
  * Input contract: `docs` has `doc_id: long` and `text: string`; `emb` has
  * `vec_id: long` and `e: array<double>`. All outputs are confirmed pairs
  * `(a, b, measure)` with `a < b`.
  *
  * Scale posture (100 TB), shared by all three shapes: signatures reduce in
  * ONE codegen'd partial+final HashAggregate keyed on doc_id (the shuffle
  * carries |docs| rows regardless of shingle count); candidates are
  * generated inside (band, signature) buckets after a single shuffle on the
  * band key; every bucket is bounded by `maxBucket` (mega-buckets are
  * exact-dup families — the linear sha-256 pass's job — and are skipped,
  * SkewSpec-verified); no all-pairs step exists anywhere.
  */
object NearDup {

  // 28-bit md5-derived shingle hash + the minhash coefficient family —
  // engine-portable (md5 exists in DuckDB), mirrored in the oracle SQL.
  private[graft] val P28 = 268435399L // largest prime < 2^28
  private[graft] def aCoef(i: Int): Long = 1234567L + 7654321L * i
  private[graft] def bCoef(i: Int): Long = 987654L + 123457L * i
  private[graft] def h28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** One row per (doc_id, DISTINCT word-`width`-gram): a typed `flatMap`
    * generator, iterator-pipelined inside the scan stage — no shuffle and no
    * interpreted higher-order function in the hot path (building the shingle
    * array with `transform` and exploding it measured ~8x slower: HOFs are
    * CodegenFallback and the fallback projection lands under the Generate).
    * Dedup happens in the generator's JVM set (all of a doc's shingles are
    * emitted by one input row, so per-doc distinctness needs no shuffle).
    * Docs shorter than `width` tokens produce no rows. */
  def shingles(docs: DataFrame, width: Int = 3): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(width >= 1, s"shingle width ($width) must be >= 1")
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        // limit -1 keeps trailing empty tokens — the semantics of Spark
        // SQL split AND DuckDB string_split; plain split(' ') drops them
        // and would diverge from every oracle on trailing-space text
        val tk = text.split(" ", -1)
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i <= tk.length - width) {
          seen.add(tk.slice(i, i + width).mkString(" "))
          i += 1
        }
        scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala
          .map(sh => (id, sh))
      }.toDF("doc_id", "sh")
  }

  /** Exact Jaccard between two distinct-element array columns, presented
    * at 3 dp via tie-safe `floor(x·1e3 + 0.5)/1e3` — Jaccard is a RATIONAL
    * (|∩|/|∪|) so half-integer milli ties genuinely occur (e.g. 201/400),
    * and `round(x, 3)` splits them across engines (Spark rounds the
    * shortest decimal repr, DuckDB the raw double). The cosine measures
    * keep plain round: they are sums of float products, never exact
    * half-integer rationals. */
  private[graft] def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    floor(inter / (size(a) + size(b) - inter) * 1e3 + 0.5) / 1e3
  }

  /** Explode a capped bucket's member set into ordered candidate pairs. */
  private def bucketPairs(buckets: DataFrame, maxBucket: Int,
                          aName: String, bName: String): DataFrame =
    buckets
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b > a),
          b => struct(a.as(aName), b.as(bName)))))).as("p"))
      .select(col(s"p.$aName"), col(s"p.$bName"))
      .distinct()

  /** Confirmed MinHash+LSH near-dup pairs (doc_a < doc_b, exact Jaccard ≥
    * `cfg.jaccardConfirm`).
    *
    * Shape (the 100 TB path): all `numHashes` hashes are computed per
    * shingle row in ONE projection and reduced by codegen'd `min`
    * aggregates (a single partial+final HashAggregate keyed on doc_id —
    * map-side combine shrinks the shuffle to |docs| signature rows).
    * Candidate pairs come from a groupBy on (band, signature-slice) —
    * the signature pipeline is evaluated once, not twice as a self-join
    * would. */
  /** MinHash signature per doc — (doc_id, mh0..mh{numHashes−1}) in ONE
    * codegen'd partial+final HashAggregate keyed on doc_id (duplicate
    * shingles don't affect a min, so no dedup shuffle precedes it). This
    * is the artifact an incremental ingest persists between batches:
    * `numHashes` longs per doc, append-only. */
  def minhashSignatures(docs: DataFrame,
                        cfg: MinHashConfig = MinHashConfig()): DataFrame =
    minhashSignaturesFrom(shingles(docs, cfg.shingleWidth), cfg)

  /** [[minhashSignatures]] over an ALREADY-EXPLODED (doc_id, sh) shingle
    * frame — lets one shingle pass feed both the signature aggregate and
    * the Jaccard-confirm set aggregate (r17: the pairs operators cut the
    * shared explode once instead of re-running it per consumer). */
  private[operators] def minhashSignaturesFrom(ex: DataFrame,
                                               cfg: MinHashConfig): DataFrame =
    ex.withColumn("h", h28(col("sh")))
      .groupBy(col("doc_id"))
      .agg(min((lit(aCoef(0)) * col("h") + lit(bCoef(0))) % P28).as("mh0"),
        (1 until cfg.numHashes).map(i =>
          min((lit(aCoef(i)) * col("h") + lit(bCoef(i))) % P28).as(s"mh$i")): _*)

  /** Signature-estimated Jaccard for given candidate `pairs` (doc_a,
    * doc_b): the fraction of agreeing minhashes as exact integer ppm
    * (agree·10⁶ DIV numHashes — nothing floats). The production
    * PREFILTER order: signatures are `numHashes` longs per doc, so the
    * estimate costs two signature joins and never touches a shingle set.
    * E[est] = J with per-pair σ ≈ √(J(1−J)/numHashes) — ScaleSoak
    * measures the calibration (mean/max |est − exact|) on the confirmed
    * pairs of the soak corpus. */
  def minhashEstimate(docs: DataFrame, pairs: DataFrame,
                      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    // r18: the r17 cut of the signature table REMOVED — the like-for-like
    // A/B (CutToggleAb, 3 alternating rounds at sf0.1) measured the entry
    // 2.70 s cut vs 1.76 s uncut: the eager checkpoint is a hard barrier
    // that serializes the signature aggregate against both join sides,
    // where the lazy form lets the two consumers' stages overlap and the
    // recompute stays inside one codegen span per side
    val mh = minhashSignatures(docs, cfg)
    val hs = 0 until cfg.numHashes
    val ma = mh.select(col("doc_id").as("doc_a") +:
      hs.map(i => col(s"mh$i").as(s"a$i")): _*)
    val mb = mh.select(col("doc_id").as("doc_b") +:
      hs.map(i => col(s"mh$i").as(s"b$i")): _*)
    pairs.select(col("doc_a"), col("doc_b"))
      .join(ma, "doc_a").join(mb, "doc_b")
      .withColumn("agree", hs.map(i =>
        when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _))
      .select(col("doc_a"), col("doc_b"), col("agree"),
        expr(s"(agree * 1000000) DIV ${cfg.numHashes}").as("est_ppm"))
  }

  /** The signature→bands stage of [[minhashPairs]]: one (doc_id, band, sig)
    * row per band per doc. Exposed so diagnostics (ScaleSoak's bucket
    * statistics) measure the EXACT geometry the operator pairs on — a
    * re-implementation would silently drift. */
  private[operators] def minhashBands(docs: DataFrame,
                                      cfg: MinHashConfig): DataFrame =
    minhashBandsFrom(shingles(docs, cfg.shingleWidth), cfg)

  /** The signature→bands stage over an already-exploded shingle frame. */
  private[operators] def minhashBandsFrom(ex: DataFrame,
                                          cfg: MinHashConfig): DataFrame = {
    val mh = minhashSignaturesFrom(ex, cfg)
    val r = cfg.rowsPerBand
    mh.select(col("doc_id"), posexplode(array((0 until cfg.bands).map(b =>
        array((0 until r).map(j => col(s"mh${r * b + j}")): _*)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))
  }

  /** Per-doc k-token boundary hashes (doc_id, head_h, tail_h) — the hash
    * stage of [[boundaryPairs]], computed in ONE projection in the scan
    * stage; docs shorter than k tokens emit nothing. Exposed so
    * diagnostics (ScaleSoak's cap counts) measure the exact geometry the
    * operator joins on. */
  private[graft] def boundaryHashes(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"boundary width ($k) must be >= 1")
    val t = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= k)
    t.select(col("doc_id"),
      md5(concat_ws(" ", slice(col("toks"), 1, k))).as("head_h"),
      md5(concat_ws(" ", slice(col("toks"), -k, k))).as("tail_h"))
  }

  /** Suffix↔prefix boundary dedup — the SPLIT-document detector: one
    * source document sharded into parts shares a k-token boundary (part
    * i's tail = part i+1's head). Near-dup misses it (the parts have
    * near-zero shingle overlap); this finds exactly the seam. Returns
    * (doc_a, doc_b, boundary_h) where doc_a's k-token tail equals doc_b's
    * k-token head.
    *
    * Scale shape: both boundary hashes come from one projection in the
    * scan stage, pairing is ONE hash equi-join, and hot boundary values
    * (document frequency > `maxBucket` on EITHER side) are refused on
    * both sides — a boilerplate header shared by millions of docs is a
    * skew bomb here exactly like an LSH mega-bucket (ScaleSoak plants
    * one: a 2500-doc tail × 1500-doc head value that would alone emit
    * 3.75 M pairs, and measures that the cap refuses it). */
  def boundaryPairs(docs: DataFrame, k: Int = 4,
                    maxBucket: Int = 1000): DataFrame = {
    // r17: the hash projection feeds four consumers (two caps + two join
    // sides) — cut it once instead of re-scanning the corpus per consumer
    val hp = Materialize.cutFinal(boundaryHashes(docs, k))
    val okTail = hp.groupBy(col("tail_h")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxBucket).select(col("tail_h"))
    val okHead = hp.groupBy(col("head_h")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxBucket).select(col("head_h"))
    hp.join(okTail, Seq("tail_h"))
      .select(col("doc_id").as("doc_a"), col("tail_h").as("boundary_h"))
      .join(hp.join(okHead, Seq("head_h"))
        .select(col("doc_id").as("doc_b"), col("head_h").as("boundary_h")),
        Seq("boundary_h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("boundary_h"))
  }

  def minhashPairs(docs: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    // r18: the r17 cut of the per-doc shingle-SET table REMOVED. It was
    // row-compact (one row per doc) but BYTE-heavy — each row carries the
    // doc's whole shingle set, so the eager checkpoint serializes ~the
    // exploded data anyway (the same reason the exploded fan-outs were
    // never cut), and it barriers the pipeline. The r17 sweep showed its
    // consumers flat-to-regressed (q_dedup_clusters +32%, source_matrix
    // +29%); the r18 CutToggleAb A/B (3 alternating rounds, sf0.1)
    // confirmed the cut loses on every consumer: clusters 2.61→2.34,
    // source_matrix 2.16→1.54, minhash_lsh 1.80→1.39, survivor
    // 3.15→2.88, pipeline 3.76→3.33, split_leakage_safe 3.60→2.58 s.
    // Each Jaccard-confirm side re-derives the explode+set aggregate
    // inside its own codegen span instead.
    val sh = shingles(docs, cfg.shingleWidth)
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("shingles"))
    val bands = minhashBands(docs, cfg)
    val cand = bucketPairs(
      bands.groupBy(col("band"), col("sig"))
        .agg(collect_set(col("doc_id")).as("ids")),
      cfg.maxBucket, "doc_a", "doc_b")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("jac", jaccard(col("sa"), col("sb")))
      .filter(col("jac") >= cfg.jaccardConfirm)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Incremental MinHash+LSH: confirmed near-dup pairs where at least one
    * side belongs to `delta` — the per-batch form of [[minhashPairs]] for a
    * corpus ingested incrementally. Band buckets containing no delta doc
    * are dropped BEFORE pair expansion, and history×history pairs are never
    * generated, so per-batch cost scales with |delta| bucket contention,
    * not |history|². The history signature stage here stands in for the
    * persisted signature index a production ingest would store (signatures
    * are tiny — numHashes longs per doc — and append-only, which is why
    * they are the thing you checkpoint between batches).
    *
    * Pair-for-pair equal to `minhashPairs(history ∪ delta)` restricted to
    * delta-touching pairs (same bucket keys, same `maxBucket` cap counting
    * the FULL bucket — a bucket a delta doc lands in is skipped or kept
    * exactly as the full run would skip or keep it). */
  /** CONTAINMENT near-dup — the subset-duplicate detector Jaccard-based
    * [[minhashPairs]] structurally misses: a short doc quoted whole inside
    * a long one has Jaccard |∩|/|∪| ≈ |short|/|long| (arbitrarily low, so
    * it never clears a 0.8 confirm) but containment |∩|/min(|A|,|B|) = 1.
    * ContainmentSpec plants exactly that shape and proves this finds it
    * while minhashPairs does not.
    *
    * Scores are computed over the DISCRIMINATIVE shingle set (document
    * frequency ≤ `maxDf`, dropped from numerator AND denominator): a
    * frequent shingle is boilerplate every doc "contains", carrying no
    * dedup signal, and pruning it doubles as the skew refusal every LSH
    * shape here enforces. That reduces the operator to ONE shingle-keyed
    * self-join + partial+final aggregate — keeping frequent shingles exact
    * needs a candidates×shingles 3-way join that measured 4× slower for
    * signal the score does not want.
    *
    * Cost bound (r8 verdict — state it, don't imply it): the self-join
    * expands Σ df·(df−1)/2 ≈ **Σ df² / 2 pair rows over the surviving
    * shingles** — `maxDf` caps each TERM of that sum (≤ maxDf²/2 ≈ 500 k
    * pairs per shingle at the default), unlike an LSH `maxBucket` which
    * caps the whole candidate set; a corpus with many shingles sitting
    * just under the cap still pays the sum. The partial aggregate
    * collapses the expansion map-side, but the ScaleSoak table shows this
    * as the dedup family's largest shuffler — at 100 TB prefer a lower
    * `maxDf` (the soak's maxDf sweep row measures the shuffle/recall
    * trade: planted families need df ≈ |family|, so a cap of 100 keeps
    * full recall there at a fraction of the shuffle).
    *
    * @return (doc_a, doc_b, inter, cont_ppm) with cont_ppm =
    *         inter·10⁶ DIV min(|A|,|B|) — exact integer, engine-portable. */
  def containmentPairs(docs: DataFrame, shingleWidth: Int = 3,
                       maxDf: Int = 1000,
                       minPpm: Long = 900000L): DataFrame = {
    // r17: the explode feeds the df filter AND (through exR) three more
    // consumers — cut each level once instead of re-exploding per consumer
    val ex = Materialize.cutFinal(shingles(docs, shingleWidth))
    val rare = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("sh"))
    val exR = Materialize.cutFinal(ex.join(rare, Seq("sh")))
    val sz = exR.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = exR.select(col("sh"), col("doc_id").as("doc_a"))
      .join(exR.select(col("sh"), col("doc_id").as("doc_b")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("cont_ppm", expr("(inter * 1000000) DIV least(na, nb)"))
      .filter(col("cont_ppm") >= minPpm)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("cont_ppm"))
  }

  def minhashPairsIncremental(history: DataFrame, delta: DataFrame,
                              cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    // r18: the r17 cut of the per-doc shingle-set table REMOVED here too —
    // same evidence as [[minhashPairs]] (the set table is byte-heavy and
    // the checkpoint is a barrier; the streaming consumers q_stream_curate
    // and q_stream_asof regressed 11–15% in the r17 driver sweep, and the
    // r18 A/B measured the uncut form faster on every batch consumer).
    // Each Jaccard-confirm side re-derives its explode+set aggregate.
    val rows = shingles(history, cfg.shingleWidth).withColumn("is_new", lit(0))
      .unionByName(shingles(delta, cfg.shingleWidth).withColumn("is_new", lit(1)))
    val sh = rows.groupBy(col("doc_id")).agg(collect_set(col("sh")).as("shingles"))
    val mh = rows
      .withColumn("h", h28(col("sh")))
      .groupBy(col("doc_id"))
      .agg(max(col("is_new")).as("is_new"),
        (0 until cfg.numHashes).map(i =>
          min((lit(aCoef(i)) * col("h") + lit(bCoef(i))) % P28).as(s"mh$i")): _*)
    val r = cfg.rowsPerBand
    val bands = mh.select(col("doc_id"), col("is_new"),
        posexplode(array((0 until cfg.bands).map(b =>
          array((0 until r).map(j => col(s"mh${r * b + j}")): _*)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))
    val cand = bands.groupBy(col("band"), col("sig"))
      .agg(collect_set(struct(col("doc_id"), col("is_new"))).as("ids"))
      // the cap counts the FULL bucket (identical to the non-incremental
      // run); only delta-touched buckets survive to pair expansion
      .filter(size(col("ids")) > 1 && size(col("ids")) <= cfg.maxBucket &&
        exists(col("ids"), m => m.getField("is_new") === 1))
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b =>
            b.getField("doc_id") > a.getField("doc_id") &&
              (a.getField("is_new") === 1 || b.getField("is_new") === 1)),
          b => struct(a.getField("doc_id").as("doc_a"),
            b.getField("doc_id").as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("jac", jaccard(col("sa"), col("sb")))
      .filter(col("jac") >= cfg.jaccardConfirm)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** SimHash near-dup pairs (doc_a < doc_b, Hamming ≤ `cfg.maxHamming`).
    * Each shingle row votes ±1 on all `bits` bits inside one codegen'd
    * HashAggregate (map-side combined); pairing uses the pigeonhole band
    * join over `cfg.blockDefs` — Hamming ≤ maxHamming < blocks ⇒ at least
    * one block is identical. */
  def simhashPairs(docs: DataFrame, cfg: SimHashConfig = SimHashConfig()): DataFrame = {
    def vote(j: Int): Column =
      when(col("h").bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1)
    // vote weights count each distinct shingle once — shingles() is
    // already per-doc distinct (generator-side set), no dedup shuffle
    val sig = shingles(docs, cfg.shingleWidth)
      .withColumn("h", h28(col("sh")))
      .groupBy(col("doc_id"))
      .agg(sum(vote(0)).as("w0"),
        (1 until cfg.bits).map(j => sum(vote(j)).as(s"w$j")): _*)
      .select(col("doc_id"),
        (0 until cfg.bits).map(j =>
          when(col(s"w$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val blocks = sig.select(col("doc_id"), col("simhash"),
      explode(array(cfg.blockDefs.zipWithIndex.map { case ((off, len), bi) =>
        struct(lit(bi).as("bi"),
          shiftright(col("simhash"), off).bitwiseAND(lit((1L << len) - 1)).as("bv"))
      }: _*)).as("blk"))
      .select(col("doc_id"), col("simhash"),
        col("blk.bi").as("bi"), col("blk.bv").as("bv"))
    val cand = blocks.groupBy(col("bi"), col("bv"))
      .agg(collect_set(struct(col("doc_id"), col("simhash"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= cfg.maxBucket)
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b.getField("doc_id") > a.getField("doc_id")),
          b => struct(a.getField("doc_id").as("doc_a"), a.getField("simhash").as("ha"),
            b.getField("doc_id").as("doc_b"), b.getField("simhash").as("hb")))))).as("p"))
      .select(col("p.doc_a"), col("p.ha"), col("p.doc_b"), col("p.hb"))
      .distinct()
    cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= cfg.maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Embedding-cosine near-dup pairs (keep_id < dup_id, exact cosine ≥
    * `cfg.cosineConfirm`): candidates from the banded hyperplane LSH
    * ([[Ann.lshBands]] — any shared (band, bucket), `maxBucket` cap),
    * confirmed by the exact codegen'd dot product. */
  def embedCosinePairs(emb: DataFrame,
                       cfg: EmbedLshConfig = EmbedLshConfig()): DataFrame = {
    val cand = bucketPairs(
      Ann.lshBands(emb, cfg).groupBy(col("band"), col("bucket"))
        .agg(collect_set(col("vec_id")).as("ids")),
      cfg.maxBucket, "keep_id", "dup_id")
    val n = emb.withColumn("nrm", sqrt(Ann.vdot(col("e"), col("e"))))
    cand
      .join(n.select(col("vec_id").as("keep_id"), col("e").as("ea"),
        col("nrm").as("na")), "keep_id")
      .join(n.select(col("vec_id").as("dup_id"), col("e").as("eb"),
        col("nrm").as("nb")), "dup_id")
      .withColumn("cos_sim", round(Ann.vdot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= cfg.cosineConfirm)
      .select(col("keep_id"), col("dup_id"), col("cos_sim"))
  }

  /** Incremental embedding near-dup: the per-batch form of
    * [[embedCosinePairs]] — delta vectors bucketed by the SAME hyperplane
    * family as the (conceptually stored) history buckets, candidates only
    * from delta-touched buckets, history×history pairs never generated.
    * Same equivalence contract as [[minhashPairsIncremental]]: pair-for-pair
    * equal to the full run restricted to delta-touching pairs, with the
    * `maxBucket` cap counting the full bucket. */
  def embedCosinePairsIncremental(history: DataFrame, delta: DataFrame,
                                  cfg: EmbedLshConfig = EmbedLshConfig()): DataFrame = {
    val bands = Ann.lshBands(history, cfg).withColumn("is_new", lit(0))
      .unionByName(Ann.lshBands(delta, cfg).withColumn("is_new", lit(1)))
    val cand = bands.groupBy(col("band"), col("bucket"))
      .agg(collect_set(struct(col("vec_id"), col("is_new"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= cfg.maxBucket &&
        exists(col("ids"), m => m.getField("is_new") === 1))
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b =>
            b.getField("vec_id") > a.getField("vec_id") &&
              (a.getField("is_new") === 1 || b.getField("is_new") === 1)),
          b => struct(a.getField("vec_id").as("keep_id"),
            b.getField("vec_id").as("dup_id")))))).as("p"))
      .select(col("p.keep_id"), col("p.dup_id"))
      .distinct()
    val n = history.unionByName(delta)
      .withColumn("nrm", sqrt(Ann.vdot(col("e"), col("e"))))
    cand
      .join(n.select(col("vec_id").as("keep_id"), col("e").as("ea"),
        col("nrm").as("na")), "keep_id")
      .join(n.select(col("vec_id").as("dup_id"), col("e").as("eb"),
        col("nrm").as("nb")), "dup_id")
      .withColumn("cos_sim", round(Ann.vdot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= cfg.cosineConfirm)
      .select(col("keep_id"), col("dup_id"), col("cos_sim"))
  }

  /** Cluster canonicalization: confirmed pairs → (cluster_rep, member) via
    * min-label connected components (see [[ConnectedComponents]] for the
    * pointer-jumping convergence and checkpointing contract). */
  def clusters(pairs: DataFrame): DataFrame =
    ConnectedComponents.run(pairs).labels
      .select(col("label").as("cluster_rep"), col("id").as("member"))
}
