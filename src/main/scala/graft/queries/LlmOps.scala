package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** LLM-data-pipeline operators (SURVEY.md §2 B49–B53): deduplication (exact,
  * MinHash+LSH, SimHash, n-gram Jaccard), similarity search (brute-force
  * cosine top-k + LSH-bucketed ANN), text analysis (language-ID heuristic,
  * quality scoring, token stats, fingerprinting), multimodal binary columns.
  *
  * Every hash is derived from md5 (available in both engines) so each query
  * has an exact DuckDB oracle — no engine-private hash functions in the
  * oracle surface (xxhash64 variants live in [[graft.functions]]).
  *
  * Scale posture (100 TB):
  *  - shingling is a typed flatMap generator pipelined inside the scan
  *    stage (no shuffle); signatures (MinHash/SimHash/fingerprint) reduce in
  *    ONE codegen'd partial+final HashAggregate keyed on doc_id, so the
  *    shuffle carries |docs| rows regardless of shingle count;
  *  - LSH candidates are generated inside (band, signature) buckets after a
  *    single shuffle on the band key — the signature pipeline is evaluated
  *    once, and no all-pairs step exists anywhere on the scale path;
  *  - the exact all-pairs queries (q_dedup_ngram_jaccard, q_embed_cosine_topk)
  *    are the correctness baselines their LSH/ANN counterparts approximate —
  *    at scale you run the LSH/ANN variants (the quadratic baseline is
  *    excluded from the headline bench).
  */
object LlmOps {
  type Q = (SparkSession, String) => DataFrame

  import graft.operators.{Ann, EmbedLshConfig, ExactDedup, IvfConfig,
    MinHashConfig, NearDup, Pca, SimHashConfig, TextCuration}

  // ---- catalog geometry: pinned configs for the public operators ----
  //
  // The dedup/ANN machinery lives in graft.operators.{NearDup, Ann} as a
  // parameterized public API (with corpus-size-derived defaults — see
  // EmbedLshConfig.derive/forCorpus). The CATALOG pins one explicit config
  // per operator because every numeric below is mirrored verbatim in the
  // DuckDB oracle SQL — derived geometry would desynchronize the two
  // engines. NearDupConfigSpec covers the derivation path.

  /** Max LSH bucket size considered for candidate-pair generation —
    * mirrored verbatim in the oracle SQL (HAVING count(*) <= MaxBucket).
    * A bucket of n members yields n(n-1)/2 candidate pairs AND one
    * n-element collect_set row on one reducer; a degenerate duplicate
    * family (millions of byte-identical docs) would otherwise become a
    * single-reducer quadratic blowup. Families that large are exact-dup
    * families — the linear sha-256 pass (q_dedup_exact) is the right tool
    * for them, so near-dup candidate generation skips mega-buckets
    * entirely. SkewSpec plants a 10 k-duplicate family and asserts the
    * pipeline completes with the family skipped and normal output intact. */
  private[graft] val MaxBucket = 1000

  /** 12 minhashes as 6 bands × 2 rows; S-curve threshold (1/6)^(1/2) ≈ 0.41,
    * comfortably under the 0.8 exact-Jaccard confirmation. */
  private[graft] val MinHashCfg =
    MinHashConfig(numHashes = 12, bands = 6, maxBucket = MaxBucket,
      jaccardConfirm = 0.8)

  /** 28-bit SimHash in 5 pigeonhole blocks (6,6,6,5,5), Hamming ≤ 4. */
  private[graft] val SimHashCfg =
    SimHashConfig(bits = 28, blocks = 5, maxBucket = MaxBucket, maxHamming = 4)

  /** 24 bands × 6 bits, prime 149 (≥ 144 planes — pairwise-distinct, see
    * [[graft.functions.VecLshBuckets]]), sized for this corpus's neighbor
    * regime (top-3 cosines ≈ 0.26–0.49 ⇒ p ≈ 0.6 ⇒ recall 1−(1−p⁶)²⁴;
    * AnnRecallSpec pins the measured 0.90). EmbedLshConfig.derive gives the
    * same shape from (corpusSize=~60k, targetBucket=64 ⇒ bits≈10) at real
    * scale — the bit width is the corpus-size knob. */
  private[graft] val EmbedCfg =
    EmbedLshConfig(bands = 24, bits = 6, prime = 149, dim = 64,
      maxBucket = MaxBucket, cosineConfirm = 0.45)

  /** k-NN graph seed geometry (B95): 8 bands × 6 bits — deliberately a
    * THIRD of EmbedCfg's amplification (per-pair seed recall
    * 1−(1−p⁶)⁸ ≈ 0.32–0.55 in this corpus's p ≈ 0.58–0.66 neighbor
    * regime, vs 0.68–0.87 at 24 bands). NN-descent's premise is that
    * neighbor-of-neighbor refinement converges from a cheap seed; paying
    * full LSH amplification up front would hide exactly the property the
    * operator exists to provide (AnnRecallSpec measures the per-round
    * recall curve). Same plane family (prime 149 ≥ 48 planes), same
    * MaxBucket skew refusal. */
  private[graft] val KnnLshCfg =
    EmbedLshConfig(bands = 8, bits = 6, prime = 149, dim = 64,
      maxBucket = MaxBucket, cosineConfirm = 0.45)
  private[graft] val KnnK = 5

  /** Internal NN-descent list width (the paper's K) — the convergence
    * lever: top-5-prefix recall at 8 bands / 2 rounds measured 0.49 at
    * buildK=5, 0.76 at 10, 0.93 at 15 on the fixture corpus (the
    * Ann.knnGraph scaladoc curve; AnnRecallSpec pins it). */
  private[graft] val KnnBuildK = 15

  /** Mutual-kNN cluster confirmation threshold (B98): low enough to keep
    * semantic (not just near-dup) edges, high enough that the mutual-kNN
    * sparsification doesn't collapse the corpus into one blob — probed at
    * BOTH fixture densities before pinning, because percolation tracks
    * corpus density, not just geometry: 0.30 → one 468-member giant
    * component at sf0.01 (vacuous); 0.35 → good structure at sf0.01 (76
    * clusters, top 32/24/23/21) but an 1828-member blob at sf0.1; 0.40 →
    * non-vacuous at both (41 clusters / top 8 at sf0.01, 284 clusters /
    * top 33 at sf0.1); 0.50 → only near-dup pairs. At production scale
    * derive τ from a percolation probe (largest-component share vs τ —
    * the sizes-by-τ sweep this constant froze) rather than hand-picking.
    * Mirrored verbatim in the oracle. */
  private[graft] val KnnClusterTau = 0.40

  /** Matrix-squaring rounds for the B99 PCA entry — the replay-bounded
    * convergence lever (2^k effective power steps in k log-depth rounds;
    * see [[graft.operators.Pca]] for why linear power iteration is the
    * wrong tool on near-isotropic embedding covariances). Measured on the
    * fixtures before pinning (PcaSpec's convergence test + the probe run
    * recorded here): vs a 12-squaring reference, |cos| at k = 8/9/10 reads
    * 1.0/1.0/1.0 at sf0.001, 0.9998/0.99999/1.0 at sf0.01, and
    * 0.15/0.9969/0.9999992 at sf0.1 — the sf0.1 corpus carries a
    * near-DEGENERATE top pair (λ ≈ 0.02058 vs 0.02094), exactly the regime
    * where 96 LINEAR power steps still read cos ≈ 0.82–0.99 and log-depth
    * squaring is the difference between converging and not. Mirrored in
    * the oracle's chained CTE count. */
  private[graft] val PcaSquarings = 10

  /** IVF geometry DERIVED for the sf0.01 fixture corpus (500 vectors):
    * recall target 0.8 (the floor AnnRecallSpec pins) at cell-hit 0.6 costs
    * nprobe=2; ideal k = √(n·nprobe) ≈ 32 is capped by the 30-vector
    * minimum cell to k=16 — i.e. exactly the hand-picked (16, 2) of rounds
    * 3–6, now produced by the sizing math instead of asserted. The oracle
    * SQL interpolates the same values. Pinned (not forCorpus) because
    * oracle strings are static; at another corpus size call
    * [[IvfConfig.forCorpus]] — AnnRecallSpec measures the derived config at
    * sf0.1 (n=2000 ⇒ k=63) as well. */
  private[graft] val IvfCfg =
    IvfConfig.derive(corpusSize = 500, recallTarget = 0.8,
      cellHitRate = 0.6, minCell = 30)
  require(IvfCfg == IvfConfig(numCentroids = 16, nprobe = 2),
    s"oracle SQL interpolates the derived IVF config; got $IvfCfg")

  private val MOD = 1000000007L
  private val STOPWORDS = Seq("the", "a", "of", "and", "to")

  private def shingleRows(s: SparkSession, d: String): DataFrame =
    NearDup.shingles(Tables.documents(s, d))

  /** Distinct shingle set per doc (one partial+final aggregate). */
  private def docShingleSets(s: SparkSession, d: String): DataFrame =
    shingleRows(s, d).groupBy(col("doc_id"))
      .agg(collect_set(col("sh")).as("shingles"))

  /** 28-bit shingle hash: first 7 hex chars of md5, engine-portable. */
  private def h28(c: Column): Column = NearDup.h28(c)

  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    NearDup.minhashPairs(Tables.documents(s, d), MinHashCfg)

  /** Embedding vectors as double arrays (vec_id, e). */
  private def embedVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))

  /** Chained-CTE Lloyd iterations mirroring [[graft.operators.Ann.kmeansFit]]
    * (k=16, iters=2, dim 64): cN = exploded centroids after N updates;
    * also defines ex (exploded vectors) and vn (vector norms) for reuse.
    * Assignment cos is rounded to 6 in BOTH engines so the 1-ulp mean
    * differences a distributed avg accumulates can never flip a cell. */
  private def sqlKmeansIter(n: Int): String = {
    val prev = s"c${n - 1}"
    s"""n${n - 1} AS (SELECT cent_id, sqrt(sum(c*c)) AS cn FROM $prev GROUP BY cent_id),
       |d$n AS (SELECT ex.vec_id, p.cent_id, sum(ex.x * p.c) AS dp
       |       FROM ex JOIN $prev p ON p.i = ex.i GROUP BY 1, 2),
       |s$n AS (SELECT d$n.vec_id, d$n.cent_id,
       |         round(dp / (vn.nrm * n${n - 1}.cn), 6) AS cos
       |       FROM d$n JOIN vn ON vn.vec_id = d$n.vec_id
       |         JOIN n${n - 1} ON n${n - 1}.cent_id = d$n.cent_id),
       |a$n AS (SELECT vec_id, cent_id AS cell FROM (
       |         SELECT vec_id, cent_id, row_number() OVER (
       |           PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
       |         FROM s$n) t WHERE rn = 1),
       |m$n AS (SELECT a$n.cell AS cent_id, ex.i, avg(ex.x) AS c
       |       FROM a$n JOIN ex ON ex.vec_id = a$n.vec_id GROUP BY 1, 2),
       |c$n AS (SELECT p.cent_id, p.i, coalesce(m$n.c, p.c) AS c
       |       FROM $prev p LEFT JOIN m$n
       |         ON m$n.cent_id = p.cent_id AND m$n.i = p.i)""".stripMargin
  }
  private def sqlKmeansCtes: String =
    s"""ex AS (
       |  SELECT vec_id, i, embedding[i+1]::DOUBLE AS x
       |  FROM embeddings CROSS JOIN range(64) r(i)),
       |vn AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM ex GROUP BY vec_id),
       |c0 AS (SELECT vec_id AS cent_id, i, x AS c FROM ex
       |       WHERE vec_id < ${IvfCfg.numCentroids}),
       |${sqlKmeansIter(1)},
       |${sqlKmeansIter(2)}""".stripMargin

  /** PQ Lloyd iteration n (mirrors [[graft.operators.Pq.train]]): per-
    * subspace L2 assignment on round-6 distances (cent_id ascending ties),
    * then mean update with empty-cell carry-over. */
  private def sqlPqIter(n: Int, src: String = "pex", f: String = "p"): String = {
    val prev = s"${f}c${n - 1}"
    s"""${f}d$n AS (SELECT e.vec_id, e.m, p.cent_id,
       |    floor(sum((e.x - p.c)*(e.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
       |  FROM $src e JOIN $prev p ON p.m = e.m AND p.si = e.si
       |  GROUP BY 1, 2, 3),
       |${f}a$n AS (SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT vec_id, m, cent_id, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn FROM ${f}d$n) t
       |  WHERE rn = 1),
       |${f}m$n AS (SELECT a.m, a.code AS cent_id, e.si, avg(e.x) AS c
       |  FROM ${f}a$n a JOIN $src e ON e.vec_id = a.vec_id AND e.m = a.m
       |  GROUP BY 1, 2, 3),
       |${f}c$n AS (SELECT p.m, p.cent_id, p.si, coalesce(u.c, p.c) AS c
       |  FROM $prev p LEFT JOIN ${f}m$n u
       |    ON u.m = p.m AND u.cent_id = p.cent_id AND u.si = p.si)""".stripMargin
  }

  /** The PQ train→encode replay over any exploded-coords CTE `src`
    * ((vec_id, m, si, x)), CTE names prefixed `f`: seed codebooks from the
    * first k vectors, 2 Lloyd rounds, round-6 codebook `${f}cb`, final
    * encoding `${f}aF` against it (mirrors Pq.train + Pq.encode with the
    * shared [[graft.operators.PqConfig]] geometry). Parameterized so the
    * residual-IVFADC oracle replays the SAME training machinery over
    * residual coords (prefix `r`) that the raw PQ entries use over raw
    * coords (prefix `p`), and — via `encSrc` — so the B130 insert oracle
    * TRAINS on the old rows but ENCODES the full corpus against the
    * frozen codebook (the Pq.encodeInto split). */
  private[queries] val PqCfg = graft.operators.PqConfig()
  private[queries] def sqlPqTrainEncode(src: String, f: String, seedFrom: Int = 0,
                                        encSrc: Option[String] = None): String = {
    val enc = encSrc.getOrElse(src)
    s"""${f}c0 AS (SELECT m, vec_id - $seedFrom AS cent_id, si, x AS c FROM $src
       |  WHERE vec_id >= $seedFrom AND vec_id < $seedFrom + ${PqCfg.k}),
       |${sqlPqIter(1, src, f)},
       |${sqlPqIter(2, src, f)},
       |${f}cb AS (SELECT m, cent_id, si, floor(c * 1e6 + 0.5) / 1e6 AS c
       |  FROM ${f}c2),
       |${f}dF AS (SELECT e.vec_id, e.m, p.cent_id,
       |    floor(sum((e.x - p.c)*(e.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
       |  FROM $enc e JOIN ${f}cb p ON p.m = e.m AND p.si = e.si
       |  GROUP BY 1, 2, 3),
       |${f}aF AS (SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT vec_id, m, cent_id, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn FROM ${f}dF) t
       |  WHERE rn = 1)""".stripMargin
  }

  /** The full NN-descent graph replay through the round-2 lists `r2g`
    * (weak-seed LSH buckets, per-src top-buildK, two refinement rounds) —
    * shared by q_embed_knn_graph and the mutual-kNN clustering entry so
    * the two replays cannot drift. */
  private def sqlKnnGraphCtes: String = sqlKnnGraphCtesWhere("")

  /** The shared WALK prefix of an insert/search stage (factored so the
    * B119/B124 insert and B120/B129 search oracles cannot drift):
    * visible corpus = embeddings WHERE `visWhere`, new rows = `isNewSql`
    * (over alias `b.vec_id`), frozen graph = CTE `gold` (src, dst, cos —
    * k-prefix lists over the old rows). Emits CTEs prefixed `f`:
    * arrival-time LSH blocking, the 2-hop frozen-graph expansion, and
    * the new-side exact re-rank `${f}vg`. cand CTEs AS MATERIALIZED
    * (each referenced twice; default inlining re-expands the upstream
    * chain — the 6 min → 10 s lesson). */
  private def sqlKnnWalkCtes(f: String, visWhere: String,
      isNewSql: String, gold: String): String =
    s"""${f}e AS (SELECT vec_id, embedding FROM embeddings $visWhere),
       |${f}norms AS (
       |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
       |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM ${f}e) t GROUP BY vec_id),
       |${f}pdots AS (
       |  SELECT vec_id, j, sum(embedding[i+1]::DOUBLE *
       |    ((i*73856093 + j*19349663 + i*j*83492791) % 149 % 7 - 3)) AS pd
       |  FROM ${f}e CROSS JOIN range(${KnnLshCfg.bands * KnnLshCfg.bits}) rj(j)
       |  CROSS JOIN range(64) ri(i)
       |  GROUP BY vec_id, j),
       |${f}buckets AS (
       |  SELECT vec_id, j // ${KnnLshCfg.bits} AS band,
       |    CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << (j % ${KnnLshCfg.bits})) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM ${f}pdots GROUP BY vec_id, j // ${KnnLshCfg.bits}),
       |${f}ok AS (SELECT band, bucket FROM ${f}buckets
       |        GROUP BY 1, 2 HAVING count(*) <= ${MaxBucket}),
       |${f}bx AS (SELECT b.vec_id, b.band, b.bucket, ($isNewSql) AS isd
       |  FROM ${f}buckets b JOIN ${f}ok z ON z.band = b.band AND z.bucket = b.bucket),
       |${f}seeds AS (SELECT DISTINCT d.vec_id AS src, o.vec_id AS dst
       |  FROM ${f}bx d JOIN ${f}bx o ON o.band = d.band AND o.bucket = d.bucket
       |  WHERE d.isd AND NOT o.isd),
       |${f}expand1 AS (SELECT s.src, g.dst FROM ${f}seeds s JOIN $gold g ON g.src = s.dst
       |  WHERE g.dst != s.src),
       |${f}cand1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM ${f}seeds UNION ALL SELECT src, dst FROM ${f}expand1) u),
       |${f}expand2 AS (SELECT c.src, g.dst FROM ${f}cand1 c JOIN $gold g ON g.src = c.dst
       |  WHERE g.dst != c.src),
       |${f}candv AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM ${f}cand1 UNION ALL SELECT src, dst FROM ${f}expand2) u),
       |${f}vdt AS (SELECT c.src, c.dst,
       |    sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE) AS dp
       |  FROM ${f}candv c JOIN ${f}e a ON a.vec_id = c.src
       |  JOIN ${f}e b ON b.vec_id = c.dst
       |  CROSS JOIN range(64) r(i) GROUP BY 1, 2),
       |${f}vg AS (SELECT src, rn, dst, cos FROM (
       |    SELECT d.src, d.dst, round(d.dp / (ns.nrm * nd.nrm), 6) AS cos,
       |      row_number() OVER (PARTITION BY d.src
       |        ORDER BY round(d.dp / (ns.nrm * nd.nrm), 6) DESC, d.dst) AS rn
       |    FROM ${f}vdt d JOIN ${f}norms ns ON ns.vec_id = d.src
       |    JOIN ${f}norms nd ON nd.vec_id = d.dst) t
       |  WHERE rn <= $KnnK)""".stripMargin

  /** One incremental-INSERT stage ([[sqlKnnWalkCtes]] + the
    * reverse-update re-rank of the old lists): ends at `${f}out`
    * (src, rn, dst, cos) covering delta AND updated-old lists. */
  private[queries] def sqlKnnInsertStage(f: String, visWhere: String,
      isDeltaSql: String, gold: String): String =
    s"""${sqlKnnWalkCtes(f, visWhere, isDeltaSql, gold)},
       |${f}rdt AS (SELECT c.dst AS src, c.src AS dst,
       |    sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE) AS dp
       |  FROM ${f}candv c JOIN ${f}e a ON a.vec_id = c.dst
       |  JOIN ${f}e b ON b.vec_id = c.src
       |  CROSS JOIN range(64) r(i) GROUP BY 1, 2),
       |${f}uold AS (
       |  SELECT src, dst, cos FROM $gold
       |  UNION ALL
       |  SELECT d.src, d.dst, round(d.dp / (ns.nrm * nd.nrm), 6) AS cos
       |  FROM ${f}rdt d JOIN ${f}norms ns ON ns.vec_id = d.src
       |  JOIN ${f}norms nd ON nd.vec_id = d.dst),
       |${f}og AS (SELECT src, rn, dst, cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (
       |      PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM ${f}uold) t
       |  WHERE rn <= $KnnK),
       |${f}out AS (SELECT src, rn, dst, cos FROM ${f}vg
       |  UNION ALL SELECT src, rn, dst, cos FROM ${f}og)""".stripMargin

  /** One SERVING stage ([[sqlKnnWalkCtes]] alone — a query READS the
    * index, no reverse update): ends at `${f}out` (src, rn, dst, cos)
    * covering this batch's query answers only. */
  private[queries] def sqlKnnSearchStage(f: String, visWhere: String,
      isQuerySql: String, gold: String): String =
    s"""${sqlKnnWalkCtes(f, visWhere, isQuerySql, gold)},
       |${f}out AS (SELECT src, rn, dst, cos FROM ${f}vg)""".stripMargin

  /** The unigram-LM training replay through the round-2 weights `w2`
    * (word-freq pass, substring occurrence fan-out, candidate HAVING,
    * two EM rounds of integer-ppm shares) — shared by the training entry
    * and the Viterbi-apply entry so the two replays cannot drift. */
  private def sqlUnigramTrainCtes: String =
    """words AS (
      |  SELECT word, count(*) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |  WHERE length(word) >= 1 AND length(word) <= 30
      |  GROUP BY word),
      |occ AS (
      |  SELECT word, f, p.pos AS pos,
      |    substr(word, CAST(p.pos + 1 AS INT), CAST(l.l AS INT)) AS piece
      |  FROM words
      |  CROSS JOIN range(30) p(pos)
      |  CROSS JOIN range(1, 5) l(l)
      |  WHERE p.pos < length(word) AND p.pos + l.l <= length(word)),
      |w0 AS (
      |  SELECT piece, CAST(sum(f) AS BIGINT) AS w FROM occ GROUP BY piece
      |  HAVING CAST(sum(f) AS BIGINT) >= 500 OR length(piece) = 1),
      |d1 AS (SELECT o.word, o.pos, CAST(sum(w.w) AS BIGINT) AS dw
      |  FROM occ o JOIN w0 w ON w.piece = o.piece GROUP BY o.word, o.pos),
      |w1 AS (SELECT piece, CAST(greatest(wr // 1000000,
      |    CASE WHEN length(piece) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS w
      |  FROM (SELECT o.piece,
      |      CAST(sum(o.f * (w.w * 1000000 // d.dw)) AS BIGINT) AS wr
      |    FROM occ o JOIN w0 w ON w.piece = o.piece
      |    JOIN d1 d ON d.word = o.word AND d.pos = o.pos
      |    GROUP BY o.piece) t1),
      |d2 AS (SELECT o.word, o.pos, CAST(sum(w.w) AS BIGINT) AS dw
      |  FROM occ o JOIN w1 w ON w.piece = o.piece GROUP BY o.word, o.pos),
      |w2 AS (SELECT piece, CAST(greatest(wr // 1000000,
      |    CASE WHEN length(piece) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS w
      |  FROM (SELECT o.piece,
      |      CAST(sum(o.f * (w.w * 1000000 // d.dw)) AS BIGINT) AS wr
      |    FROM occ o JOIN w1 w ON w.piece = o.piece
      |    JOIN d2 d ON d.word = o.word AND d.pos = o.pos
      |    GROUP BY o.piece) t2)""".stripMargin

  /** The builder chain with a WHERE on the source `e` — the incremental
    * insert's oracle replays the FROZEN graph over the old corpus only. */

  /** The query-time WALK replay shared by the search oracles (filtered
    * and not): combined-corpus blocking (bx with the query flag), LSH
    * seeds, 2-hop frozen-graph expansion to `candv`, plus the `e2`/
    * `norms2` re-rank inputs. Expects `gold` (the frozen graph) in
    * scope; the multiply-referenced CTEs are AS MATERIALIZED (the
    * q_embed_knn_insert inlining lesson). */
  private def sqlKnnSearchWalkCtes: String =
    s"""e2 AS (SELECT vec_id, embedding FROM embeddings),
       |norms2 AS (
       |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
       |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e2) t GROUP BY vec_id),
       |pdots2 AS (
       |  SELECT vec_id, j, sum(embedding[i+1]::DOUBLE *
       |    ((i*73856093 + j*19349663 + i*j*83492791) % 149 % 7 - 3)) AS pd
       |  FROM e2 CROSS JOIN range(${KnnLshCfg.bands * KnnLshCfg.bits}) rj(j)
       |  CROSS JOIN range(64) ri(i)
       |  GROUP BY vec_id, j),
       |buckets2 AS (
       |  SELECT vec_id, j // ${KnnLshCfg.bits} AS band,
       |    CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << (j % ${KnnLshCfg.bits})) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM pdots2 GROUP BY vec_id, j // ${KnnLshCfg.bits}),
       |ok2 AS (SELECT band, bucket FROM buckets2
       |        GROUP BY 1, 2 HAVING count(*) <= ${MaxBucket}),
       |bx AS (SELECT b.vec_id, b.band, b.bucket, (b.vec_id < 10) AS isq
       |  FROM buckets2 b JOIN ok2 z ON z.band = b.band AND z.bucket = b.bucket),
       |seeds AS (SELECT DISTINCT q.vec_id AS src, o.vec_id AS dst
       |  FROM bx q JOIN bx o ON o.band = q.band AND o.bucket = q.bucket
       |  WHERE q.isq AND NOT o.isq),
       |expand1 AS (SELECT s.src, g.dst FROM seeds s JOIN gold g ON g.src = s.dst
       |  WHERE g.dst != s.src),
       |cand1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM seeds UNION ALL SELECT src, dst FROM expand1) u),
       |expand2 AS (SELECT c.src, g.dst FROM cand1 c JOIN gold g ON g.src = c.dst
       |  WHERE g.dst != c.src),
       |candv AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM cand1 UNION ALL SELECT src, dst FROM expand2) u)""".stripMargin

  /** The exact-cosine re-rank + final SELECT over a candidate CTE — the
    * tail both search oracles share ([[sqlKnnSearchWalkCtes]] must be in
    * scope). */
  private def sqlKnnSearchRank(candSrc: String): String =
    s"""vdt AS (SELECT c.src, c.dst,
       |    sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE) AS dp
       |  FROM $candSrc c JOIN e2 a ON a.vec_id = c.src
       |  JOIN e2 b ON b.vec_id = c.dst
       |  CROSS JOIN range(64) r(i) GROUP BY 1, 2)
       |SELECT src AS qid, CAST(rn AS INT) AS rank, dst AS cid, cos AS cos_sim
       |FROM (SELECT d.src, d.dst, round(d.dp / (ns.nrm * nd.nrm), 6) AS cos,
       |    row_number() OVER (PARTITION BY d.src
       |      ORDER BY round(d.dp / (ns.nrm * nd.nrm), 6) DESC, d.dst) AS rn
       |  FROM vdt d JOIN norms2 ns ON ns.vec_id = d.src
       |  JOIN norms2 nd ON nd.vec_id = d.dst) t
       |WHERE rn <= $KnnK ORDER BY qid, rank""".stripMargin

  private[queries] def sqlKnnGraphCtesWhere(where: String): String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings $where),
       |norms AS (
       |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
       |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
       |pdots AS (
       |  SELECT vec_id, j, sum(embedding[i+1]::DOUBLE *
       |    ((i*73856093 + j*19349663 + i*j*83492791) % 149 % 7 - 3)) AS pd
       |  FROM e CROSS JOIN range(${KnnLshCfg.bands * KnnLshCfg.bits}) rj(j)
       |  CROSS JOIN range(64) ri(i)
       |  GROUP BY vec_id, j),
       |buckets AS (
       |  SELECT vec_id, j // ${KnnLshCfg.bits} AS band,
       |    CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << (j % ${KnnLshCfg.bits})) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM pdots GROUP BY vec_id, j // ${KnnLshCfg.bits}),
       |ok AS (SELECT band, bucket FROM buckets
       |       GROUP BY 1, 2 HAVING count(*) <= ${MaxBucket}),
       |s0cand AS (SELECT DISTINCT bs.vec_id AS src, bd.vec_id AS dst
       |  FROM buckets bs JOIN ok z ON z.band = bs.band AND z.bucket = bs.bucket
       |  JOIN buckets bd ON bd.band = bs.band AND bd.bucket = bs.bucket
       |    AND bd.vec_id != bs.vec_id),
       |${sqlKnnScore("s0cand", "s0")},
       |${sqlKnnRound("s0", "r1")},
       |${sqlKnnRound("r1", "r2")}""".stripMargin

  /** Score a k-NN candidate-pair CTE `cand(src, dst)` and keep each src's
    * top-[[KnnBuildK]] (the internal working-list width) by (round-6
    * cosine DESC, dst ASC) as `${f}g(src, dst, cos, rn)` — the per-round
    * list rebuild of [[graft.operators.Ann.knnGraph]], shared by the seed
    * and every refinement round; the entry's final SELECT takes the
    * [[KnnK]]-prefix. Expects the `e`/`norms` CTEs in scope. */
  private def sqlKnnScore(cand: String, f: String): String =
    s"""${f}dt AS (SELECT c.src, c.dst,
       |    sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE) AS dp
       |  FROM $cand c JOIN e a ON a.vec_id = c.src
       |  JOIN e b ON b.vec_id = c.dst
       |  CROSS JOIN range(64) r(i)
       |  GROUP BY 1, 2),
       |${f}g AS (SELECT src, dst, cos, rn FROM (
       |    SELECT d.src, d.dst, round(d.dp / (ns.nrm * nd.nrm), 6) AS cos,
       |      row_number() OVER (PARTITION BY d.src
       |        ORDER BY round(d.dp / (ns.nrm * nd.nrm), 6) DESC, d.dst) AS rn
       |    FROM ${f}dt d JOIN norms ns ON ns.vec_id = d.src
       |    JOIN norms nd ON nd.vec_id = d.dst) t
       |  WHERE rn <= $KnnBuildK)""".stripMargin

  /** One NN-descent round over the previous graph `${prev}g`: cap the
    * reverse lists at [[KnnK]] by the same (cos DESC, id ASC) rank,
    * symmetrize, expand neighbors-of-neighbors through ONE middle-vertex
    * self-join (∪ the current edges, so lists are monotone), then
    * re-rank — mirrors Ann.knnGraph's round body. The pair dedup is an
    * EXPLICIT DISTINCT-over-UNION-ALL, never a bare UNION: under `WITH
    * RECURSIVE` (which the clustering oracle needs for its walk) DuckDB
    * 1.0 stops deduplicating a bare UNION in a NON-recursive CTE, and the
    * duplicated candidate pairs inflate every summed distance (measured:
    * 4× cos) — found when q_embed_knn_clusters first diverged. */
  private def sqlKnnRound(prev: String, f: String): String =
    s"""${f}rev AS (SELECT src, dst FROM (
       |    SELECT r.src, r.dst, row_number() OVER (
       |      PARTITION BY r.src ORDER BY r.cos DESC, r.dst) AS rn
       |    FROM (SELECT dst AS src, src AS dst, cos FROM ${prev}g) r) t
       |  WHERE rn <= $KnnBuildK),
       |${f}b AS (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM ${prev}g
       |    UNION ALL SELECT src, dst FROM ${f}rev) u),
       |${f}cand AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT x.src, y.dst
       |    FROM ${f}b x JOIN ${f}b y ON y.src = x.dst AND y.dst != x.src
       |    UNION ALL
       |    SELECT src, dst FROM ${prev}g) u),
       |${sqlKnnScore(s"${f}cand", f)}""".stripMargin

  /** The full residual-IVFADC replay up to the per-candidate `adc` CTE
    * (mirrors [[graft.operators.Pq.ivfAdcResidualTopK]]): trained-kmeans
    * coarse quantizer, round-6 centroids, cosine assignment + probes,
    * residual coords, residual PQ train→encode (prefix r), per-(query,
    * probed cell) distance tables, cell-bounded candidates. Shared by
    * q_embed_ivfpq_residual and its re-rank extension so the two replays
    * cannot drift; `ex` (raw exploded coords) stays available to the
    * re-rank's exact-distance CTE. */

  /** One B99 normalized-squaring round as CTEs (mirrors [[Pca.fitPc1]]'s
    * loop body): hp_k = round6(h_{k-1}·h_{k-1}) entry-wise, then h_k =
    * round6(hp_k / maxabs(hp_k)). max(abs(g)) is order-independent, so the
    * renormalizer replays exactly; the 64-term product sums are round-6
    * like every other cross-engine aggregate. MATERIALIZED is load-bearing:
    * each level references its predecessor TWICE, so DuckDB's default CTE
    * inlining would expand the chain 2^k-fold (the first run died on file
    * handles before it died on compute). */
  private def sqlPcaSquare(k: Int, f: String = ""): String =
    s"""${f}hp$k AS MATERIALIZED (
       |  SELECT a.i, b.j, floor(sum(a.g * b.g) * 1e6 + 0.5) / 1e6 AS g
       |  FROM ${f}h${k - 1} a JOIN ${f}h${k - 1} b ON b.i = a.j GROUP BY 1, 2),
       |${f}hm$k AS (SELECT max(abs(g)) AS m FROM ${f}hp$k),
       |${f}h$k AS MATERIALIZED (
       |  SELECT i, j, floor((g / m) * 1e6 + 0.5) / 1e6 AS g
       |  FROM ${f}hp$k CROSS JOIN ${f}hm$k)""".stripMargin

  /** Direction extraction from the squared chain's last matrix (mirrors
    * [[Pca]]'s largest-norm-column read-off): round-6 column norms,
    * argmax with index tie-break, normalize. */
  private def sqlPcaExtract(f: String = ""): String =
    s"""${f}pcacn AS (SELECT j, floor(sum(g * g) * 1e6 + 0.5) / 1e6 AS cn
       |  FROM ${f}h$PcaSquarings GROUP BY j),
       |${f}pcasel AS (SELECT j FROM ${f}pcacn ORDER BY cn DESC, j LIMIT 1),
       |${f}pcau AS (SELECT h.i, h.g AS u
       |  FROM ${f}h$PcaSquarings h JOIN ${f}pcasel ON ${f}pcasel.j = h.j),
       |${f}pcaun AS (SELECT floor(sqrt(sum(u*u)) * 1e6 + 0.5) / 1e6 AS nm
       |  FROM ${f}pcau),
       |${f}pcaw AS (SELECT i, floor((u / nm) * 1e6 + 0.5) / 1e6 AS w
       |  FROM ${f}pcau CROSS JOIN ${f}pcaun)""".stripMargin

  /** The B99 covariance replay: exploded coords → round-6 raw sums (per-dim
    * and upper-triangular second moments, MIRRORED so (j,i) is bit-equal to
    * (i,j) exactly as the engine's symmetric fill) → the same
    * Sij/n − (si/n)(sj/n) scalar tree fitPc1 evaluates. The n·d² self-join
    * here is the oracle's independent derivation — the ENGINE never pays it
    * (one-pass mergeable buffer instead; see [[Pca]] scaladoc). */
  private def sqlPcaCovCtes: String =
    s"""pcax AS MATERIALIZED (
       |  SELECT vec_id, i, embedding[i+1]::DOUBLE AS x
       |  FROM embeddings CROSS JOIN range(64) r(i)),
       |pcan AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
       |pcas AS MATERIALIZED (SELECT i, floor(sum(x) * 1e6 + 0.5) / 1e6 AS s
       |  FROM pcax GROUP BY i),
       |pcamu AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
       |    floor(sum(a.x * b.x) * 1e6 + 0.5) / 1e6 AS sij
       |  FROM pcax a JOIN pcax b ON b.vec_id = a.vec_id AND b.i >= a.i
       |  GROUP BY 1, 2),
       |pcam AS (SELECT i, j, sij FROM pcamu
       |  UNION ALL SELECT j AS i, i AS j, sij FROM pcamu WHERE j > i),
       |cov AS MATERIALIZED (SELECT pcam.i, pcam.j,
       |    floor((pcam.sij / pcan.n - (sa.s / pcan.n) * (sb.s / pcan.n))
       |      * 1e6 + 0.5) / 1e6 AS g
       |  FROM pcam JOIN pcas sa ON sa.i = pcam.i
       |  JOIN pcas sb ON sb.i = pcam.j CROSS JOIN pcan),
       |hm0 AS (SELECT max(abs(g)) AS m FROM cov),
       |h0 AS MATERIALIZED (
       |  SELECT i, j, floor((g / m) * 1e6 + 0.5) / 1e6 AS g
       |  FROM cov CROSS JOIN hm0),
       |${(1 to PcaSquarings).map(k => sqlPcaSquare(k)).mkString(",\n")},
       |${sqlPcaExtract()}""".stripMargin

  /** B102 extension of [[sqlPcaCovCtes]]: λ₁ (Rayleigh against cov), the
    * rank-one deflation dcov = round6(cov − λ₁·w₁w₁ᵀ), and the second
    * squaring chain + extraction under the `d` prefix — term-for-term the
    * [[Pca.fitSubspace]] driver arithmetic. */
  private def sqlPcaSubspaceCtes: String =
    s"""$sqlPcaCovCtes,
       |pcagv AS (SELECT cov.i, floor(sum(cov.g * pcaw.w) * 1e6 + 0.5) / 1e6 AS gv
       |  FROM cov JOIN pcaw ON pcaw.i = cov.j GROUP BY cov.i),
       |pcal1 AS (SELECT floor(sum(w.w * g.gv) * 1e6 + 0.5) / 1e6 AS l
       |  FROM pcaw w JOIN pcagv g ON g.i = w.i),
       |dcov AS MATERIALIZED (SELECT c.i, c.j,
       |    floor((c.g - pcal1.l * wa.w * wb.w) * 1e6 + 0.5) / 1e6 AS g
       |  FROM cov c JOIN pcaw wa ON wa.i = c.i JOIN pcaw wb ON wb.i = c.j
       |  CROSS JOIN pcal1),
       |dhm0 AS (SELECT max(abs(g)) AS m FROM dcov),
       |dh0 AS MATERIALIZED (
       |  SELECT i, j, floor((g / m) * 1e6 + 0.5) / 1e6 AS g
       |  FROM dcov CROSS JOIN dhm0),
       |${(1 to PcaSquarings).map(k => sqlPcaSquare(k, "d")).mkString(",\n")},
       |${sqlPcaExtract("d")}""".stripMargin

  /** One GENERIC deflation stage for the B102-k oracle (r14 verdict #9):
    * given the previous matrix CTE `prevM` (i, j, g) and the direction
    * extracted under prefix `pf` (`${pf}pcaw`), emit — under prefix `q` —
    * the deflation Rayleigh quotient against the CURRENT matrix, the
    * rank-one deflated matrix, its normalized h0, the squaring chain, and
    * the direction extraction: term-for-term [[Pca.fitK]]'s loop body. */
  private def sqlPcaDeflateStage(prevM: String, pf: String, q: String): String =
    s"""${q}gv AS (SELECT m.i, floor(sum(m.g * w.w) * 1e6 + 0.5) / 1e6 AS gv
       |  FROM $prevM m JOIN ${pf}pcaw w ON w.i = m.j GROUP BY m.i),
       |${q}lam AS (SELECT floor(sum(w.w * g.gv) * 1e6 + 0.5) / 1e6 AS l
       |  FROM ${pf}pcaw w JOIN ${q}gv g ON g.i = w.i),
       |${q}cov AS MATERIALIZED (SELECT c.i, c.j,
       |    floor((c.g - ${q}lam.l * wa.w * wb.w) * 1e6 + 0.5) / 1e6 AS g
       |  FROM $prevM c JOIN ${pf}pcaw wa ON wa.i = c.i
       |  JOIN ${pf}pcaw wb ON wb.i = c.j CROSS JOIN ${q}lam),
       |${q}hm0 AS (SELECT max(abs(g)) AS m FROM ${q}cov),
       |${q}h0 AS MATERIALIZED (
       |  SELECT i, j, floor((g / m) * 1e6 + 0.5) / 1e6 AS g
       |  FROM ${q}cov CROSS JOIN ${q}hm0),
       |${(1 to PcaSquarings).map(k => sqlPcaSquare(k, q)).mkString(",\n")},
       |${sqlPcaExtract(q)}""".stripMargin

  /** 4-component chain: the shared covariance+PC1 replay, then three
    * chained deflation stages (k2 from cov/w1, k3 from k2cov/w2, k4 from
    * k3cov/w3). */
  private def sqlPcaKCtes: String =
    s"""$sqlPcaCovCtes,
       |${sqlPcaDeflateStage("cov", "", "k2")},
       |${sqlPcaDeflateStage("k2cov", "k2", "k3")},
       |${sqlPcaDeflateStage("k3cov", "k3", "k4")}""".stripMargin

  private def sqlResidualAdcCtes: String =
    s"""$sqlKmeansCtes,
       |cr AS (SELECT cent_id, i, round(c, 6) AS c FROM c2),
       |crn AS (SELECT cent_id, sqrt(sum(c*c)) AS cn FROM cr GROUP BY cent_id),
       |dq AS (SELECT ex.vec_id, cr.cent_id, sum(ex.x * cr.c) AS dp
       |       FROM ex JOIN cr ON cr.i = ex.i GROUP BY 1, 2),
       |sq AS (SELECT dq.vec_id, dq.cent_id, round(dp / (vn.nrm * crn.cn), 9) AS ccos
       |       FROM dq JOIN vn ON vn.vec_id = dq.vec_id
       |         JOIN crn ON crn.cent_id = dq.cent_id),
       |rk AS (SELECT vec_id, cent_id, row_number() OVER (
       |         PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS arn FROM sq),
       |assigned AS (SELECT vec_id, cent_id AS cell FROM rk WHERE arn = 1),
       |probes AS (SELECT vec_id AS qid, cent_id AS qcell FROM rk
       |           WHERE arn <= ${IvfCfg.nprobe} AND vec_id < 10),
       |rex AS (SELECT ex.vec_id, ex.i // ${PqCfg.subDim} AS m,
       |    ex.i % ${PqCfg.subDim} AS si, ex.x - cr.c AS x
       |  FROM ex JOIN assigned a ON a.vec_id = ex.vec_id
       |  JOIN cr ON cr.cent_id = a.cell AND cr.i = ex.i),
       |${sqlPqTrainEncode("rex", "r", seedFrom = IvfCfg.numCentroids)},
       |qrex AS (SELECT p.qid, p.qcell AS cell, ex.i // ${PqCfg.subDim} AS m,
       |    ex.i % ${PqCfg.subDim} AS si, ex.x - cr.c AS x
       |  FROM probes p JOIN ex ON ex.vec_id = p.qid
       |  JOIN cr ON cr.cent_id = p.qcell AND cr.i = ex.i),
       |qdt AS (SELECT qx.qid, qx.cell, qx.m, p.cent_id,
       |    floor(sum((qx.x - p.c)*(qx.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
       |  FROM qrex qx JOIN rcb p ON p.m = qx.m AND p.si = qx.si
       |  GROUP BY 1, 2, 3, 4),
       |cand AS (SELECT p.qid, p.qcell AS cell, a.vec_id AS cid
       |  FROM probes p JOIN assigned a
       |    ON a.cell = p.qcell AND a.vec_id != p.qid),
       |adc AS (SELECT c.qid, c.cid,
       |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
       |  FROM cand c JOIN raF f ON f.vec_id = c.cid
       |  JOIN qdt dt ON dt.qid = c.qid AND dt.cell = c.cell
       |    AND dt.m = f.m AND dt.cent_id = f.code
       |  GROUP BY 1, 2)""".stripMargin

  private def sqlPqCtes: String =
    s"""pex AS (SELECT vec_id, i // ${PqCfg.subDim} AS m, i % ${PqCfg.subDim} AS si,
       |    embedding[i+1]::DOUBLE AS x
       |  FROM embeddings CROSS JOIN range(${PqCfg.dim}) r(i)),
       |${sqlPqTrainEncode("pex", "p")}""".stripMargin

  /** The IVF coarse-quantizer replay shared by the IVF-PQ oracles:
    * first-`numCentroids` centroids, cosine argmax cell per vector,
    * top-`nprobe` probed cells for the 10 query vectors (mirrors
    * Pq.ivfParts / the q_embed_ann_ivf baseline). */
  private def sqlIvfCtes: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |norms AS (
       |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
       |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
       |cdots AS (
       |  SELECT v.vec_id, c.vec_id AS cent_id,
       |    sum(v.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
       |  FROM e v JOIN e c ON c.vec_id < ${IvfCfg.numCentroids}
       |  CROSS JOIN range(64) r(i)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT cd.vec_id, cd.cent_id,
       |    row_number() OVER (PARTITION BY cd.vec_id
       |      ORDER BY round(cd.dp / (nv.nrm * nc.nrm), 9) DESC, cd.cent_id) AS arn
       |  FROM cdots cd
       |  JOIN norms nv ON nv.vec_id = cd.vec_id
       |  JOIN norms nc ON nc.vec_id = cd.cent_id),
       |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE arn = 1),
       |probes AS (SELECT vec_id, cent_id AS cell FROM ranked
       |           WHERE arn <= ${IvfCfg.nprobe} AND vec_id < 10)""".stripMargin

  // DuckDB mirrors of the shared pieces.
  private def sqlShinglesFrom(src: String) =
    s"""sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
       |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src) t
       |  WHERE len(toks) >= 3)""".stripMargin
  private val sqlShingles = sqlShinglesFrom("documents")

  /** The minhash → bands → capped buckets → candidate-pairs CTE chain
    * `ex … cand` (mirrors [[graft.operators.NearDup.minhashPairs]] with
    * [[MinHashCfg]] up to its confirm), assuming an `sh(doc_id, shingles)`
    * CTE is already in scope. */
  private val sqlMinhashCand =
    s"""ex AS (SELECT doc_id, ${sqlH28("u.s")} AS h FROM sh, unnest(shingles) u(s)),
       |params AS (SELECT i, 1234567 + 7654321*i AS a, 987654 + 123457*i AS b FROM range(12) r(i)),
       |mh AS (SELECT doc_id, i, min((a*h + b) % 268435399) AS mh
       |       FROM ex CROSS JOIN params GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // 2 AS band,
       |    max(CASE WHEN i % 2 = 0 THEN mh END) AS mh0,
       |    max(CASE WHEN i % 2 = 1 THEN mh END) AS mh1
       |  FROM mh GROUP BY doc_id, i // 2),
       |ok AS (SELECT band, mh0, mh1 FROM bands
       |       GROUP BY 1, 2, 3 HAVING count(*) <= ${MaxBucket}),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN ok z ON z.band = x.band AND z.mh0 = x.mh0 AND z.mh1 = x.mh1
       |  JOIN bands y ON x.band = y.band AND x.mh0 = y.mh0
       |    AND x.mh1 = y.mh1 AND x.doc_id < y.doc_id)""".stripMargin

  /** [[sqlMinhashCand]] + the Jaccard confirm: the confirmed-pairs chain
    * ending in `pairs(doc_a, doc_b)`. Lazy: `sqlJaccard` is initialized
    * further down the object body. */
  private lazy val sqlMinhashPairs =
    s"""$sqlMinhashCand,
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
       |  WHERE $sqlJaccard >= 0.8)""".stripMargin
  private def sqlH28(e: String) = s"CAST('0x' || substr(md5($e), 1, 7) AS BIGINT)"
  // tie-safe milli presentation, mirroring NearDup.jaccard (Jaccard is a
  // rational — round()'s repr-vs-double tie split is real here)
  private val sqlJaccard =
    "floor(len(list_intersect(a.shingles, b.shingles))::DOUBLE / " +
      "(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))" +
      " * 1e3 + 0.5) / 1e3"

  val defs: Map[String, Q] = Map(
    // B49 exact dedup by content hash: canonical row per hash + dup count.
    "q_dedup_exact" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(sha2(col("text"), 256).as("content_sha"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("canonical_id"))
    },

    // B49 exact dedup with deterministic survivor selection on a weak key
    // (first-2-token prefix): row_number picks one row per key.
    "q_dedup_prefix_key" -> { (s, d) =>
      val key = concat_ws(" ", slice(split(col("text"), " "), 1, 2))
      val w = Window.partitionBy(col("k")).orderBy(col("doc_id"))
      Tables.documents(s, d)
        .withColumn("k", key)
        .withColumn("rn", row_number().over(w))
        .withColumn("group_sz", count(lit(1)).over(Window.partitionBy(col("k"))))
        .filter(col("rn") === 1)
        .select(col("k"), col("doc_id"), col("group_sz"))
        .orderBy(col("k"), col("doc_id"))
    },

    // B50 exact n-gram (3-shingle) Jaccard all-pairs ≥ 0.8 — the quadratic
    // correctness baseline that q_dedup_minhash_lsh approximates at scale.
    "q_dedup_ngram_jaccard" -> { (s, d) =>
      val sh = docShingleSets(s, d)
      val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
      val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
      a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
        .withColumn("jac", NearDup.jaccard(col("sa"), col("sb")))
        .filter(col("jac") >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("jac"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // B50 MinHash + LSH band join: 12 minhashes, 6 bands × 2 rows. Candidate
    // pairs share ≥1 band; exact Jaccard then confirms ≥ 0.8.
    //
    // Shape (the 100 TB path): all 12 hashes are computed per shingle row in
    // ONE projection and reduced by 12 codegen'd `min` aggregates (a single
    // partial+final HashAggregate keyed on doc_id — no per-hash row blowup,
    // map-side combine shrinks the shuffle to |docs|×12 longs). Candidate
    // pairs come from a groupBy on the band key (pairs generated inside each
    // bucket) — the signature pipeline is evaluated once, not twice as a
    // self-join would, and no all-pairs step exists anywhere.
    "q_dedup_minhash_lsh" -> { (s, d) =>
      minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // B85 cross-source duplication matrix — WHO copies from WHOM: the
    // confirmed near-dup pairs aggregated by unordered source pair, the
    // provenance view that finds mirror sites / syndicated feeds before
    // they skew a mixture (a per-(source×source) release artifact, like
    // q_corpus_drift one level deeper). Costs one broadcast-ineligible
    // doc-keyed join per side ON TOP of the already-bounded LSH pair set
    // (pairs ≪ corpus by construction), then |sources|² arithmetic.
    "q_dedup_source_matrix" -> { (s, d) =>
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      minhashPairs(s, d)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .groupBy(col("source_x"), col("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_x"), col("source_y"))
    },

    // B93 cross-modal staleness audit — WHERE TEXT AND EMBEDDINGS
    // DISAGREE: for every confirmed text near-dup pair (the B50 LSH
    // machinery), the embedding cosine between the two docs. A pair the
    // text side calls a duplicate whose vectors sit far apart (cos <
    // the embed-dedup confirm threshold) means the embedding store is
    // STALE for at least one side — re-embedding lag, text-extraction
    // drift, or a pipeline bug — exactly the inconsistency that makes
    // embedding-based dedup/ANN silently miss what text dedup catches.
    // Cost: two doc-keyed joins of the BOUNDED pair set onto the
    // embeddings (pairs ≪ corpus by construction) + one codegen vec_dot
    // per pair. Round-6 cosine (the q_dedup_semantic convention). On the
    // driver fixture the embeddings are INDEPENDENT of the text, so every
    // text-dup pair flags stale here (the hash still checks every cos6);
    // the discriminating stale=false side is planted in
    // CrossModalStaleSpec.
    "q_dedup_embed_stale" -> { (s, d) =>
      val pairs = minhashPairs(s, d).select(col("doc_a"), col("doc_b"))
      val n = embedVecs(s, d).select(col("vec_id"), col("e"),
        sqrt(call_function("vec_dot", col("e"), col("e"))).as("nrm"))
      val a = n.select(col("vec_id").as("doc_a"), col("e").as("ea"),
        col("nrm").as("na"))
      val b = n.select(col("vec_id").as("doc_b"), col("e").as("eb"),
        col("nrm").as("nb"))
      pairs.join(a, "doc_a").join(b, "doc_b")
        .withColumn("cos6",
          round(call_function("vec_dot", col("ea"), col("eb")) /
            (col("na") * col("nb")), 6))
        .select(col("doc_a"), col("doc_b"), col("cos6"),
          (col("cos6") < EmbedCfg.cosineConfirm).as("stale"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // B50 incremental dedup: the per-batch ingest form — delta docs
    // (doc_id % 10 = 7, the "today's batch" split) deduped against history
    // WITHOUT regenerating history×history pairs; candidates come only
    // from band buckets the delta touches. Pair-for-pair equal to the full
    // run restricted to delta-touching pairs (the oracle IS that filter),
    // which is the invariant that lets a 100 TB corpus pay per-batch dedup
    // cost proportional to the batch, not the corpus.
    "q_dedup_incremental" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      NearDup.minhashPairsIncremental(
          docs.filter(col("doc_id") % 10 =!= 7),
          docs.filter(col("doc_id") % 10 === 7),
          MinHashCfg)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // B50 dedup cluster canonicalization: connected components over the
    // confirmed near-dup pair graph (graft.operators.ConnectedComponents —
    // min-label propagation + pointer jumping, O(log n) rounds, fail-loud
    // at the iteration cap, reliable-checkpoint flag for multi-day jobs).
    // The oracle recomputes components with a recursive CTE.
    "q_dedup_clusters" -> { (s, d) =>
      NearDup.clusters(minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
        .orderBy(col("cluster_rep"), col("member"))
    },

    // B49/B50 quality-aware survivor policy: within each near-dup cluster
    // keep the LONGEST member (ties → smallest id) instead of the min-id —
    // the "which copy do you keep" rule real pipelines use (longest copy ≈
    // least-truncated). One max_by(struct(n_chars, -id)) aggregate per
    // cluster (map-side combined) + a broadcast-sized join back to members;
    // the policy is a pluggable ORDER, not new dataflow.
    "q_dedup_survivor" -> { (s, d) =>
      val labels = NearDup.clusters(minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      val members = labels.select(col("cluster_rep"), col("member"))
        .join(Tables.documents(s, d).select(col("doc_id").as("member"), col("n_chars")),
          "member")
      val surv = members.groupBy(col("cluster_rep"))
        .agg(max_by(col("member"), struct(col("n_chars"), -col("member")))
          .as("survivor_id"))
      members.join(surv, Seq("cluster_rep"))
        .select(col("cluster_rep"), col("member"), col("survivor_id"),
          (col("member") === col("survivor_id")).as("keep"))
        .orderBy(col("cluster_rep"), col("member"))
    },

    // B67 leakage-safe train/eval split: the held-out split is assigned
    // per near-dup CLUSTER, not per document — a doc-keyed split puts one
    // copy of a near-duplicate in train and its twin in eval, leaking
    // training text into the benchmark (the eval-contamination failure
    // q_contamination later hunts; this op prevents it structurally:
    // split = f(group key) means NO cluster can span splits). Docs
    // left-join the cluster labels — both sides corpus-derived (on a web
    // corpus the clustered fraction can be a third of the input), so the
    // shuffled join IS the 100 TB plan; AQE converts to broadcast when the
    // label side measures small (declared in PlanSweepSpec's allowlist,
    // the q_dedup_survivor category). Singletons group as themselves,
    // and the 90/10 draw is the
    // deterministic md5 convention (any engine, any run, zero
    // coordination). Audit output: per-split doc/cluster counts + the md5
    // of the sorted member list (at 100 TB: per-block digests, the
    // q_train_shards note). SplitLeakageSpec proves the counterfactual —
    // the naive doc-keyed split DOES put cluster members on both sides.
    "q_split_leakage_safe" -> { (s, d) =>
      val labels = NearDup.clusters(minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
        .select(col("member").as("doc_id"), col("cluster_rep"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("grp"),
          col("cluster_rep").isNotNull.as("clustered"))
        .withColumn("split",
          when(h28(concat(col("grp").cast("string"), lit("_split"))) % 100 < 90,
            "train").otherwise("eval"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("clustered"), 1L).otherwise(0L)).as("n_clustered"),
          countDistinct(col("grp")).as("n_groups"),
          md5(array_join(transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .orderBy(col("split"))
    },

    // B49+B50 the full dedup recipe as ONE composed pipeline over the
    // public operator API (README "Deduplicating a corpus"): exact dedup
    // (sha-256 groups, min-id survivor) → MinHash near-dup over the exact
    // survivors only (never pay LSH for byte-identical copies — they are
    // the mega-buckets the cap skips) → connected-component clusters →
    // survivor selection. One verdict row per document: kept, exact_dup or
    // near_dup, plus the doc that replaces it (itself when kept; an
    // exact-dup's survivor follows its rep through the cluster step).
    //
    // Scale shape: exact pass is one shuffle on the content hash; near-dup
    // inherits the single-aggregate + capped-bucket shape of
    // q_dedup_minhash_lsh at the REDUCED (post-exact) cardinality; the
    // verdict join is against cluster labels only (|members of clusters|
    // rows, tiny vs the corpus — AQE broadcasts it).
    "q_dedup_pipeline" -> { (s, d) =>
      val reps = Tables.documents(s, d)
        .withColumn("exact_rep",
          min(col("doc_id")).over(Window.partitionBy(sha2(col("text"), 256))))
      val survivors = reps.filter(col("doc_id") === col("exact_rep"))
        .select(col("doc_id"), col("text"))
      val pairs = NearDup.minhashPairs(survivors, MinHashCfg)
        .select(col("doc_a"), col("doc_b"))
      val labels = NearDup.clusters(pairs)
        .select(col("member").as("exact_rep"), col("cluster_rep"))
      reps.join(labels, Seq("exact_rep"), "left")
        .select(col("doc_id"),
          when(col("doc_id") =!= col("exact_rep"), "exact_dup")
            .when(col("cluster_rep").isNotNull &&
              col("cluster_rep") =!= col("doc_id"), "near_dup")
            .otherwise("kept").as("status"),
          coalesce(col("cluster_rep"), col("exact_rep")).as("survivor_id"))
        .orderBy(col("doc_id"))
    },

    // B50 SimHash: 28-bit signature from shingle hashes. Each shingle row
    // votes ±1 on all 28 bits inside one codegen'd HashAggregate (28 `sum`
    // columns, map-side combined). Pairing uses the pigeonhole band join:
    // the signature splits into 5 blocks (6+6+6+5+5 bits), so Hamming ≤ 4 ⇒
    // at least one block is identical — candidates are generated inside
    // (block_idx, block_value) buckets (capped at MaxBucket), never an
    // all-pairs crossJoin, and the signature pipeline is evaluated once.
    "q_dedup_simhash" -> { (s, d) =>
      NearDup.simhashPairs(Tables.documents(s, d), SimHashCfg)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // B48 typed Aggregator exercised end-to-end: per-doc MinHash signatures
    // via the element-wise-min udaf (graft.functions.VecAgg), serialized for
    // the oracle. The headline LSH query uses the equivalent codegen'd
    // column-min form; this query pins the Aggregator itself against DuckDB.
    "q_udaf_minhash_sig" -> { (s, d) =>
      val hashVec = array((0 until 12).map(i =>
        (lit(NearDup.aCoef(i)) * col("h") + lit(NearDup.bCoef(i))) % NearDup.P28): _*)
      shingleRows(s, d).filter(col("doc_id") < 50)
        .withColumn("h", h28(col("sh")))
        .select(col("doc_id"), hashVec.as("hs"))
        .groupBy(col("doc_id"))
        .agg(graft.functions.VecAgg.minVec(s, 12)(col("hs")).as("mh"))
        .select(col("doc_id"),
          concat_ws(",", transform(col("mh"), x => x.cast("string"))).as("sig"))
        .orderBy(col("doc_id"))
    },

    // B51 brute-force cosine top-5: queries = vec_id < 10 vs all others.
    // The dot product is the native codegen expression vec_dot
    // (graft.functions.VecDot) — same left-fold order as the HOF form, so
    // values are bit-identical, but it stays inside whole-stage codegen.
    // The rank key is the ROUNDED similarity (engine-stable) + id tiebreak.
    "q_embed_cosine_topk" -> { (s, d) =>
      Ann.exactTopK(embedVecs(s, d), col("vec_id") < 10, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // B104 contrastive-pair mining over the labeled embedding table: per
    // query, the hardest negative (max cosine, different label) and the
    // hardest positive (min cosine, same label) — the miner that turns a
    // labeled corpus into triplet/contrastive training pairs (FaceNet
    // semi-hard mining; see Ann.hardPairs for the knnGraph-composed scale
    // path). Same broadcast-queries single-scan shape as cosine_topk.
    "q_embed_hard_negatives" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"),
        col("label"))
      Ann.hardPairs(e, col("vec_id") < 10).orderBy(col("qid"))
    },

    // B105 SQ8 search: int8-coded candidates ranked by the dequantized
    // cosine — the 4x-smaller-scan, codebook-free quantized search path
    // (the encode half is q_embed_quant). The integer dot is exact in
    // doubles, so unlike the float dot it is summation-order-independent;
    // AnnRecallSpec pins the measured overlap vs the exact baseline.
    "q_embed_sq8_topk" -> { (s, d) =>
      Ann.sq8TopK(embedVecs(s, d), col("vec_id") < 10, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // B51 LSH-bucketed ANN (the scale path): 24 bands × 6 deterministic
    // integer hyperplanes (144 planes, pairwise-distinct via the mod-149
    // hash — see graft.functions.VecLshBuckets), one 6-bit bucket per band
    // per vector; candidates = vectors sharing ANY (band, bucket) with the
    // query, hot buckets capped at MaxBucket.
    //
    // Multi-band is the scale design r2's single 8-bit bucket lacked: the
    // bucket space per band is 2^r where r is a CONFIG of the corpus size
    // (at 100 TB raise r so E[bucket] stays bounded), and b independent
    // bands recover the recall a finer bucket costs — P(candidate) =
    // 1-(1-p^r)^b per the standard LSH amplification. AnnRecallSpec pins
    // the measured top-3 recall vs the exact baseline.
    "q_embed_ann_lsh" -> { (s, d) =>
      Ann.lshTopK(embedVecs(s, d), col("vec_id") < 10, k = 3, EmbedCfg)
        .orderBy(col("qid"), col("rank"))
    },

    // B50/B51 embedding-cosine near-dup dedup: candidates from the banded
    // hyperplane LSH (any shared (band, bucket), MaxBucket cap — same
    // collect_set-pairs shape as MinHash), confirmed by exact cosine
    // >= 0.45, survivor = the smaller vec_id. No all-pairs step: pair count
    // is bounded per bucket, bucket count grows with the corpus via the
    // per-band bit width.
    "q_dedup_embed_cosine" -> { (s, d) =>
      NearDup.embedCosinePairs(embedVecs(s, d), EmbedCfg)
        .orderBy(col("keep_id"), col("dup_id"))
    },

    // B50/B51 incremental embedding dedup: the per-batch ingest form on the
    // vector side (vec_id % 10 = 7 is "today's batch") — delta vectors hash
    // into the SAME hyperplane buckets as stored history, candidates come
    // only from delta-touched buckets, history×history pairs are never
    // expanded. Same per-batch economics as q_dedup_incremental; the
    // oracle is the full LSH run filtered to delta-touching pairs.
    "q_embed_incremental" -> { (s, d) =>
      val vecs = embedVecs(s, d)
      NearDup.embedCosinePairsIncremental(
          vecs.filter(col("vec_id") % 10 =!= 7),
          vecs.filter(col("vec_id") % 10 === 7),
          EmbedCfg)
        .orderBy(col("keep_id"), col("dup_id"))
    },

    // B51 IVF coarse-quantizer TRAINING: 2 Lloyd iterations of k-means over
    // the embedding corpus (deterministic first-16 init, cosine assignment,
    // per-dim mean update — Ann.kmeansFit documents the per-iteration plan
    // shape). The oracle replays both iterations as chained CTEs on the
    // exploded vectors — every mean and every assignment tie-break must
    // agree across engines for the 16×64 centroid matrix to hash-match.
    "q_embed_kmeans" -> { (s, d) =>
      Ann.kmeansFit(embedVecs(s, d), k = IvfCfg.numCentroids, iters = 2)
        .orderBy(col("cent_id"), col("j"))
    },

    // B79 product quantization — graft.operators.Pq (scale posture, the
    // ADC idea, and the cross-engine float discipline documented there).
    // Codes for the whole corpus: 16 subspaces × 16 trained centroids =
    // 8 bytes/vector, the form a 100 TB embedding store actually keeps.
    // Oracle replays train → encode in SQL (the q_embed_kmeans CTE
    // lineage, per-subspace). Bench note: each B79 query TRAINS from
    // scratch so the whole train→encode→search chain sits under one
    // oracle (the q_embed_ann_ivf_trained convention) — that training is
    // ~all of their bench time; production trains once and reuses the
    // driver-materialized codebook Pq.train returns.
    "q_embed_pq" -> { (s, d) =>
      val cfg = graft.operators.PqConfig()
      val vecs = embedVecs(s, d)
      val codes = graft.operators.Pq.encode(vecs, cfg,
        graft.operators.Pq.train(vecs, cfg))
      val cs = (0 until cfg.m).map(m =>
        max(when(col("m") === m, col("code"))).as(s"c$m"))
      codes.groupBy(col("vec_id")).agg(cs.head, cs.tail: _*)
        .orderBy(col("vec_id"))
    },

    // B79 ADC search: 10 query vectors ranked against the PQ-coded corpus
    // by codebook-table lookups — the scan never touches a raw corpus
    // vector. Top-3 per query under one oracle with the trained codebook.
    "q_embed_pq_adc" -> { (s, d) =>
      val cfg = graft.operators.PqConfig()
      val vecs = embedVecs(s, d)
      graft.operators.Pq.adcTopK(vecs, col("vec_id") < 10, k = 3, cfg,
        graft.operators.Pq.train(vecs, cfg))
        .orderBy(col("qid"), col("rank"))
    },

    // B79 IVFADC-R (Jégou 2011 §V — see Pq.adcRerankTopK): the ADC top-50
    // shortlist refined by EXACT L2 over the shortlist's raw vectors —
    // the re-rank step production PQ search always runs (PqSpec measures
    // the dial: shortlist recall ≈0.93 converts into re-ranked top-3
    // recall, vs ≈0.7 for raw ADC top-3). Oracle extends the q_embed_pq_adc
    // replay with the shortlist window + per-coordinate exact re-rank, so
    // the codes, the shortlist boundary, and every exact distance sit
    // under one hash.
    "q_embed_adc_rerank" -> { (s, d) =>
      val cfg = graft.operators.PqConfig()
      val vecs = embedVecs(s, d)
      graft.operators.Pq.adcRerankTopK(vecs, col("vec_id") < 10, k = 3,
        shortlist = 50, cfg, graft.operators.Pq.train(vecs, cfg))
        .orderBy(col("qid"), col("rank"))
    },

    // B79 IVF-PQ (the FAISS IVFADC composition — see Pq.ivfAdcTopK): IVF
    // cells bound WHICH codes a query scans, PQ bounds WHAT a candidate
    // costs; the oracle replays coarse assignment + probes + PQ training +
    // ADC ranking under one hash — the capstone of the ANN family (exact →
    // LSH → IVF → trained IVF → PQ → IVF-PQ), every stage oracle-checked.
    "q_embed_ivfpq" -> { (s, d) =>
      val cfg = graft.operators.PqConfig()
      val vecs = embedVecs(s, d)
      graft.operators.Pq.ivfAdcTopK(vecs, col("vec_id") < 10, k = 3,
        nprobe = IvfCfg.nprobe, numCentroids = IvfCfg.numCentroids, cfg,
        graft.operators.Pq.train(vecs, cfg))
        .orderBy(col("qid"), col("rank"))
    },

    // B90 IVF-bounded IVFADC-R (Jégou 2011 §V over §III — see
    // Pq.ivfAdcRerankTopK): the LITERAL production pipeline — IVF probes
    // bound which codes a query scans, ADC ranks the 8-byte codes, and
    // the top-20 survivors are re-ranked by exact L2 over raw vectors.
    // Oracle = the q_embed_ivfpq replay + shortlist window + exact
    // re-rank — every stage of the three-letter acronym under one hash.
    "q_embed_ivfpq_rerank" -> { (s, d) =>
      val cfg = graft.operators.PqConfig()
      val vecs = embedVecs(s, d)
      graft.operators.Pq.ivfAdcRerankTopK(vecs, col("vec_id") < 10, k = 3,
        shortlist = 20, nprobe = IvfCfg.nprobe,
        numCentroids = IvfCfg.numCentroids, cfg,
        graft.operators.Pq.train(vecs, cfg))
        .orderBy(col("qid"), col("rank"))
    },

    // B79 CANONICAL residual IVFADC (r10 verdict #3): PQ trained and
    // applied on x − centroid(cell) over the TRAINED coarse quantizer
    // (kmeansFit — the full Jégou 2011 §IV composition; see
    // Pq.ivfAdcResidualTopK for the measured evidence that the untrained
    // first-N quantizer INFLATES residual energy 1.5× on this corpus and
    // must not be used here). Per-(query, probed-cell) distance tables.
    // The oracle replays kmeans training + assignment + residual
    // computation + residual PQ training + encoding + per-cell ADC under
    // one hash — the deepest oracle replay in the catalog.
    "q_embed_ivfpq_residual" -> { (s, d) =>
      val emb = embedVecs(s, d)
      val cents = Ann.kmeansFit(emb, k = IvfCfg.numCentroids, iters = 2)
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("c_val")))),
          x => x.getField("c_val")).as("ce"))
      graft.operators.Pq.ivfAdcResidualTopK(emb, col("vec_id") < 10, k = 3,
        nprobe = IvfCfg.nprobe, cents, graft.operators.PqConfig(),
        pqSeedFrom = IvfCfg.numCentroids)
        .orderBy(col("qid"), col("rank"))
    },

    // B96 residual IVFADC-R (r12 verdict #3 — see
    // Pq.ivfAdcResidualRerankTopK): the COMPLETE Jégou 2011 pipeline as
    // one entry — trained coarse quantizer (§IV), residual PQ codes (§IV),
    // per-(query, probed-cell) ADC tables, top-20 shortlist, EXACT L2
    // re-rank over raw vectors (§V). Oracle = the q_embed_ivfpq_residual
    // replay (the catalog's deepest) + shortlist window + per-coordinate
    // exact re-rank — the most production-faithful chain under one hash.
    "q_embed_ivfpq_residual_rerank" -> { (s, d) =>
      val emb = embedVecs(s, d)
      val cents = Ann.kmeansFit(emb, k = IvfCfg.numCentroids, iters = 2)
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("c_val")))),
          x => x.getField("c_val")).as("ce"))
      graft.operators.Pq.ivfAdcResidualRerankTopK(emb, col("vec_id") < 10,
        k = 3, shortlist = 20, nprobe = IvfCfg.nprobe, cents,
        graft.operators.PqConfig(), pqSeedFrom = IvfCfg.numCentroids)
        .orderBy(col("qid"), col("rank"))
    },

    // B130 IVFADC index INSERT maintenance (r14 verdict #1 — see
    // Pq.encodeInto): the lifecycle the PQ family lacked next to the
    // graph index's B119/B122/B124/B129. Models are trained on the OLD
    // corpus only (the %10≡7, id≥16 delta withheld — ids <16 stay so the
    // coarse/seed ranges are intact), then FROZEN; the delta is absorbed
    // with two broadcast joins and ZERO passes over the existing index,
    // and the search runs against old ∪ delta codes — queries can now
    // retrieve delta vectors through 8-byte codes the codebook never
    // trained on. Oracle = the q_embed_ivfpq replay with TRAINING
    // restricted to the old rows and ENCODING over all (the frozen-model
    // split, sqlPqTrainEncode's encSrc) under one hash. PqSpec pins
    // delta-encode ≡ full-encode on the delta, untouched-codes-verbatim,
    // and that the search's delta hits are non-vacuous.
    "q_embed_ivfpq_insert" -> { (s, d) =>
      val cfg = graft.operators.PqConfig()
      val vecs = embedVecs(s, d)
      val isNew = col("vec_id") % 10 === 7 && col("vec_id") >= IvfCfg.numCentroids
      val old = vecs.filter(!isNew)
      // frozen-state provenance (r15 verdict #6): the codebook and the
      // OLD half of the index are the persisted artifacts a maintained
      // deployment holds — Frozen-built once per sf; measured cost here
      // = the delta encode + serve only (baseline re-frozen r16)
      val cb = Frozen.parquet(s, d, "pqcb_old_v1")(
        graft.operators.Pq.train(old, cfg))
      val coarse = old.filter(col("vec_id") < IvfCfg.numCentroids)
        .select(col("vec_id").as("cent_id"), col("e").as("ce"))
      val index = Frozen.parquet(s, d, "pqcodes_old_v1")(
          graft.operators.Pq.encodeInto(old, cfg, cb, coarse))
        .unionByName(
          graft.operators.Pq.encodeInto(vecs.filter(isNew), cfg, cb, coarse))
      graft.operators.Pq.ivfAdcServeTopK(vecs.filter(col("vec_id") < 10),
        index, k = 3, nprobe = IvfCfg.nprobe, cfg, cb, coarse)
        .orderBy(col("qid"), col("rank"))
    },

    // B130 IVFADC index DELETE maintenance (r14 verdict #1 — see
    // Pq.deleteFrom for why a codes table needs ZERO repair, unlike the
    // graph index's B122 tombstone-and-donate): the %10≡3 vectors' codes
    // are dropped from the index built over the full corpus and the
    // search re-runs — deleted ids must vanish from every answer and the
    // ranks reflow to the survivors. Queries exclude the deleted id 3
    // (a deleted vector has no serving contract). Oracle = the
    // q_embed_ivfpq replay with the deleted ids excluded from candidates
    // and queries.
    "q_embed_ivfpq_delete" -> { (s, d) =>
      val cfg = graft.operators.PqConfig()
      val vecs = embedVecs(s, d)
      // frozen-state provenance (r15 verdict #6): codebook + full-corpus
      // codes are the index being MAINTAINED — measured cost here = the
      // delete + serve only (baseline re-frozen r16)
      val cb = Frozen.parquet(s, d, "pqcb_full_v1")(
        graft.operators.Pq.train(vecs, cfg))
      val coarse = vecs.filter(col("vec_id") < IvfCfg.numCentroids)
        .select(col("vec_id").as("cent_id"), col("e").as("ce"))
      val index = graft.operators.Pq.deleteFrom(
        Frozen.parquet(s, d, "pqcodes_full_v1")(
          graft.operators.Pq.encodeInto(vecs, cfg, cb, coarse)),
        col("vec_id") % 10 === 3)
      graft.operators.Pq.ivfAdcServeTopK(
        vecs.filter(col("vec_id") < 10 && col("vec_id") % 10 =!= 3),
        index, k = 3, nprobe = IvfCfg.nprobe, cfg, cb, coarse)
        .orderBy(col("qid"), col("rank"))
    },

    // B133 (PQ half) FILTERED IVFADC serving —
    // [[graft.operators.Pq.ivfAdcServeFilteredTopK]] (pre-filter
    // contract + the empties-probed-cells starvation mode on the
    // operator): the ADC scan restricted to the label % 2 = 0 vectors,
    // the metadata-filtered search every production vector store serves,
    // on the codes index. The filter semi-joins the index BEFORE the
    // probe join (disallowed codes never scanned — exact, since ADC
    // candidates come from cell blocking, not adjacency). Frozen-state
    // provenance: the SAME deployed codebook + codes as
    // q_embed_ivfpq_delete (Frozen tags shared) — the filter is a
    // serving-time dial, never an index rebuild. PqSpec measures recall
    // vs the exact-L2-among-allowed gold at two selectivities and the
    // nprobe recovery dial. Oracle = the q_embed_ivfpq replay + the
    // allowed-id filter on candidates.
    "q_embed_ivfpq_filtered" -> { (s, d) =>
      val cfg = graft.operators.PqConfig()
      val vecs = embedVecs(s, d)
      val cb = Frozen.parquet(s, d, "pqcb_full_v1")(
        graft.operators.Pq.train(vecs, cfg))
      val coarse = vecs.filter(col("vec_id") < IvfCfg.numCentroids)
        .select(col("vec_id").as("cent_id"), col("e").as("ce"))
      val index = Frozen.parquet(s, d, "pqcodes_full_v1")(
        graft.operators.Pq.encodeInto(vecs, cfg, cb, coarse))
      val allowed = Tables.embeddings(s, d)
        .filter(col("label") % 2 === 0).select(col("vec_id"))
      graft.operators.Pq.ivfAdcServeFilteredTopK(
        vecs.filter(col("vec_id") < 10), index, allowed, k = 3,
        nprobe = IvfCfg.nprobe, cfg, cb, coarse)
        .orderBy(col("qid"), col("rank"))
    },

    // B95 distributed k-NN GRAPH via NN-descent (Dong et al. 2011 — see
    // Ann.knnGraph for the full algorithm + scale posture): every vector's
    // top-5 neighbors, seeded from the deliberately-weak 8-band LSH and
    // refined by 2 neighbor-of-neighbor rounds (capped reverse lists, one
    // middle-vertex self-join per round — never all-pairs). The last major
    // ANN family the catalog lacked; also the substrate semantic
    // clustering / HNSW-style search builds on. AnnRecallSpec measures the
    // per-round recall curve vs exact top-5 and pins its monotonicity.
    // Oracle replays seed + both rounds as chained CTEs under one hash.
    "q_embed_knn_graph" -> { (s, d) =>
      Ann.knnGraph(embedVecs(s, d), k = KnnK, KnnLshCfg, rounds = 2,
        buildK = KnnBuildK)
        .select(col("src").as("vec_id"), col("rank"),
          col("dst").as("nbr_id"), col("cos_sim"))
        .orderBy(col("vec_id"), col("rank"))
    },

    // B98 mutual-kNN SEMANTIC CLUSTERING — the clustering substrate the
    // k-NN graph exists to provide (and the verdict's stated second use):
    // keep an edge only when BOTH endpoints list each other (mutual-kNN —
    // the standard sparsification that stops hub vectors chaining distinct
    // clusters) at cosine >= KnnClusterTau, then connected components via
    // the shared pointer-jumping operator (B59 machinery). Differs from
    // q_dedup_semantic (within-quantizer-cell near-dup pruning) in kind:
    // this clusters by NEIGHBORHOOD STRUCTURE, cells play no part, and the
    // output is a partition of the connected subgraph, not keep/drop
    // flags. Oracle = the full graph replay + mutual confirmation + the
    // recursive min-reach walk.
    // B119 incremental k-NN-graph INSERTION —
    // [[graft.operators.Ann.knnInsert]] (contract, timeline-faithful
    // blocking, and the delta-deferral caveat on the operator): the %10≡7
    // delta vectors are inserted against the FROZEN B95 graph built over
    // the rest — LSH bucket-mates + 1-hop graph expansion + exact re-rank
    // for the newcomers, candidate-reversal re-rank for the old lists.
    // The 2-hop expansion is a MEASURED dial (0.61 → 0.83 delta recall
    // for 1.7× candidates; AnnRecallSpec pins the 0.75 floor). The oracle
    // replays the whole timeline: the old-corpus builder chain
    // (sqlKnnGraphCtesWhere), the combined-corpus insert-time blocking,
    // and both re-ranks — gold/cand1/candv are AS MATERIALIZED (each is
    // referenced 2-3×; DuckDB's default CTE inlining re-expanded the
    // whole builder chain per reference — measured 6 min → 10 s at
    // sf0.1, the B99 lesson again). Heavy replay next to
    // q_embed_knn_graph itself — noted so nobody hunts a regression.
    "q_embed_knn_insert" -> { (s, d) =>
      // frozen-state provenance (r15 verdict #6): the graph over the old
      // corpus is the PERSISTED index a maintained deployment reads, not
      // work this entry owns — built once per sf via Frozen, measured
      // cost here = the insert kernel only (baseline re-frozen r16)
      val gOld = Frozen.parquet(s, d, "knn_old_mod10ne7_v1")(
        Ann.knnGraph(embedVecs(s, d).filter(col("vec_id") % 10 =!= 7),
          k = KnnK, KnnLshCfg, rounds = 2, buildK = KnnBuildK))
      Ann.knnInsertInto(embedVecs(s, d), col("vec_id") % 10 === 7, gOld,
        k = KnnK, KnnLshCfg, hops = 2)
        .select(col("src").as("vec_id"), col("rank"),
          col("dst").as("nbr_id"), col("cos_sim"))
        .orderBy(col("vec_id"), col("rank"))
    },

    // B120 query-time graph-ANN SEARCH —
    // [[graft.operators.Ann.knnSearch]] (contract + scale posture on the
    // operator): the serving half of the kNN-graph family. Frozen B95
    // graph over the corpus (vec_id >= 10); the 10 query vectors descend
    // from their LSH bucket-mates through 2 hops of frozen-graph
    // neighbors (the shared B119 walk kernel — search and insert cannot
    // drift), then exact-cosine re-rank top-5. No reverse update: a
    // query READS the index. Recall vs exact at the hop dial is MEASURED
    // in AnnRecallSpec (1/2/3 hops), not assumed. The oracle replays the
    // whole timeline — the corpus-only builder chain
    // (sqlKnnGraphCtesWhere), combined-corpus query-time blocking, both
    // hops, and the re-rank — with the multiply-referenced CTEs AS
    // MATERIALIZED (the q_embed_knn_insert inlining lesson).
    "q_embed_knn_search" -> { (s, d) =>
      // frozen-state provenance (r15 verdict #6): the corpus graph is the
      // deployed serving artifact — Frozen-built once per sf (tag shared
      // with the filtered entry and the streaming server), measured cost
      // here = the walk + re-rank only (baseline re-frozen r16)
      val gOld = Frozen.parquet(s, d, "knn_ge10_v1")(
        Ann.knnGraph(embedVecs(s, d).filter(col("vec_id") >= 10),
          k = KnnK, KnnLshCfg, rounds = 2, buildK = KnnBuildK))
      Ann.knnSearchInto(embedVecs(s, d), col("vec_id") < 10, gOld,
        k = KnnK, KnnLshCfg, hops = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // B133 FILTERED graph-ANN search —
    // [[graft.operators.Ann.knnSearchFiltered]] (post-filtering walk
    // contract + the starvation caveat on the operator): the B120 search
    // with a metadata predicate, label % 2 = 0 — "nearest allowed
    // neighbors", the tenant/category-filter form every production vector
    // store serves. The walk is filter-blind (disallowed vectors still
    // route the descent), the predicate semi-joins the candidate pool
    // before the exact re-rank, and recall vs the post-filter exact gold
    // is MEASURED at two selectivities in AnnRecallSpec. Oracle = the
    // B120 replay with the allowed-id filter on the candidate pool.
    "q_embed_knn_search_filtered" -> { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"),
        col("label"))
      // frozen-state provenance: the SAME deployed graph as
      // q_embed_knn_search (the label column rides along, the builder
      // ignores it) — the filter is a serving-time dial, never an index
      // rebuild
      val gOld = Frozen.parquet(s, d, "knn_ge10_v1")(
        Ann.knnGraph(emb.filter(col("vec_id") >= 10),
          k = KnnK, KnnLshCfg, rounds = 2, buildK = KnnBuildK))
      Ann.knnSearchFilteredInto(emb, col("vec_id") < 10,
        col("label") % 2 === 0, gOld, k = KnnK, KnnLshCfg, hops = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // B122 k-NN-graph DELETION maintenance —
    // [[graft.operators.Ann.knnDelete]] (tombstone-and-repair contract +
    // scale posture on the operator): the %10≡3 vectors are erased from
    // the graph built over the FULL corpus — their lists dropped, their
    // ids purged from surviving lists, and each affected list re-ranked
    // over kept edges ∪ the deleted neighbor's donated adjacency.
    // Untouched lists pass through verbatim. Oracle = the full builder
    // chain + the same keep/affected/donate/re-rank CTEs (gold AS
    // MATERIALIZED — the insert-oracle inlining lesson).
    "q_embed_knn_delete" -> { (s, d) =>
      // frozen-state provenance (r15 verdict #6): the full-corpus graph
      // is the index being MAINTAINED (tag shared with the clusters
      // entry) — measured cost here = tombstone + repair only (baseline
      // re-frozen r16)
      val g = Frozen.parquet(s, d, "knn_full_v1")(
        Ann.knnGraph(embedVecs(s, d), k = KnnK, KnnLshCfg, rounds = 2,
          buildK = KnnBuildK))
      Ann.knnDeleteFrom(embedVecs(s, d), col("vec_id") % 10 === 3, g,
        k = KnnK)
        .select(col("src").as("vec_id"), col("rank"),
          col("dst").as("nbr_id"), col("cos_sim"))
        .orderBy(col("vec_id"), col("rank"))
    },

    "q_embed_knn_clusters" -> { (s, d) =>
      // frozen-state provenance: clustering consumes the SAME deployed
      // full-corpus graph as the delete entry — the subject here is the
      // mutual-kNN sparsification + components, not the substrate build
      val g = Frozen.parquet(s, d, "knn_full_v1")(
        Ann.knnGraph(embedVecs(s, d), k = KnnK, KnnLshCfg, rounds = 2,
          buildK = KnnBuildK))
      val rev = g.select(col("dst").as("src"), col("src").as("dst"))
      val mutual = g.select(col("src"), col("dst"), col("cos_sim"))
        .join(rev, Seq("src", "dst"), "left_semi")
        .filter(col("cos_sim") >= KnnClusterTau)
        .select(col("src"), col("dst"))
      NearDup.clusters(mutual)
        .orderBy(col("cluster_rep"), col("member"))
    },

    // B99 distributed PCA (first principal component by power iteration) —
    // the dimensionality-reduction/drift-analysis primitive every embedding
    // pipeline wants before plotting, whitening, or spectral filtering. The
    // engine touches the corpus ONCE: a single partial+final typed-Aggregator
    // buffer of the d(d+1)/2+d+1 covariance sufficient statistics (~17 KB
    // per map partition at d=64), then O(d²) DRIVER power iteration and a
    // zero-shuffle broadcast-literal projection pass; the oracle replays the
    // n·d² self-join derivation DuckDB needs instead — two INDEPENDENT
    // computations of the same round-6 contract (see [[Pca]] scaladoc for
    // the full float discipline, and for why the eigensolver is log-depth
    // matrix SQUARING — eigengap-free — rather than linear power
    // iteration). PcaSquarings is the measured convergence lever.
    "q_embed_pca_power" -> { (s, d) =>
      val vecs = embedVecs(s, d)
      Pca.projectPc1(vecs, Pca.fitPc1(vecs, dim = 64, squarings = PcaSquarings))
        .orderBy(col("vec_id"))
    },

    // B102 two-component PCA SUBSPACE — the deflation step that turns the
    // B99 solver into a usable decomposition (2-D embedding maps, drift
    // dashboards, whitening): C₂ = round6(C − λ₁·w₁w₁ᵀ) on the driver,
    // then the SAME squaring solver for w₂; λ₂ = Rayleigh against the
    // ORIGINAL covariance so the pair reads as a variance decomposition.
    // Still exactly ONE corpus pass (the shared statistics collect) and
    // one zero-shuffle projection — components cost driver arithmetic,
    // not corpus passes.
    "q_embed_pca_subspace" -> { (s, d) =>
      val vecs = embedVecs(s, d)
      Pca.projectSubspace(vecs,
        Pca.fitSubspace(vecs, dim = 64, squarings = PcaSquarings))
        .orderBy(col("vec_id"))
    },

    // B102-k: the deflation loop generalized to FOUR components under one
    // hash (r14 verdict #9 — loop semantics, eigenvalue conventions, and
    // the one-corpus-pass posture on [[graft.operators.Pca.fitK]]; PcaSpec
    // extends the orthogonality + variance-decomposition asserts and pins
    // fitK(2) ≡ fitSubspace). Oracle = the B99/B102 replay + three chained
    // generic deflation stages — 40 materialized matrix squarings on the
    // 64×64 model, never the corpus.
    "q_embed_pca_k" -> { (s, d) =>
      val vecs = embedVecs(s, d)
      Pca.projectK(vecs,
        Pca.fitK(vecs, dim = 64, squarings = PcaSquarings, k = 4))
        .orderBy(col("vec_id"))
    },

    // B50 SEMANTIC dedup — [[graft.operators.Ann.semDedup]] (the SemDeDup
    // recipe, Abbas et al. 2023; full scale posture + the exact-dedup-first
    // precondition + the maxCell skew refusal documented on the operator).
    // k is the IvfConfig.derive-sized quantizer (same derived geometry as
    // the IVF rows — cells ARE a coarse quantizer), the cap is the same
    // MaxBucket every LSH shape enforces, and the oracle mirrors it as a
    // HAVING CTE. ScaleSoak measures the capped operator with a planted
    // identical mega-block.
    "q_dedup_semantic" -> { (s, d) =>
      Ann.semDedup(embedVecs(s, d), k = IvfCfg.numCentroids, iters = 2,
        cosineConfirm = EmbedCfg.cosineConfirm, maxCell = MaxBucket)
        .orderBy(col("vec_id"))
    },

    // B111 segment-blocked EDIT-DISTANCE similarity join —
    // [[graft.operators.FuzzyJoin.selfJoin]] (Ed-Join/PASS-JOIN family;
    // blocking theorem, indel caveat, and scale shape on the operator):
    // all doc pairs whose first-30-char keys sit within levenshtein ≤ 2,
    // found through positional-segment blocking + confirm — the
    // CHARACTER-level near-dup metric next to the token-level shingle
    // family (typo'd re-posts, OCR noise; a one-char edit can flip every
    // 3-gram shingle but moves levenshtein by 1). maxBlock = MaxBucket is
    // the shared skew refusal, mirrored in the oracle HAVING. At sf0.1
    // the confirm rejects 16k of 16.5k candidates — the blocking, not
    // the threshold, is doing the pruning work.
    "q_join_fuzzy" -> { (s, d) =>
      val keyed = Tables.documents(s, d)
        .filter(length(col("text")) >= 30)
        .select(col("doc_id").as("id"), substring(col("text"), 1, 30).as("s"))
      graft.operators.FuzzyJoin.selfJoin(keyed, maxDist = 2, maxBlock = MaxBucket)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // B50 CONTAINMENT dedup — the subset-duplicate detector Jaccard-based
    // near-dup structurally misses: a short doc quoted whole inside a long
    // one has Jaccard |∩|/|∪| ≈ |short|/|long| (arbitrarily low) but
    // containment |∩|/min(|A|,|B|) = 1. The pretraining case is embedded
    // articles / quoted posts surviving document-level dedup. Containment
    // is computed over the DISCRIMINATIVE shingle set — df ≤ MaxBucket,
    // dropped from numerator AND denominator: a frequent shingle is
    // boilerplate (every doc "contains" it) carrying zero dedup signal,
    // and pruning it is also the skew refusal every LSH shape enforces
    // (mirrored in the oracle HAVING). That makes the whole operator ONE
    // shingle-keyed self-join + partial+final aggregate — the r8 first cut
    // kept frequent shingles exact via a candidates×shingles 3-way join
    // and paid 13 s at sf0.1 for signal the score doesn't want (measured;
    // this shape runs the same corpus in ~2 s). Containment is a rational,
    // so it ships as exact integer ppm (inter·1e6 DIV min-size) — no
    // float quotient crosses engines.
    "q_dedup_containment" -> { (s, d) =>
      NearDup.containmentPairs(Tables.documents(s, d),
        maxDf = MaxBucket, minPpm = 900000L)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // B49/B58 BLOOM-GATED incremental exact dedup —
    // [[graft.operators.ExactDedup.bloomGatedNew]] (shared with the soak's
    // bypass-rate measurement; full scale posture + the result-equivalence
    // argument documented on the operator). The RESULT is provably
    // identical to the plain anti-join — which is exactly what the oracle
    // states — while the plan routes ~all-new batches past the join
    // entirely; the sketch is sized from the history count (r8 verdict —
    // no hand-pinned expectedNumItems).
    "q_dedup_bloom_gate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val isDelta = col("doc_id") % 10 === 7
      // persisted: the sketch-sizing count (inside bloomGatedNew) and the
      // confirm anti-join both read the history sha set — without the
      // cache the corpus is sha256-scanned twice per run. In production
      // this DataFrame IS the persisted history index (tiny: one sha per
      // distinct doc, append-only between batches), so caching it models
      // the real artifact rather than papering over a fixture quirk.
      val hist = docs.filter(!isDelta)
        .select(sha2(col("text"), 256).as("sha")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val delta = docs.filter(isDelta)
        .select(col("doc_id"), sha2(col("text"), 256).as("sha"))
      ExactDedup.bloomGatedNew(hist, delta)
        .select(col("doc_id"), col("sha"))
        .orderBy(col("doc_id"))
    },

    // B50 signature-ESTIMATED Jaccard for the confirmed minhash pairs —
    // [[graft.operators.NearDup.minhashEstimate]] (shared with the soak's
    // calibration measurement): signatures (numHashes longs/doc) estimate
    // similarity as agreeing-hash-fraction BEFORE anything touches the
    // shingle sets; this row ships the estimate next to the confirmed
    // pair so the estimator's calibration is itself under the
    // differential gate. All integer (agree·1e6 DIV 12) — nothing floats.
    "q_dedup_minhash_est" -> { (s, d) =>
      NearDup.minhashEstimate(Tables.documents(s, d),
          minhashPairs(s, d).select(col("doc_a"), col("doc_b")), MinHashCfg)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // B50 boundary (suffix↔prefix) dedup —
    // [[graft.operators.NearDup.boundaryPairs]] (shared with the soak's
    // planted-seam recovery + hot-boundary cap measurement): one
    // projection computes both k-token boundary hashes in the scan stage,
    // one hash equi-join, hot boundary values capped at MaxBucket on BOTH
    // sides (a boilerplate header shared by millions of docs is a skew
    // bomb here exactly like an LSH mega-bucket).
    "q_dedup_suffix_prefix" -> { (s, d) =>
      NearDup.boundaryPairs(Tables.documents(s, d), k = 4,
          maxBucket = MaxBucket)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // B52 vocabulary extraction — the tokenizer-training first pass (BPE
    // and friends start from a corpus token-frequency table): token counts
    // with a min-count floor, top-100 by (count, token). Shape at 100 TB:
    // ONE partial+final aggregate (map-side combine collapses each
    // partition's counts before the shuffle — the exchange carries
    // ~|vocab| rows per partition, not ~|corpus| tokens) and the top-k is
    // TakeOrdered, never a global sort.
    "q_text_vocab" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 5)
        .orderBy(col("cnt").desc, col("tok"))
        .limit(100)
    },

    // B52 QUALITY-WEIGHTED subsampling — per-row keep probability
    // proportional to a quality proxy (here: length, capped at 400 chars ⇒
    // keep_ppm = min(1e6, n_chars·2500)), decided by an ID-KEYED hash
    // draw (the draw keys on doc_id, so the sample is stable per id but
    // NOT across a re-ingestion that assigns new ids — key the draw on
    // the content sha if that stability is needed; r8 verdict). This is
    // how production corpora are downsampled by quality score: rand() < w
    // is irreproducible across retries/engines; hash < w gives every
    // engine, every run the same sample with zero coordination, zero
    // extra shuffle (decided in the scan stage), and A/B-able weights
    // (changing w flips exactly the rows whose draw crosses the new
    // threshold). All-integer comparison — nothing floats.
    "q_sample_weighted" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("keep_ppm",
          least(lit(1000000L), col("n_chars") * 2500))
        .withColumn("draw",
          h28(concat(col("doc_id").cast("string"), lit("_ws"))) % 1000000)
        .filter(col("draw") < col("keep_ppm"))
        .select(col("doc_id"), col("n_chars"), col("keep_ppm"), col("draw"))
        .orderBy(col("doc_id"))
    },

    // B108 EXACT-k weighted sampling WITHOUT replacement — Efraimidis &
    // Spirakis 2006 ("Weighted random sampling with a reservoir"): item i
    // gets key u_i^(1/w_i) with u_i uniform; the k largest keys are a
    // weighted sample without replacement. q_sample_weighted's Bernoulli
    // hash-draw yields a BINOMIAL sample size; this is the operator for
    // "give me exactly k docs, quality-weighted" (eval-set construction,
    // per-source quotas). Determinism: u_i is the ID-KEYED md5 draw
    // (u = (h28+1)/2^28 ∈ (0,1], the '_ws'-draw convention with its own
    // salt), and the ranking uses the tie-safe floor(x·1e9+0.5)/1e9
    // LOG-key ln(u)/w (same order as u^(1/w), numerically spread where
    // the power form compresses toward 1), ties broken by doc_id — so
    // both engines rank identically. Scale posture: the k winners come
    // from the bounded TopKAgg buffer (partial top-k per partition,
    // O(k) merge — NO corpus sort, no single-partition window; the
    // oracle's ORDER BY..LIMIT is exactly the plan this replaces), then
    // one broadcast join back for payload. Weights are floored at 1 —
    // ES is undefined at w ≤ 0.
    "q_sample_es" -> { (s, d) =>
      val k = 100
      val topk = graft.functions.TopKAgg.topK(s, k)
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (h28(concat(col("doc_id").cast("string"), lit("_es"))) + 1).as("h1"),
          greatest(col("n_chars"), lit(1)).as("w"))
        .withColumn("key9",
          floor(log(col("h1") / lit(268435456.0)) / col("w") * 1e9 + lit(0.5)) / 1e9)
      keyed.agg(topk(col("key9"), col("doc_id")).as("tk"))
        .select(posexplode(col("tk")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("col._2").as("doc_id"), col("col._1").as("key9"))
        .join(keyed.select(col("doc_id"), col("n_chars")), "doc_id")
        .select(col("rank"), col("doc_id"), col("n_chars"), col("key9"))
        .orderBy(col("rank"))
    },

    // B51 per-DIMENSION embedding profile — q_profile's idea for vector
    // columns (index-health monitoring: a collapsed dimension or a drifted
    // mean silently ruins every cosine downstream). Emits the EXACT
    // integer sufficient statistics (n, Σq, Σq², min, max) over per-element
    // micro-quantized values (floor((x+1)·1e6 + 0.5) — the +1 offset keeps
    // every quantity nonnegative so integer division semantics can never
    // diverge between engines, and floor(+0.5) is the tie-safe quantizer).
    // Sufficient statistics, not mean/std: they are exactly MERGEABLE
    // (partial+final here, shard-then-combine at 100 TB — the production
    // profiler pattern). Σq² ≤ n·4·10¹² — fits BIGINT to n ≈ 2·10⁶ per
    // dimension; move to decimal(38) beyond that.
    "q_embed_dim_stats" -> { (s, d) =>
      embedVecs(s, d)
        .select(posexplode(col("e")))
        .select(col("pos").as("j"),
          floor((col("col") + lit(1.0)) * lit(1000000) + lit(0.5))
            .cast("long").as("q"))
        .groupBy(col("j"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
          sum(col("q") * col("q")).as("ssq"),
          min(col("q")).as("min_q"), max(col("q")).as("max_q"))
        .orderBy(col("j"))
    },

    // B52 percentile length clip — the outlier filter every curation
    // pipeline runs before tokenization (truncated fragments below P1,
    // concatenation blobs above P99). Exact discrete percentiles by
    // definition "smallest v with cumCount(v) ≥ ceil(p·n)" — computed on
    // the LENGTH HISTOGRAM (|distinct lengths| rows, never the corpus),
    // with the running count through the B83 OrderedCumsum two-pass plan
    // (r13 verdict #9): even the histogram's cardinality needn't fit one
    // task at 100 TB, and the range-exchange form is row-identical to the
    // single-partition window, so the oracle is unchanged. Every quantity
    // is an integer — engine-exact where interpolated percentile() floats
    // would not be. Output is the 1-row clip summary.
    "q_text_length_clip" -> { (s, d) =>
      val h = Tables.documents(s, d)
        .groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      val cum = graft.operators.OrderedCumsum.withRunningTotal(h,
        Seq(col("n_chars")), col("c"), "cum", partitions = 8)
      val tot = h.agg(sum(col("c")).as("n"))
      val bounds = cum.crossJoin(broadcast(tot))
        .agg(
          min(when(col("cum") >= expr("(n + 99) DIV 100"), col("n_chars")))
            .as("lo"),
          min(when(col("cum") >= expr("(99 * n + 99) DIV 100"), col("n_chars")))
            .as("hi"),
          max(col("n")).as("n_total"))
      cum.crossJoin(broadcast(bounds))
        .groupBy(col("n_total"), col("lo"), col("hi"))
        .agg(
          sum(when(col("n_chars").between(col("lo"), col("hi")), col("c"))
            .otherwise(0L)).as("n_kept"),
          sum(when(col("n_chars") < col("lo"), col("c")).otherwise(0L))
            .as("n_low"),
          sum(when(col("n_chars") > col("hi"), col("c")).otherwise(0L))
            .as("n_high"))
    },

    // B51 embedding L2-normalization — the preprocessing step every
    // cosine-metric ANN index assumes (normalized vectors turn cosine into
    // dot product, halving the per-pair work everywhere downstream). One
    // projection through the vec_dot kernel computes the norm; output is
    // the exploded (vec_id, j, val) form at round-6, query side bounded to
    // vec_id < 20 (the differential surface — the op itself is per-row,
    // zero shuffle, linear at any scale).
    "q_embed_norm" -> { (s, d) =>
      embedVecs(s, d).filter(col("vec_id") < 20)
        .withColumn("nrm",
          sqrt(call_function("vec_dot", col("e"), col("e"))))
        .select(col("vec_id"), col("nrm"), posexplode(col("e")))
        .select(col("vec_id"), col("pos").as("j"),
          // tie-safe rounding: e_j/||e|| is an arbitrary-divisor quotient,
          // where plain round(x, 6) splits half-ulp ties across engines
          QUtil.round6Exact(col("col") / col("nrm")).as("nval"))
        .orderBy(col("vec_id"), col("j"))
    },

    // B51 the composed train→index→query path: kmeansFit's centroids feed
    // ivfTopK's explicit-centroid overload, all under ONE oracle — the SQL
    // replays the training CTEs, re-assigns every vector against the
    // ROUNDED centroid matrix (rounding makes the two engines' inputs
    // bit-identical, so the round-9 assignment key is stable), and ranks
    // the probed cells exactly like the untrained IVF row.
    "q_embed_ann_ivf_trained" -> { (s, d) =>
      val emb = embedVecs(s, d)
      val cents = Ann.kmeansFit(emb, k = IvfCfg.numCentroids, iters = 2)
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("c_val")))),
          x => x.getField("c_val")).as("ce"))
      Ann.ivfTopK(emb, col("vec_id") < 10, k = 3, IvfCfg, cents)
        .orderBy(col("qid"), col("rank"))
    },

    // B109 cluster-prototype DATA PRUNING —
    // [[graft.operators.Ann.prototypesPrune]] (Sorscher et al. 2022's
    // SSL-prototypes metric; scale posture + the keep rule documented on
    // the operator): train the coarse quantizer (the shared kmeansFit),
    // assign every vector, keep the hardest half of each cell by
    // prototype-cosine. The data-pruning counterpart of q_dedup_semantic:
    // SemDeDup removes near-identical pairs INSIDE a cell, this ranks the
    // whole cell by prototypicality and drops the redundant easy half —
    // the two are the Abbas/Sorscher pipeline stages production curation
    // chains run back to back. Full train→assign→rank SQL replay under
    // one hash (the q_embed_ann_ivf_trained oracle chain + a per-cell
    // window).
    "q_train_prototypes" -> { (s, d) =>
      val emb = embedVecs(s, d)
      val cents = Ann.kmeansFit(emb, k = IvfCfg.numCentroids, iters = 2)
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("j"), col("c_val")))),
          x => x.getField("c_val")).as("ce"))
      Ann.prototypesPrune(emb, cents, keepDen = 2)
        .orderBy(col("cell"), col("rank"))
    },

    // B118 HYBRID retrieval fusion via reciprocal-rank fusion (Cormack,
    // Clarke & Buettcher, SIGIR 2009 — the standard rank-level combiner
    // production hybrid search uses because it needs NO score
    // normalization across signals): per query doc, the DENSE ranking
    // (exact cosine top-5 over the embedding) and the LEXICAL ranking
    // (shingle-Jaccard top-5 over the text — integer ppm, a genuinely
    // different signal: embeddings see paraphrase, shingles see exact
    // phrasing) fuse as rrf = Σ floor(1e9/(60+rank)) with the paper's
    // k=60 — floored PER TERM so the sum is exact integers cross-engine
    // — then top-3 by (rrf DESC, cid). A doc ranked by only one signal
    // contributes that term alone. Cost: the two top-5 stages the
    // catalog already prices + a 10-query-bounded join; ranks, not
    // scores, cross the fusion boundary — the property that makes RRF
    // shippable when the signals' score scales are incomparable.
    "q_hybrid_rrf" -> { (s, d) =>
      val dense = Ann.exactTopK(embedVecs(s, d), col("vec_id") < 10, k = 5)
        .select(col("qid"), col("cid"), col("rank").as("r_dense"))
      val qsh = shingleRows(s, d)
      val sizes = qsh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = qsh.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("sh"))
        .join(qsh.select(col("doc_id").as("cid"), col("sh")), Seq("sh"))
        .filter(col("qid") =!= col("cid"))
        .groupBy(col("qid"), col("cid")).agg(count(lit(1)).as("inter"))
      val lexAll = inter
        .join(sizes.select(col("doc_id").as("qid"), col("sz").as("sq")), "qid")
        .join(sizes.select(col("doc_id").as("cid"), col("sz").as("sc")), "cid")
        .withColumn("jac_ppm", expr(
          "CAST(inter * 1000000 DIV (sq + sc - inter) AS BIGINT)"))
      val wl = Window.partitionBy(col("qid"))
        .orderBy(col("jac_ppm").desc, col("cid"))
      val lex = lexAll.withColumn("r_lex", row_number().over(wl))
        .filter(col("r_lex") <= 5)
        .select(col("qid"), col("cid"), col("r_lex"))
      val fused = dense.join(lex, Seq("qid", "cid"), "full_outer")
        .withColumn("rrf",
          coalesce(expr("1000000000 div (60 + r_dense)"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + r_lex)"), lit(0L)))
      val wf = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("cid"))
      fused.withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("cid"), col("rrf"))
        .orderBy(col("qid"), col("rank"))
    },

    // B110 truncated-dimension two-stage retrieval —
    // [[graft.operators.Ann.prefixDimTopK]] (the Matryoshka serving
    // pattern, Kusupati et al. 2022; scale shape on the operator):
    // 16-of-64-dim cosine shortlist (top-50 via the bounded TopKAgg, a 4×
    // bandwidth cut on the all-pairs stage) → exact full-dim re-rank over
    // the broadcast-fetched shortlist only. MEASURED on this
    // (non-MRL-trained) fixture in AnnRecallSpec: top-5 recall 0.48 /
    // 0.60 / 0.76 at prefix 8/16/32 — the truncation is the recall price
    // (MRL training is what would buy it back), the re-rank half is
    // exact — top-5-of-shortlist ≡ shortlist ∩ gold, the same theorem
    // the PQ re-rank path pins.
    "q_embed_prefix_rerank" -> { (s, d) =>
      Ann.prefixDimTopK(embedVecs(s, d), col("vec_id") < 10, k = 5,
        prefixDims = 16, shortlistS = 50)
        .orderBy(col("qid"), col("rank"))
    },

    // B51 IVF-style ANN (the second index shape next to hyperplane LSH):
    // coarse centroids = the first 16 vectors (deterministic "training"),
    // every vector assigned to its max-cosine centroid (min-id tiebreak);
    // queries probe their top-2 cells (nprobe=2 — multi-probe recovers the
    // near-boundary misses single-probe loses; AnnRecallSpec documents the
    // measured recall vs the exact top-k). Exact top-3 over the probed cells.
    "q_embed_ann_ivf" -> { (s, d) =>
      Ann.ivfTopK(embedVecs(s, d), col("vec_id") < 10, k = 3, IvfCfg)
        .orderBy(col("qid"), col("rank"))
    },

    // B52 deterministic train/val/test split: bucket = 28-bit md5 of the
    // doc id, mod 100 → 80/10/10. Hash-mod IS the scale design — rand()
    // sampling is irreproducible across retries/engines and seed-sampling
    // depends on partitioning; a content-key hash gives every engine, every
    // run, every executor the same split with zero coordination and zero
    // extra shuffle (the split is computed in the scan stage; only the
    // 3-row stats aggregate moves data).
    "q_split_hash" -> { (s, d) =>
      val b = h28(col("doc_id").cast("string")) % 100
      Tables.documents(s, d)
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))
    },

    // B52 per-source quota sampling (training-data curation: cap any one
    // source's contribution): deterministic row_number ≤ 10 per source by
    // doc id. One shuffle on the group key; the window state is bounded by
    // the quota, and a skew-heavy source costs its reducer only its own
    // rows (this is the dedup-survivor shape, reused for curation).
    "q_sample_quota" -> { (s, d) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("total_chars"),
          max(col("doc_id")).as("last_doc_id"))
        .orderBy(col("source"))
    },

    // B49/B52 composed training-data prep: quality gate → language gate →
    // exact dedup survivor → corpus totals. One declarative plan: the
    // filters run in the scan stage, the dedup is one shuffle on the
    // content hash, the totals one final aggregate.
    "q_llm_prep" -> { (s, d) =>
      val toks = split(col("text"), " ")
      val nToks = size(toks).cast("double")
      val diversity = size(array_distinct(toks)) / nToks
      val stopRatio = size(filter(toks, t => t.isin(STOPWORDS.map(lit(_)): _*))) / nToks
      val quality = round(lit(0.4) * least(lit(1.0), nToks / 50.0)
        + lit(0.3) * diversity + lit(0.3) * stopRatio, 9)
      val w = Window.partitionBy(col("sha")).orderBy(col("doc_id"))
      Tables.documents(s, d)
        .withColumn("quality", quality)
        .withColumn("stop_ratio", stopRatio)
        .filter(col("quality") >= 0.5 && col("stop_ratio") >= 0.05)
        .withColumn("sha", sha2(col("text"), 256))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("total_tokens"),
          QUtil.round6Exact(sum(round(col("quality") * 1e9)) / 1e9 / count(lit(1)))
            .as("avg_quality"))
    },

    // B52 token statistics per language.
    "q_text_stats" -> { (s, d) =>
      val toks = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("lang"), size(toks).as("n_toks"),
          size(array_distinct(toks)).as("n_distinct"), col("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("total_toks"),
          QUtil.round6Exact(sum(col("n_toks")) / count(lit(1)).cast("double"))
            .as("avg_toks"),
          sum(col("n_chars")).as("total_chars"),
          QUtil.round6Exact(sum(col("n_distinct")) / sum(col("n_toks")).cast("double"))
            .as("distinct_ratio"))
        .orderBy(col("lang"))
    },

    // B52 language-ID heuristic: stopword-hit ratio ⇒ en/other, reported as
    // a confusion matrix against the labeled lang column.
    "q_text_langid" -> { (s, d) =>
      val toks = split(col("text"), " ")
      val stopHits = size(filter(toks, t => t.isin(STOPWORDS.map(lit(_)): _*)))
      Tables.documents(s, d)
        .withColumn("stop_ratio", stopHits / size(toks).cast("double"))
        .withColumn("pred", when(col("stop_ratio") >= 0.05, "en").otherwise("other"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred"))
    },

    // B52 language ID as a TRAINED char-n-gram linear model (r14 verdict
    // #4 — contract, integer discipline, and scale posture on
    // [[graft.operators.LangId]]; the stopword heuristic above stays as
    // the baseline): per-language trigram-ppm weights trained on the
    // %10<8 split, applied map-side (broadcast model) to the held-out
    // %10>=8 docs, argmax per doc (score DESC, lang ASC), 'und' for docs
    // with no in-vocabulary grams. Output = the held-out confusion
    // matrix. Oracle replays train→score→argmax→confusion as chained
    // CTEs under one hash.
    "q_text_langid_model" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val m = graft.operators.LangId.model(
        docs.filter(col("doc_id") % 10 < 8), n = 3, minCount = 5)
      val test = docs.filter(col("doc_id") % 10 >= 8)
      val pred = graft.operators.LangId.predict(test, m, n = 3)
      test.join(pred, Seq("doc_id"), "left")
        .groupBy(col("lang"), coalesce(col("pred"), lit("und")).as("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred"))
    },

    // B52 token counting, BPE-ish: whitespace tokens vs regex subword-style
    // tokens (letter runs / digit runs / single symbols) per doc.
    "q_text_tokens_bpe" -> { (s, d) =>
      val bpe = regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          size(bpe).as("n_bpe_tokens"))
        .withColumn("tokens_per_word",
          round(col("n_bpe_tokens") / col("n_ws_tokens").cast("double"), 6))
        .orderBy(col("doc_id"))
    },

    // B121 unigram-LM tokenizer TRAINING —
    // [[graft.operators.UnigramLm]] (Kudo 2018 EM over a bounded
    // candidate vocabulary; exact-integer ppm shares per the B91
    // float discipline — contract + scale posture on the operator):
    // candidates = substrings ≤ 4 chars with weighted mass ≥ 500 (probed:
    // exactly 2 multi-char pieces excluded at BOTH SFs) + all single
    // chars; 2 EM rounds; vocab pruned to top-50 (+chars). The oracle
    // replays the word-frequency pass, the occurrence fan-out, both EM
    // rounds' integer-share redistribution, and the two-stage prune rank
    // as chained CTEs under one hash. UnigramLmSpec hand-derives a full
    // EM round on a planted corpus.
    "q_text_tokens_unigram" -> { (s, d) =>
      graft.operators.UnigramLm.vocab(
        graft.operators.UnigramLm.train(Tables.documents(s, d),
          maxPieceLen = 4, minCount = 500L, emRounds = 2),
        vocabTarget = 50)
        .orderBy(col("rank"))
    },

    // B125 EXACT Viterbi segmentation with the trained unigram weights —
    // [[graft.operators.UnigramLm.viterbiSegment]] (the APPLY half; the
    // min-plus-doubling DP and the combined cost·64+n_tokens encoding on
    // the operator): per word type the lexicographically (cost, n_tokens)
    // minimal segmentation under cost(piece) = 1 + 1e12 DIV w(piece),
    // rolled up per document. The oracle replays the full training chain
    // (shared sqlUnigramTrainCtes) + the edge table + all 5 doubling
    // rounds + the per-doc rollup under one hash. UnigramLmSpec pins the
    // DP against a driver-side exhaustive-enumeration Viterbi.
    "q_text_tokens_viterbi" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val seg = graft.operators.UnigramLm.viterbiSegment(docs,
        maxPieceLen = 4, minCount = 500L, emRounds = 2,
        costScale = 1000000000000L)
      docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")).between(1, 30))
        .join(seg.select(col("word"), col("n_tokens"), col("cost")), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_tokens")).as("n_tokens"), sum(col("cost")).as("cost"))
        .orderBy(col("doc_id"))
    },

    // B52 quality score: weighted blend of length, lexical diversity and
    // stopword presence (all int-ratio terms ⇒ engine-exact doubles).
    "q_text_quality" -> { (s, d) =>
      val toks = split(col("text"), " ")
      val nToks = size(toks).cast("double")
      val diversity = size(array_distinct(toks)) / nToks
      val stopRatio = size(filter(toks, t => t.isin(STOPWORDS.map(lit(_)): _*))) / nToks
      val lenScore = least(lit(1.0), nToks / 50.0)
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(lit(0.4) * lenScore + lit(0.3) * diversity + lit(0.3) * stopRatio, 9)
            .as("quality"))
        .orderBy(col("doc_id"))
    },

    // B52 document fingerprint: order-sensitive polynomial rolling hash over
    // md5-derived token hashes (left fold, mod 1e9+7).
    "q_text_fingerprint" -> { (s, d) =>
      val toks = split(col("text"), " ")
      val hashes = transform(toks, t => h28(t))
      Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(hashes, lit(0L), (acc, h) => (acc * 131 + h) % MOD).as("fingerprint"))
        .orderBy(col("doc_id"))
    },

    // B52 TF-IDF: the canonical corpus-statistics weighting — tf per
    // (doc, term), df per term, idf = ln(N/df), top-1 term per doc.
    // Shape at 100 TB: ONE scan (explode pipelined in the scan stage) →
    // ONE (doc,term) partial+final aggregate; df = count over a
    // term-partitioned window on tf's output (tf rows are already distinct
    // per (doc,term)) — a join of two aggregates over the same explode
    // would scan and explode the corpus TWICE (column pruning makes the
    // two subtrees non-identical, defeating ReuseExchange; verified on the
    // physical plan). Then a broadcast of the 1-row corpus count and a
    // per-doc window top-1. No shuffle carries more than
    // |distinct (doc,term)| rows.
    "q_text_tfidf" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
        .crossJoin(broadcast(nd))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("doc_id") < 100)
        .select(col("doc_id"), col("tok").as("top_term"), col("tfidf"))
        .orderBy(col("doc_id"))
    },

    // B52 BM25 (Robertson–Spärck Jones, the standard lexical retrieval
    // scorer): idf(t)·tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)) summed over a
    // fixed query-term set, top-20 docs. Cross-engine determinism: every
    // constant is the SAME decimal literal on both sides (a Scala-computed
    // k1+1 lands on a round-to-even tie vs the SQL literal 2.2), per-term
    // contributions are added in WRITTEN order (never a float SUM over an
    // unordered group), and dl/avgdl is spelled dl·N/total identically.
    // Shape at 100 TB: one scan → per-doc conditional-sum tf columns
    // (partial+final, exact ints), two single-row broadcasts (df, corpus
    // stats), top-k via TakeOrdered — no full sort, no second scan.
    // body = [[graft.operators.TextCuration.bm25TopK]] (shared with the
    // scale soak so catalog and soak can never drift — r8 review)
    "q_text_bm25" -> { (s, d) =>
      TextCuration.bm25TopK(Tables.documents(s, d),
        Seq("spark", "vector", "stream"), k = 20)
    },

    // B52/B54 corpus-wide paragraph (boilerplate) dedup — the CCNet
    // paragraph-dedup shape: cut every doc into disjoint 16-token windows
    // (the paragraph proxy), hash each, and mark windows whose hash occurs
    // in ≥ 3 DISTINCT documents as boilerplate (headers, footers,
    // navigation chrome — the text that survives document-level dedup
    // because the surrounding doc differs). Exact integer arithmetic end
    // to end. Shape at 100 TB: windows from a typed flatMap in the scan
    // stage; ONE (hash → distinct-doc count) aggregate bounded by the
    // distinct-window count; per-doc rollup partial+final.
    // body = [[graft.operators.TextCuration.boilerplate]] (shared with
    // the scale soak — r8 review)
    "q_text_boilerplate" -> { (s, d) =>
      TextCuration.boilerplate(Tables.documents(s, d),
        windowTokens = 16, minDocs = 3)
        .orderBy(col("doc_id"))
    },

    // B52 n-gram LM quality scoring (the CCNet/KenLM perplexity-filter
    // shape): a bigram LM with add-one smoothing trained ON the corpus
    // scores every document by average negative log-likelihood — the
    // model-based quality filter next to q_text_quality's heuristics.
    // Determinism: per-token log-probs are QUANTIZED to integer micro-nats
    // (floor(ln(p)·1e6 + 0.5)) BEFORE the per-doc sum — an integer sum is
    // order-free, where a float sum over an unordered group would differ
    // between engines; ln's input is a quotient of exact integers
    // (identical doubles both engines, the q_text_tfidf precedent).
    // ULP CAVEAT (r7 advice): the quantization itself assumes Spark's
    // Math.log and DuckDB's libm ln round identically on those identical
    // inputs — empirically bit-exact here and in the tfidf/bm25
    // precedents, but NOT an IEEE guarantee (ln is not correctly-rounded
    // in either library). A 1-ulp divergence would only surface when
    // ln(p)·1e6 lands within ~1e-10 of a .5 boundary — probability ~1e-10
    // per distinct bigram, and the blast radius is ±1 micro-nat in one
    // doc's sum. If a corpus ever trips it, coarsen the quantum (1e4
    // drops the odds another 100×) or precompute the log-prob table with
    // one engine and join it as a dimension — do NOT "fix" it by summing
    // raw doubles, which reintroduces order-dependence everywhere. Shape
    // at 100 TB: bigrams via a typed flatMap in the scan stage (keeps
    // multiplicities — shingles() is distinct-per-doc, an LM must not be);
    // the count tables are vocabulary²-bounded (≪ corpus) and join on w1 —
    // in production they'd be a persisted model read as a dimension.
    // body = [[graft.operators.TextCuration.bigramNll]] (shared with the
    // scale soak — r8 review)
    "q_text_lm_score" -> { (s, d) =>
      TextCuration.bigramNll(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    },

    // B53 multimodal binary columns: REAL file bytes from the binaryFile
    // source (Sources.binaryDocs) + typed metadata joined from the catalog
    // table — the payload is opaque binary, the metadata is columnar.
    // No broadcast hint on the catalog join: the document catalog grows with
    // the corpus (unbounded at 100 TB) — AQE picks BHJ at runtime when the
    // catalog side actually fits, without hard-wiring it.
    "q_multimodal_meta" -> { (s, d) =>
      Sources.binaryDocs(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
        .select(col("doc_id"),
          col("length").cast("int").as("n_bytes"),
          sha2(col("content"), 256).as("digest"),
          col("source"))
        .orderBy(col("doc_id"))
    },

    // B53 decode/feature-extract over binary payloads via the stubbed codec
    // (graft.multimodal.Multimodal, typed mapPartitions — the real-codec
    // seam). The oracle recomputes the byte statistics from the text in SQL.
    "q_multimodal_features" -> { (s, d) =>
      graft.multimodal.Multimodal.features(s, Sources.binaryDocs(s, d))
        .select(col("doc_id"), col("n_bytes"),
          round(col("mean_byte"), 6).as("mean_byte"),
          col("max_byte"), col("checksum"))
        .orderBy(col("doc_id"))
    },

    // B53 frame sampling: every 4th 64-byte frame of each payload through
    // the typed flatMap generator (Multimodal.frameSample) — the bounded
    // fan-out a video pipeline pays; per-frame byte sums stand in for
    // decoded-frame features and the oracle recomputes them from the text.
    "q_multimodal_frames" -> { (s, d) =>
      graft.multimodal.Multimodal.frameSample(s, Sources.binaryDocs(s, d))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // B127 KEYFRAME selection — [[graft.multimodal.Multimodal.keyframes]]
    // (scene-change pass over every frame; contract + scale posture on
    // the operator): keep frame 0 and any frame whose byte-sum feature
    // moved by > 1/20 relative to the previous frame, integer-exact.
    // Probed non-vacuous on the fixture: 100 firsts + 96 scene changes
    // kept, 294 static frames dropped. The oracle replays frame slicing,
    // per-frame sums, the lag, and the integer change test.
    "q_video_keyframes" -> { (s, d) =>
      graft.multimodal.Multimodal.keyframes(s, Sources.binaryDocs(s, d))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // B53 resize: each payload downsampled to 16 equal-width buckets with
    // exact integer bucket assignment; the "pixel" is the rounded bucket
    // mean (exact integer sum / exact count — engine- and order-exact).
    "q_multimodal_resize" -> { (s, d) =>
      graft.multimodal.Multimodal.resize(s, Sources.binaryDocs(s, d))
        .select(col("doc_id"), col("px"),
          round(col("byte_sum") / col("n_in").cast("double"), 6).as("v"),
          col("n_in"))
        .orderBy(col("doc_id"), col("px"))
    })

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT sha256(text) AS content_sha, min(doc_id) AS canonical_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY canonical_id""".stripMargin,

    "q_dedup_prefix_key" ->
      """WITH keyed AS (
        |  SELECT doc_id, concat_ws(' ', string_split(text,' ')[1], string_split(text,' ')[2]) AS k
        |  FROM documents)
        |SELECT k, doc_id, group_sz FROM (
        |  SELECT k, doc_id,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY k) AS group_sz
        |  FROM keyed) t
        |WHERE rn = 1 ORDER BY k, doc_id""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      s"""WITH $sqlShingles,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $sqlJaccard AS jac
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, jac FROM pairs
         |WHERE jac >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_source_matrix" ->
      s"""WITH $sqlShingles,
         |$sqlMinhashPairs,
         |ds AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS source_x,
         |  greatest(a.source, b.source) AS source_y,
         |  count(*) AS n_pairs
         |FROM pairs p JOIN ds a ON a.doc_id = p.doc_a
         |JOIN ds b ON b.doc_id = p.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_minhash_lsh" ->
      s"""WITH $sqlShingles,
         |$sqlMinhashCand
         |SELECT doc_a, doc_b, $sqlJaccard AS jac
         |FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
         |WHERE $sqlJaccard >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the full LSH pair set restricted to delta-touching pairs — the
    // incremental run must produce exactly this
    "q_dedup_incremental" ->
      s"""WITH $sqlShingles,
         |$sqlMinhashCand
         |SELECT doc_a, doc_b, $sqlJaccard AS jac
         |FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
         |WHERE $sqlJaccard >= 0.8 AND (doc_a % 10 = 7 OR doc_b % 10 = 7)
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlShingles,
         |$sqlMinhashPairs,
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |walk(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, e.t FROM walk w JOIN edges e ON e.s = w.r)
         |SELECT min(r) AS cluster_rep, id AS member
         |FROM walk GROUP BY id ORDER BY cluster_rep, member""".stripMargin,

    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE $sqlShingles,
         |$sqlMinhashPairs,
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |walk(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, e.t FROM walk w JOIN edges e ON e.s = w.r),
         |labels AS (SELECT min(r) AS cluster_rep, id AS member
         |           FROM walk GROUP BY id),
         |docs AS (
         |  SELECT d.doc_id, coalesce(l.cluster_rep, d.doc_id) AS grp,
         |    l.member IS NOT NULL AS clustered
         |  FROM documents d LEFT JOIN labels l ON l.member = d.doc_id),
         |assigned AS (
         |  SELECT doc_id, clustered, grp,
         |    CASE WHEN ${sqlH28("grp::VARCHAR || '_split'")} % 100 < 90
         |         THEN 'train' ELSE 'eval' END AS split
         |  FROM docs)
         |SELECT split, count(*) AS n_docs,
         |  CAST(count(*) FILTER (WHERE clustered) AS BIGINT) AS n_clustered,
         |  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
         |  md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS ids_md5
         |FROM assigned GROUP BY split ORDER BY split""".stripMargin,

    "q_dedup_survivor" ->
      s"""WITH RECURSIVE $sqlShingles,
         |$sqlMinhashPairs,
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |walk(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, e.t FROM walk w JOIN edges e ON e.s = w.r),
         |labels AS (SELECT id AS member, min(r) AS cluster_rep FROM walk GROUP BY id),
         |j AS (SELECT l.member, l.cluster_rep, d.n_chars
         |      FROM labels l JOIN documents d ON d.doc_id = l.member),
         |srv AS (SELECT cluster_rep, member AS survivor_id FROM (
         |    SELECT cluster_rep, member,
         |      row_number() OVER (PARTITION BY cluster_rep
         |        ORDER BY n_chars DESC, member ASC) AS rn
         |    FROM j) WHERE rn = 1)
         |SELECT j.cluster_rep, j.member, s.survivor_id,
         |  j.member = s.survivor_id AS keep
         |FROM j JOIN srv s ON s.cluster_rep = j.cluster_rep
         |ORDER BY j.cluster_rep, j.member""".stripMargin,

    "q_dedup_pipeline" ->
      s"""WITH RECURSIVE
         |reps AS (
         |  SELECT doc_id, text,
         |    min(doc_id) OVER (PARTITION BY sha256(text)) AS exact_rep
         |  FROM documents),
         |survivors AS (SELECT doc_id, text FROM reps WHERE doc_id = exact_rep),
         |${sqlShinglesFrom("survivors")},
         |$sqlMinhashPairs,
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |walk(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, e.t FROM walk w JOIN edges e ON e.s = w.r),
         |labels AS (SELECT id AS exact_rep, min(r) AS cluster_rep
         |           FROM walk GROUP BY id)
         |SELECT p.doc_id,
         |  CASE WHEN p.doc_id != p.exact_rep THEN 'exact_dup'
         |       WHEN l.cluster_rep IS NOT NULL AND l.cluster_rep != p.doc_id
         |         THEN 'near_dup'
         |       ELSE 'kept' END AS status,
         |  coalesce(l.cluster_rep, p.exact_rep) AS survivor_id
         |FROM reps p LEFT JOIN labels l ON l.exact_rep = p.exact_rep
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH $sqlShingles,
         |ex AS (SELECT doc_id, ${sqlH28("u.s")} AS h FROM sh, unnest(shingles) u(s)),
         |bits AS (SELECT doc_id, j,
         |    sum(CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END) AS w
         |  FROM ex CROSS JOIN range(28) r(j) GROUP BY doc_id, j),
         |sig AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN w > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id),
         |blocks AS (
         |  SELECT doc_id, simhash, bi,
         |    (simhash >> off) & ((1::BIGINT << len) - 1) AS bv
         |  FROM sig CROSS JOIN (VALUES (0, 0, 6), (1, 6, 6), (2, 12, 6),
         |    (3, 18, 5), (4, 23, 5)) AS bd(bi, off, len)),
         |ok AS (SELECT bi, bv FROM blocks GROUP BY 1, 2 HAVING count(*) <= ${MaxBucket}),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.simhash AS ha,
         |    y.doc_id AS doc_b, y.simhash AS hb
         |  FROM blocks x JOIN ok z ON z.bi = x.bi AND z.bv = x.bv
         |  JOIN blocks y ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(ha, hb)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_udaf_minhash_sig" ->
      s"""WITH $sqlShingles,
         |ex AS (SELECT doc_id, ${sqlH28("u.s")} AS h
         |       FROM sh, unnest(shingles) u(s) WHERE doc_id < 50),
         |params AS (SELECT i, 1234567 + 7654321*i AS a, 987654 + 123457*i AS b FROM range(12) r(i)),
         |mh AS (SELECT doc_id, i, min((a*h + b) % 268435399) AS mh
         |       FROM ex CROSS JOIN params GROUP BY doc_id, i)
         |SELECT doc_id, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
         |FROM mh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_embed_kmeans" ->
      s"""WITH $sqlKmeansCtes
         |SELECT cent_id, i AS j, round(c, 6) AS c_val FROM c2
         |ORDER BY cent_id, j""".stripMargin,

    "q_embed_pq" ->
      s"""WITH $sqlPqCtes
         |SELECT vec_id,
         |  ${(0 until PqCfg.m).map(m =>
             s"max(CASE WHEN m = $m THEN code END) AS c$m")
             .mkString(",\n         |  ")}
         |FROM paF GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_embed_pq_adc" ->
      s"""WITH $sqlPqCtes,
         |qex AS (SELECT * FROM pex WHERE vec_id < 10),
         |dt AS (SELECT q.vec_id AS qid, q.m, p.cent_id,
         |    floor(sum((q.x - p.c)*(q.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM qex q JOIN pcb p ON p.m = q.m AND p.si = q.si
         |  GROUP BY 1, 2, 3),
         |adc AS (SELECT dt.qid, a.vec_id,
         |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
         |  FROM paF a JOIN dt ON dt.m = a.m AND dt.cent_id = a.code
         |  GROUP BY 1, 2)
         |SELECT qid, rank, vec_id, adc FROM (
         |  SELECT qid, vec_id, adc, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc, vec_id) AS rank FROM adc) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // cross-modal staleness: the minhash pair chain + per-pair embedding
    // cosine (round-6, the q_dedup_semantic convention); ex2/vn2 names
    // avoid the shingle chain's ex CTE
    "q_dedup_embed_stale" ->
      s"""WITH $sqlShingles,
         |$sqlMinhashPairs,
         |ex2 AS (SELECT vec_id, i, embedding[i+1]::DOUBLE AS x
         |  FROM embeddings CROSS JOIN range(64) r(i)),
         |vn2 AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM ex2 GROUP BY vec_id),
         |dp AS (SELECT p.doc_a, p.doc_b, sum(xa.x * xb.x) AS dp
         |  FROM pairs p JOIN ex2 xa ON xa.vec_id = p.doc_a
         |  JOIN ex2 xb ON xb.vec_id = p.doc_b AND xb.i = xa.i
         |  GROUP BY 1, 2)
         |SELECT d.doc_a, d.doc_b,
         |  round(d.dp / (va.nrm * vb.nrm), 6) AS cos6,
         |  round(d.dp / (va.nrm * vb.nrm), 6) < ${EmbedCfg.cosineConfirm} AS stale
         |FROM dp d JOIN vn2 va ON va.vec_id = d.doc_a
         |JOIN vn2 vb ON vb.vec_id = d.doc_b
         |ORDER BY d.doc_a, d.doc_b""".stripMargin,

    // IVFADC-R: the q_embed_pq_adc replay + top-50 shortlist window +
    // exact per-coordinate L2 re-rank of the shortlist (Jégou 2011 §V)
    "q_embed_adc_rerank" ->
      s"""WITH $sqlPqCtes,
         |qex AS (SELECT * FROM pex WHERE vec_id < 10),
         |dt AS (SELECT q.vec_id AS qid, q.m, p.cent_id,
         |    floor(sum((q.x - p.c)*(q.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM qex q JOIN pcb p ON p.m = q.m AND p.si = q.si
         |  GROUP BY 1, 2, 3),
         |adc AS (SELECT dt.qid, a.vec_id,
         |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
         |  FROM paF a JOIN dt ON dt.m = a.m AND dt.cent_id = a.code
         |  GROUP BY 1, 2),
         |short AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY adc, vec_id) AS srank FROM adc) t
         |  WHERE srank <= 50),
         |exd AS (SELECT s.qid, s.vec_id,
         |    floor(sum((q.x - v.x)*(q.x - v.x)) * 1e6 + 0.5) / 1e6 AS d2
         |  FROM short s
         |  JOIN pex q ON q.vec_id = s.qid
         |  JOIN pex v ON v.vec_id = s.vec_id AND v.m = q.m AND v.si = q.si
         |  GROUP BY 1, 2)
         |SELECT qid, rank, vec_id, d2 FROM (
         |  SELECT qid, vec_id, d2, row_number() OVER (
         |    PARTITION BY qid ORDER BY d2, vec_id) AS rank FROM exd) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q_embed_ivfpq" ->
      s"""WITH $sqlPqCtes,
         |$sqlIvfCtes,
         |qdt AS (SELECT q.vec_id AS qid, q.m, p.cent_id,
         |    floor(sum((q.x - p.c)*(q.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM pex q JOIN pcb p ON p.m = q.m AND p.si = q.si
         |  WHERE q.vec_id < 10 GROUP BY 1, 2, 3),
         |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
         |  FROM probes p JOIN assigned a
         |    ON a.cell = p.cell AND a.vec_id != p.vec_id),
         |adc AS (SELECT c.qid, c.cid,
         |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
         |  FROM cand c JOIN paF f ON f.vec_id = c.cid
         |  JOIN qdt dt ON dt.qid = c.qid AND dt.m = f.m AND dt.cent_id = f.code
         |  GROUP BY 1, 2)
         |SELECT qid, rank, cid AS vec_id, adc FROM (
         |  SELECT qid, cid, adc, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc, cid) AS rank FROM adc) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // IVF-bounded IVFADC-R: the q_embed_ivfpq replay + top-20 shortlist
    // window + exact per-coordinate L2 re-rank (self already excluded by
    // the cand CTE)
    "q_embed_ivfpq_rerank" ->
      s"""WITH $sqlPqCtes,
         |$sqlIvfCtes,
         |qdt AS (SELECT q.vec_id AS qid, q.m, p.cent_id,
         |    floor(sum((q.x - p.c)*(q.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM pex q JOIN pcb p ON p.m = q.m AND p.si = q.si
         |  WHERE q.vec_id < 10 GROUP BY 1, 2, 3),
         |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
         |  FROM probes p JOIN assigned a
         |    ON a.cell = p.cell AND a.vec_id != p.vec_id),
         |adc AS (SELECT c.qid, c.cid,
         |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
         |  FROM cand c JOIN paF f ON f.vec_id = c.cid
         |  JOIN qdt dt ON dt.qid = c.qid AND dt.m = f.m AND dt.cent_id = f.code
         |  GROUP BY 1, 2),
         |short AS (SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY adc, cid) AS srank FROM adc) t
         |  WHERE srank <= 20),
         |exd AS (SELECT s.qid, s.cid,
         |    floor(sum((q.x - v.x)*(q.x - v.x)) * 1e6 + 0.5) / 1e6 AS d2
         |  FROM short s
         |  JOIN pex q ON q.vec_id = s.qid
         |  JOIN pex v ON v.vec_id = s.cid AND v.m = q.m AND v.si = q.si
         |  GROUP BY 1, 2)
         |SELECT qid, rank, cid AS vec_id, d2 FROM (
         |  SELECT qid, cid, d2, row_number() OVER (
         |    PARTITION BY qid ORDER BY d2, cid) AS rank FROM exd) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // B130 insert maintenance: the q_embed_ivfpq replay with the
    // frozen-model split — PQ TRAINS on pexold (delta withheld) but
    // ENCODES pex (all rows, sqlPqTrainEncode's encSrc), mirroring
    // Pq.encodeInto's stateless delta absorption; the IVF coarse stage is
    // unchanged (centroids 0..15 are old rows by construction)
    "q_embed_ivfpq_insert" ->
      s"""WITH pex AS (SELECT vec_id, i // ${PqCfg.subDim} AS m,
         |    i % ${PqCfg.subDim} AS si, embedding[i+1]::DOUBLE AS x
         |  FROM embeddings CROSS JOIN range(${PqCfg.dim}) r(i)),
         |pexold AS (SELECT * FROM pex
         |  WHERE NOT (vec_id % 10 = 7 AND vec_id >= ${IvfCfg.numCentroids})),
         |${sqlPqTrainEncode("pexold", "p", seedFrom = 0, encSrc = Some("pex"))},
         |$sqlIvfCtes,
         |qdt AS (SELECT q.vec_id AS qid, q.m, p.cent_id,
         |    floor(sum((q.x - p.c)*(q.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM pex q JOIN pcb p ON p.m = q.m AND p.si = q.si
         |  WHERE q.vec_id < 10 GROUP BY 1, 2, 3),
         |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
         |  FROM probes p JOIN assigned a
         |    ON a.cell = p.cell AND a.vec_id != p.vec_id),
         |adc AS (SELECT c.qid, c.cid,
         |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
         |  FROM cand c JOIN paF f ON f.vec_id = c.cid
         |  JOIN qdt dt ON dt.qid = c.qid AND dt.m = f.m AND dt.cent_id = f.code
         |  GROUP BY 1, 2)
         |SELECT qid, rank, cid AS vec_id, adc FROM (
         |  SELECT qid, cid, adc, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc, cid) AS rank FROM adc) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // B133 (PQ half) filtered serving: the q_embed_ivfpq replay with the
    // candidate set restricted to the allowed (label % 2 = 0) ids —
    // queries unrestricted, per-query tables unchanged
    "q_embed_ivfpq_filtered" ->
      s"""WITH $sqlPqCtes,
         |$sqlIvfCtes,
         |allow AS (SELECT vec_id FROM embeddings WHERE label % 2 = 0),
         |qdt AS (SELECT q.vec_id AS qid, q.m, p.cent_id,
         |    floor(sum((q.x - p.c)*(q.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM pex q JOIN pcb p ON p.m = q.m AND p.si = q.si
         |  WHERE q.vec_id < 10 GROUP BY 1, 2, 3),
         |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
         |  FROM probes p JOIN assigned a
         |    ON a.cell = p.cell AND a.vec_id != p.vec_id
         |  JOIN allow w ON w.vec_id = a.vec_id),
         |adc AS (SELECT c.qid, c.cid,
         |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
         |  FROM cand c JOIN paF f ON f.vec_id = c.cid
         |  JOIN qdt dt ON dt.qid = c.qid AND dt.m = f.m AND dt.cent_id = f.code
         |  GROUP BY 1, 2)
         |SELECT qid, rank, cid AS vec_id, adc FROM (
         |  SELECT qid, cid, adc, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc, cid) AS rank FROM adc) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // B130 delete maintenance: the q_embed_ivfpq replay with the %10≡3
    // codes dropped from the candidate set and the deleted query excluded
    // (Pq.deleteFrom — exact deletion, zero repair)
    "q_embed_ivfpq_delete" ->
      s"""WITH $sqlPqCtes,
         |$sqlIvfCtes,
         |qdt AS (SELECT q.vec_id AS qid, q.m, p.cent_id,
         |    floor(sum((q.x - p.c)*(q.x - p.c)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM pex q JOIN pcb p ON p.m = q.m AND p.si = q.si
         |  WHERE q.vec_id < 10 AND q.vec_id % 10 != 3 GROUP BY 1, 2, 3),
         |cand AS (SELECT p.vec_id AS qid, a.vec_id AS cid
         |  FROM probes p JOIN assigned a
         |    ON a.cell = p.cell AND a.vec_id != p.vec_id
         |  WHERE a.vec_id % 10 != 3 AND p.vec_id % 10 != 3),
         |adc AS (SELECT c.qid, c.cid,
         |    floor(sum(dt.d) * 1e6 + 0.5) / 1e6 AS adc
         |  FROM cand c JOIN paF f ON f.vec_id = c.cid
         |  JOIN qdt dt ON dt.qid = c.qid AND dt.m = f.m AND dt.cent_id = f.code
         |  GROUP BY 1, 2)
         |SELECT qid, rank, cid AS vec_id, adc FROM (
         |  SELECT qid, cid, adc, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc, cid) AS rank FROM adc) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // canonical residual IVFADC: the kmeans replay (sqlKmeansCtes — shared
    // with q_embed_kmeans / q_embed_ann_ivf_trained) + round-6 trained
    // centroids + cosine assignment, then the SAME PQ train→encode
    // machinery over RESIDUAL coords (x − trained cell centroid, prefix r),
    // and a per-(query, probed cell) distance table — every stage of
    // Jégou 2011 §IV under one hash
    "q_embed_ivfpq_residual" ->
      s"""WITH $sqlResidualAdcCtes
         |SELECT qid, rank, cid AS vec_id, adc FROM (
         |  SELECT qid, cid, adc, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc, cid) AS rank FROM adc) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // residual IVFADC-R: the full residual replay above + top-20 shortlist
    // window + exact per-coordinate L2 re-rank over RAW vectors (ex is the
    // kmeans replay's raw exploded coords) — Jégou 2011 §IV + §V complete
    "q_embed_ivfpq_residual_rerank" ->
      s"""WITH $sqlResidualAdcCtes,
         |short AS (SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY adc, cid) AS srank FROM adc) t
         |  WHERE srank <= 20),
         |exd AS (SELECT s.qid, s.cid,
         |    floor(sum((q.x - v.x)*(q.x - v.x)) * 1e6 + 0.5) / 1e6 AS d2
         |  FROM short s
         |  JOIN ex q ON q.vec_id = s.qid
         |  JOIN ex v ON v.vec_id = s.cid AND v.i = q.i
         |  GROUP BY 1, 2)
         |SELECT qid, rank, cid AS vec_id, d2 FROM (
         |  SELECT qid, cid, d2, row_number() OVER (
         |    PARTITION BY qid ORDER BY d2, cid) AS rank FROM exd) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // SemDeDup: replay the kmeans CTEs, assign on ROUNDED centroids at
    // round-6 (the vec_best_cell contract), within-cell pairs only —
    // cells over the MaxBucket cap skipped for pair generation (okc),
    // mirroring Ann.semDedup's skew refusal
    "q_dedup_semantic" ->
      s"""WITH $sqlKmeansCtes,
         |cr AS (SELECT cent_id, i, round(c, 6) AS c FROM c2),
         |crn AS (SELECT cent_id, sqrt(sum(c*c)) AS cn FROM cr GROUP BY cent_id),
         |dq AS (SELECT ex.vec_id, cr.cent_id, sum(ex.x * cr.c) AS dp
         |       FROM ex JOIN cr ON cr.i = ex.i GROUP BY 1, 2),
         |sq AS (SELECT dq.vec_id, dq.cent_id, round(dp / (vn.nrm * crn.cn), 6) AS ccos
         |       FROM dq JOIN vn ON vn.vec_id = dq.vec_id
         |         JOIN crn ON crn.cent_id = dq.cent_id),
         |assigned AS (SELECT vec_id, cent_id AS cell FROM (
         |  SELECT vec_id, cent_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS rn FROM sq) t
         |  WHERE rn = 1),
         |okc AS (SELECT cell FROM assigned
         |        GROUP BY cell HAVING count(*) <= ${MaxBucket}),
         |pairs AS (SELECT a.vec_id AS ka, b.vec_id AS kb
         |  FROM assigned a JOIN okc z ON z.cell = a.cell
         |  JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dd AS (SELECT p.ka, p.kb, sum(xa.x * xb.x) AS dp
         |       FROM pairs p JOIN ex xa ON xa.vec_id = p.ka
         |         JOIN ex xb ON xb.vec_id = p.kb AND xb.i = xa.i
         |       GROUP BY 1, 2),
         |dropped AS (SELECT DISTINCT dd.kb AS vec_id
         |  FROM dd JOIN vn va ON va.vec_id = dd.ka
         |    JOIN vn vb ON vb.vec_id = dd.kb
         |  WHERE round(dd.dp / (va.nrm * vb.nrm), 6) >= ${EmbedCfg.cosineConfirm})
         |SELECT a.vec_id, a.cell,
         |  a.vec_id NOT IN (SELECT vec_id FROM dropped) AS keep
         |FROM assigned a ORDER BY a.vec_id""".stripMargin,

    // containment over the discriminative (df-capped) shingle set: the
    // HAVING mirrors the engine's df cap on numerator and denominator both
    "q_dedup_containment" ->
      s"""WITH $sqlShingles,
         |ex AS (SELECT doc_id, u.s AS sh FROM sh, unnest(shingles) u(s)),
         |rare AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= ${MaxBucket}),
         |cex AS (SELECT ex.doc_id, ex.sh FROM ex JOIN rare ON rare.sh = ex.sh),
         |sz AS (SELECT doc_id, count(*) AS n FROM cex GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM cex a JOIN cex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  (i.inter * 1000000) // least(sa.n, sb.n) AS cont_ppm
         |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
         |JOIN sz sb ON sb.doc_id = i.doc_b
         |WHERE (i.inter * 1000000) // least(sa.n, sb.n) >= 900000
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_suffix_prefix" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents WHERE len(string_split(text, ' ')) >= 4),
         |hp AS (SELECT doc_id,
         |  md5(array_to_string(toks[1:4], ' ')) AS head_h,
         |  md5(array_to_string(toks[-4:], ' ')) AS tail_h FROM t),
         |okt AS (SELECT tail_h FROM hp GROUP BY 1 HAVING count(*) <= ${MaxBucket}),
         |okh AS (SELECT head_h FROM hp GROUP BY 1 HAVING count(*) <= ${MaxBucket})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail_h AS boundary_h
         |FROM hp a JOIN okt ON okt.tail_h = a.tail_h
         |JOIN hp b ON b.head_h = a.tail_h AND b.doc_id != a.doc_id
         |JOIN okh ON okh.head_h = b.head_h
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_sample_weighted" ->
      s"""SELECT doc_id, n_chars,
         |  least(1000000, n_chars * 2500) AS keep_ppm,
         |  ${sqlH28("doc_id::VARCHAR || '_ws'")} % 1000000 AS draw
         |FROM documents
         |WHERE ${sqlH28("doc_id::VARCHAR || '_ws'")} % 1000000
         |  < least(1000000, n_chars * 2500)
         |ORDER BY doc_id""".stripMargin,

    // the ES sample's oracle IS the global-sort-and-limit plan the bounded
    // TopKAgg replaces; identical rounded log-keys rank identically
    "q_sample_es" ->
      s"""WITH keyed AS (SELECT doc_id, n_chars,
         |    floor(ln((${sqlH28("doc_id::VARCHAR || '_es'")} + 1) / 268435456.0)
         |          / greatest(n_chars, 1) * 1e9 + 0.5) / 1e9 AS key9
         |  FROM documents)
         |SELECT CAST(row_number() OVER (ORDER BY key9 DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, n_chars, key9
         |FROM keyed ORDER BY key9 DESC, doc_id LIMIT 100""".stripMargin,

    "q_embed_dim_stats" ->
      """SELECT i AS j, count(*) AS n,
        |  sum(q)::BIGINT AS sum_q, sum(q * q)::BIGINT AS ssq,
        |  min(q) AS min_q, max(q) AS max_q
        |FROM (
        |  SELECT i,
        |    CAST(floor((embedding[i+1]::DOUBLE + 1.0) * 1000000 + 0.5) AS BIGINT) AS q
        |  FROM embeddings CROSS JOIN range(64) r(i)) t
        |GROUP BY i ORDER BY j""".stripMargin,

    // the bloom gate is result-transparent: the oracle is the plain
    // delta-vs-history anti-join the gated plan must reproduce exactly
    "q_dedup_bloom_gate" ->
      """SELECT doc_id, sha256(text) AS sha
        |FROM documents
        |WHERE doc_id % 10 = 7
        |  AND sha256(text) NOT IN (
        |    SELECT sha256(text) FROM documents WHERE doc_id % 10 != 7)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash_est" ->
      s"""WITH $sqlShingles,
         |$sqlMinhashPairs,
         |est AS (SELECT p.doc_a, p.doc_b,
         |    sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)::BIGINT AS agree
         |  FROM pairs p JOIN mh ma ON ma.doc_id = p.doc_a
         |  JOIN mh mb ON mb.doc_id = p.doc_b AND mb.i = ma.i
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, agree,
         |  (agree * 1000000) // ${MinHashCfg.numHashes} AS est_ppm
         |FROM est ORDER BY doc_a, doc_b""".stripMargin,

    "q_text_length_clip" ->
      """WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
        |cum AS (SELECT n_chars, c,
        |  sum(c) OVER (ORDER BY n_chars) AS cum FROM h),
        |tot AS (SELECT sum(c)::BIGINT AS n FROM h),
        |bounds AS (SELECT
        |  min(CASE WHEN cum >= (n + 99) // 100 THEN n_chars END) AS lo,
        |  min(CASE WHEN cum >= (99 * n + 99) // 100 THEN n_chars END) AS hi,
        |  max(n) AS n_total
        |  FROM cum CROSS JOIN tot)
        |SELECT b.n_total, b.lo, b.hi,
        |  sum(CASE WHEN cum.n_chars BETWEEN b.lo AND b.hi THEN cum.c ELSE 0 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN cum.n_chars < b.lo THEN cum.c ELSE 0 END)::BIGINT AS n_low,
        |  sum(CASE WHEN cum.n_chars > b.hi THEN cum.c ELSE 0 END)::BIGINT AS n_high
        |FROM cum CROSS JOIN bounds b
        |GROUP BY 1, 2, 3""".stripMargin,

    "q_text_vocab" ->
      """SELECT tok, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |GROUP BY tok HAVING count(*) >= 5
        |ORDER BY cnt DESC, tok LIMIT 100""".stripMargin,

    "q_embed_norm" ->
      """WITH ex AS (
        |  SELECT vec_id, i AS j, embedding[i+1]::DOUBLE AS x
        |  FROM embeddings CROSS JOIN range(64) r(i) WHERE vec_id < 20),
        |vn AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM ex GROUP BY vec_id)
        |SELECT ex.vec_id, ex.j,
        |  floor((ex.x / vn.nrm) * 1e6 + 0.5) / 1e6 AS nval
        |FROM ex JOIN vn ON vn.vec_id = ex.vec_id
        |ORDER BY ex.vec_id, ex.j""".stripMargin,

    "q_embed_ann_ivf_trained" ->
      s"""WITH $sqlKmeansCtes,
         |cr AS (SELECT cent_id, i, round(c, 6) AS c FROM c2),
         |crn AS (SELECT cent_id, sqrt(sum(c*c)) AS cn FROM cr GROUP BY cent_id),
         |dq AS (SELECT ex.vec_id, cr.cent_id, sum(ex.x * cr.c) AS dp
         |       FROM ex JOIN cr ON cr.i = ex.i GROUP BY 1, 2),
         |sq AS (SELECT dq.vec_id, dq.cent_id, round(dp / (vn.nrm * crn.cn), 9) AS ccos
         |       FROM dq JOIN vn ON vn.vec_id = dq.vec_id
         |         JOIN crn ON crn.cent_id = dq.cent_id),
         |rk AS (SELECT vec_id, cent_id, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS arn FROM sq),
         |assigned AS (SELECT vec_id, cent_id AS cell FROM rk WHERE arn = 1),
         |probes AS (SELECT vec_id AS qid, cent_id AS qcell FROM rk
         |           WHERE arn <= ${IvfCfg.nprobe} AND vec_id < 10),
         |outp AS (SELECT p.qid, a.vec_id AS cid FROM probes p
         |         JOIN assigned a ON a.cell = p.qcell AND a.vec_id != p.qid),
         |dd AS (SELECT o.qid, o.cid, sum(eq.x * ec.x) AS dp
         |       FROM outp o JOIN ex eq ON eq.vec_id = o.qid
         |         JOIN ex ec ON ec.vec_id = o.cid AND ec.i = eq.i
         |       GROUP BY 1, 2),
         |sc AS (SELECT dd.qid, dd.cid, round(dd.dp / (nq.nrm * nc.nrm), 6) AS cos_sim
         |       FROM dd JOIN vn nq ON nq.vec_id = dd.qid
         |         JOIN vn nc ON nc.vec_id = dd.cid)
         |SELECT qid, rank, cid, cos_sim FROM (
         |  SELECT qid, cid, cos_sim, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM sc) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // prototypes pruning: the trained-assignment chain (identical CTEs to
    // q_embed_ann_ivf_trained through `asg`), then the per-cell hardness
    // window and the integer keep rule
    "q_train_prototypes" ->
      s"""WITH $sqlKmeansCtes,
         |cr AS (SELECT cent_id, i, round(c, 6) AS c FROM c2),
         |crn AS (SELECT cent_id, sqrt(sum(c*c)) AS cn FROM cr GROUP BY cent_id),
         |dq AS (SELECT ex.vec_id, cr.cent_id, sum(ex.x * cr.c) AS dp
         |       FROM ex JOIN cr ON cr.i = ex.i GROUP BY 1, 2),
         |sq AS (SELECT dq.vec_id, dq.cent_id, round(dp / (vn.nrm * crn.cn), 9) AS ccos
         |       FROM dq JOIN vn ON vn.vec_id = dq.vec_id
         |         JOIN crn ON crn.cent_id = dq.cent_id),
         |asg AS (SELECT vec_id, cent_id AS cell, ccos AS proto_cos FROM (
         |         SELECT vec_id, cent_id, ccos, row_number() OVER (
         |           PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS arn FROM sq) t
         |        WHERE arn = 1),
         |rk AS (SELECT vec_id, cell, proto_cos,
         |         CAST(row_number() OVER (
         |           PARTITION BY cell ORDER BY proto_cos, vec_id) AS INT) AS rank,
         |         count(*) OVER (PARTITION BY cell) AS n_cell
         |       FROM asg)
         |SELECT vec_id, cell, proto_cos, rank, n_cell,
         |  rank <= (n_cell + 1) // 2 AS kept
         |FROM rk ORDER BY cell, rank""".stripMargin,

    // hybrid RRF: the shingle-Jaccard lexical top-5 + the exact-cosine
    // dense top-5 + the integer per-term-floored fusion, one hash
    "q_hybrid_rrf" ->
      s"""WITH $sqlShingles,
         |exr AS (SELECT doc_id, u.s AS shs FROM sh, unnest(shingles) u(s)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM exr GROUP BY doc_id),
         |itr AS (SELECT a.doc_id AS qid, b.doc_id AS cid, count(*) AS inter
         |  FROM exr a JOIN exr b ON a.shs = b.shs AND b.doc_id != a.doc_id
         |  WHERE a.doc_id < 10 GROUP BY 1, 2),
         |lex AS (SELECT itr.qid, itr.cid, CAST(row_number() OVER (PARTITION BY itr.qid
         |    ORDER BY (itr.inter * 1000000 // (sq.sz + sc.sz - itr.inter)) DESC,
         |      itr.cid) AS INT) AS r_lex
         |  FROM itr JOIN sz sq ON sq.doc_id = itr.qid
         |  JOIN sz sc ON sc.doc_id = itr.cid),
         |lex5 AS (SELECT qid, cid, r_lex FROM lex WHERE r_lex <= 5),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |norms AS (
         |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
         |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
         |ddots AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |  CROSS JOIN range(64) r(i)
         |  GROUP BY q.vec_id, c.vec_id),
         |dsc AS (
         |  SELECT qid, cid, round(dp / (nq.nrm * nc.nrm), 6) AS cos_sim
         |  FROM ddots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid),
         |dense5 AS (SELECT qid, cid, r_dense FROM (
         |  SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos_sim DESC, cid) AS INT) AS r_dense FROM dsc) t
         |  WHERE r_dense <= 5),
         |f AS (SELECT coalesce(d.qid, l.qid) AS qid, coalesce(d.cid, l.cid) AS cid,
         |    CAST(coalesce(1000000000 // (60 + d.r_dense), 0)
         |       + coalesce(1000000000 // (60 + l.r_lex), 0) AS BIGINT) AS rrf
         |  FROM dense5 d FULL OUTER JOIN lex5 l
         |    ON l.qid = d.qid AND l.cid = d.cid)
         |SELECT qid, rank, cid, rrf FROM (
         |  SELECT qid, cid, rrf, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY rrf DESC, cid) AS INT) AS rank FROM f) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // prefix-dim shortlist (range(16) dots) + exact re-rank (range(64)
    // dots on shortlist rows only) — both stages under one hash
    "q_embed_prefix_rerank" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |pn AS (SELECT vec_id, sqrt(sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)) AS n
        |  FROM e CROSS JOIN range(16) r(i) GROUP BY vec_id HAVING n > 0),
        |pdots AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
        |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
        |  CROSS JOIN range(16) r(i) GROUP BY 1, 2),
        |psc AS (SELECT qid, cid, round(dp / (nq.n * nc.n), 6) AS pcos
        |  FROM pdots JOIN pn nq ON nq.vec_id = qid JOIN pn nc ON nc.vec_id = cid),
        |sl AS (SELECT qid, cid FROM (SELECT qid, cid, row_number() OVER (
        |    PARTITION BY qid ORDER BY pcos DESC, cid) AS rn FROM psc) t
        |  WHERE rn <= 50),
        |norms AS (SELECT vec_id, sqrt(sum(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)) AS nrm
        |  FROM e CROSS JOIN range(64) r(i) GROUP BY vec_id),
        |dots AS (SELECT s.qid, s.cid,
        |    sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE) AS dp
        |  FROM sl s JOIN e a ON a.vec_id = s.qid JOIN e b ON b.vec_id = s.cid
        |  CROSS JOIN range(64) r(i) GROUP BY 1, 2),
        |scored AS (SELECT qid, cid, round(dp / (nq.nrm * nc.nrm), 6) AS cos_sim
        |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid)
        |SELECT qid, rank, cid, cos_sim FROM (
        |  SELECT qid, cid, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q_embed_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
        |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
        |dots AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
        |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
        |  CROSS JOIN range(64) r(i)
        |  GROUP BY q.vec_id, c.vec_id),
        |scored AS (
        |  SELECT qid, cid, round(dp / (nq.nrm * nc.nrm), 6) AS cos_sim
        |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid)
        |SELECT qid, rank, cid, cos_sim FROM (
        |  SELECT qid, cid, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q_embed_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
        |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
        |dots AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.label AS q_label, c.label AS c_label,
        |    sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
        |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
        |  CROSS JOIN range(64) r(i)
        |  GROUP BY 1, 2, 3, 4),
        |scored AS (
        |  SELECT qid, cid, q_label, c_label, round(dp / (nq.nrm * nc.nrm), 6) AS cos_sim
        |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid),
        |neg AS (SELECT qid, q_label, cid AS hard_neg_id, cos_sim AS hard_neg_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
        |  FROM scored WHERE q_label != c_label) t WHERE rn = 1),
        |pos AS (SELECT qid, cid AS hard_pos_id, cos_sim AS hard_pos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim ASC, cid) AS rn
        |  FROM scored WHERE q_label = c_label) t WHERE rn = 1)
        |SELECT neg.qid, q_label, hard_neg_id, hard_neg_sim, hard_pos_id, hard_pos_sim
        |FROM neg JOIN pos ON neg.qid = pos.qid ORDER BY neg.qid""".stripMargin,

    // SQ8: the quantized dot Σ q_i·c_i is integer-valued and exact in
    // doubles, so the DuckDB parallel SUM cannot reorder it into a
    // different value (the B99 float lesson does not bite); the scalar
    // multiply/divide chain is spelled in the same association as the
    // Spark side.
    "q_embed_sq8_topk" ->
      """WITH e0 AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS scale
        |  FROM embeddings),
        |e AS (SELECT * FROM e0 WHERE scale > 0),
        |norms AS (
        |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
        |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
        |codes AS (SELECT vec_id, scale,
        |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) / scale * 127 + 0.5)) AS qv
        |  FROM e),
        |dots AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, a.scale AS qs, b.scale AS cs,
        |    sum(a.qv[i+1] * b.qv[i+1]) AS qq
        |  FROM codes a JOIN codes b ON a.vec_id < 10 AND b.vec_id != a.vec_id
        |  CROSS JOIN range(64) r(i)
        |  GROUP BY 1, 2, 3, 4),
        |scored AS (
        |  SELECT qid, cid, round(qs * cs * qq / (16129.0 * nq.nrm * nc.nrm), 6) AS sq_sim
        |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid)
        |SELECT qid, rank, cid, sq_sim FROM (
        |  SELECT qid, cid, sq_sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sq_sim DESC, cid) AS INT) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q_embed_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |norms AS (
         |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
         |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
         |pdots AS (
         |  SELECT vec_id, j, sum(embedding[i+1]::DOUBLE *
         |    ((i*73856093 + j*19349663 + i*j*83492791) % 149 % 7 - 3)) AS pd
         |  FROM e CROSS JOIN range(144) rj(j) CROSS JOIN range(64) ri(i)
         |  GROUP BY vec_id, j),
         |buckets AS (
         |  SELECT vec_id, j // 6 AS band,
         |    CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << (j % 6)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM pdots GROUP BY vec_id, j // 6),
         |ok AS (SELECT band, bucket FROM buckets
         |       GROUP BY 1, 2 HAVING count(*) <= ${MaxBucket}),
         |cand AS (SELECT DISTINCT bq.vec_id AS qid, bc.vec_id AS cid
         |  FROM buckets bq JOIN ok z ON z.band = bq.band AND z.bucket = bq.bucket
         |  JOIN buckets bc ON bc.band = bq.band AND bc.bucket = bq.bucket
         |    AND bc.vec_id != bq.vec_id
         |  WHERE bq.vec_id < 10),
         |dots AS (
         |  SELECT cand.qid, cand.cid,
         |    sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
         |  FROM cand JOIN e q ON q.vec_id = cand.qid
         |  JOIN e c ON c.vec_id = cand.cid
         |  CROSS JOIN range(64) r(i)
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT qid, cid, round(dp / (nq.nrm * nc.nrm), 6) AS cos_sim
         |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid)
         |SELECT qid, rank, cid, cos_sim FROM (
         |  SELECT qid, cid, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // k-NN graph: the weak-seed LSH replay (8 bands × 6 bits = 48 planes,
    // same plane formula/prime) + per-src top-5 + two NN-descent rounds
    // (sqlKnnRound: capped reverse lists, middle-vertex self-join, re-rank)
    "q_embed_knn_graph" ->
      s"""WITH $sqlKnnGraphCtes
         |SELECT src AS vec_id, CAST(rn AS INT) AS rank, dst AS nbr_id,
         |  cos AS cos_sim
         |FROM r2g WHERE rn <= $KnnK ORDER BY vec_id, rank""".stripMargin,

    // incremental insertion: the frozen-graph replay over the old corpus
    // (WHERE-filtered builder chain), combined-corpus insert-time
    // blocking, delta search with 1-hop expansion, and both re-ranks
    "q_embed_knn_insert" ->
      s"""WITH ${sqlKnnGraphCtesWhere("WHERE vec_id % 10 <> 7")},
         |gold AS MATERIALIZED (SELECT src, dst, cos FROM r2g WHERE rn <= $KnnK),
         |${sqlKnnInsertStage("i", "", "b.vec_id % 10 = 7", "gold")}
         |SELECT src AS vec_id, CAST(rn AS INT) AS rank, dst AS nbr_id,
         |  cos AS cos_sim
         |FROM iout ORDER BY vec_id, rank""".stripMargin,

    // graph-ANN search: the frozen-graph replay over the corpus
    // (WHERE-filtered builder chain), combined-corpus query-time
    // blocking, 2-hop frozen-neighbor expansion, exact re-rank — the
    // insert oracle minus the reverse half (a query reads, never joins)
    "q_embed_knn_search" ->
      s"""WITH ${sqlKnnGraphCtesWhere("WHERE vec_id >= 10")},
         |gold AS MATERIALIZED (SELECT src, dst, cos FROM r2g WHERE rn <= $KnnK),
         |$sqlKnnSearchWalkCtes,
         |${sqlKnnSearchRank("candv")}""".stripMargin,

    // filtered search: the B120 replay + the allowed-id semi-filter on
    // the candidate pool before the re-rank (walk stays filter-blind)
    "q_embed_knn_search_filtered" ->
      s"""WITH ${sqlKnnGraphCtesWhere("WHERE vec_id >= 10")},
         |gold AS MATERIALIZED (SELECT src, dst, cos FROM r2g WHERE rn <= $KnnK),
         |$sqlKnnSearchWalkCtes,
         |allow AS (SELECT vec_id FROM embeddings WHERE label % 2 = 0),
         |candf AS (SELECT c.src, c.dst FROM candv c
         |  JOIN allow a ON a.vec_id = c.dst),
         |${sqlKnnSearchRank("candf")}""".stripMargin,

    // graph deletion: full-corpus builder chain + tombstone purge +
    // donated-adjacency repair re-rank; untouched lists verbatim
    "q_embed_knn_delete" ->
      s"""WITH $sqlKnnGraphCtes,
         |gold AS MATERIALIZED (SELECT src, dst, cos, rn FROM r2g WHERE rn <= $KnnK),
         |keepg AS (SELECT src, dst, cos, rn FROM gold
         |  WHERE src % 10 <> 3 AND dst % 10 <> 3),
         |aff AS MATERIALIZED (SELECT DISTINCT src FROM gold
         |  WHERE src % 10 <> 3 AND dst % 10 = 3),
         |donate AS (SELECT g1.src, g2.dst FROM gold g1
         |  JOIN gold g2 ON g2.src = g1.dst
         |  WHERE g1.src % 10 <> 3 AND g1.dst % 10 = 3
         |    AND g2.dst % 10 <> 3 AND g2.dst != g1.src),
         |cand AS (SELECT DISTINCT src, dst FROM (
         |  SELECT k.src, k.dst FROM keepg k JOIN aff a ON a.src = k.src
         |  UNION ALL SELECT src, dst FROM donate) u),
         |cdt AS (SELECT c.src, c.dst,
         |    sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE) AS dp
         |  FROM cand c JOIN e a ON a.vec_id = c.src
         |  JOIN e b ON b.vec_id = c.dst
         |  CROSS JOIN range(64) r(i) GROUP BY 1, 2),
         |rep AS (SELECT src, rn, dst, cos FROM (
         |    SELECT d.src, d.dst, round(d.dp / (ns.nrm * nd.nrm), 6) AS cos,
         |      row_number() OVER (PARTITION BY d.src
         |        ORDER BY round(d.dp / (ns.nrm * nd.nrm), 6) DESC, d.dst) AS rn
         |    FROM cdt d JOIN norms ns ON ns.vec_id = d.src
         |    JOIN norms nd ON nd.vec_id = d.dst) t
         |  WHERE rn <= $KnnK),
         |untouched AS (SELECT src, rn, dst, cos FROM keepg
         |  WHERE src NOT IN (SELECT src FROM aff))
         |SELECT src AS vec_id, CAST(rn AS INT) AS rank, dst AS nbr_id,
         |  cos AS cos_sim
         |FROM (SELECT * FROM untouched UNION ALL SELECT * FROM rep) f
         |ORDER BY vec_id, rank""".stripMargin,

    // mutual-kNN semantic clustering: the full graph replay + mutual edge
    // confirmation + the recursive min-reach walk (the q_dedup_clusters
    // component form) under one hash
    "q_embed_knn_clusters" ->
      s"""WITH RECURSIVE $sqlKnnGraphCtes,
         |mutual AS (SELECT a.src, a.dst FROM r2g a JOIN r2g b
         |    ON b.src = a.dst AND b.dst = a.src AND b.rn <= $KnnK
         |  WHERE a.cos >= $KnnClusterTau AND a.rn <= $KnnK),
         |nodes AS (SELECT DISTINCT src AS id FROM mutual),
         |walk(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN mutual e ON e.src = w.r)
         |SELECT min(r) AS cluster_rep, id AS member
         |FROM walk GROUP BY id ORDER BY cluster_rep, member""".stripMargin,

    // B99 PCA: the oracle derives the covariance via the n·d² exploded
    // self-join (DuckDB has no mergeable vector aggregate), mirrors the
    // upper triangle so (j,i) is bit-equal to (i,j), then replays the
    // round-6 power iteration and the (x−μ)·w projection — every rounding
    // site matching Pca.fitPc1/projectPc1 term for term
    "q_embed_pca_power" ->
      s"""WITH $sqlPcaCovCtes,
         |pcamean AS (SELECT pcas.i, floor((pcas.s / pcan.n) * 1e6 + 0.5) / 1e6 AS mu
         |  FROM pcas CROSS JOIN pcan)
         |SELECT x.vec_id,
         |  floor(sum((x.x - m.mu) * pcaw.w) * 1e6 + 0.5) / 1e6 AS pc1
         |FROM pcax x JOIN pcamean m ON m.i = x.i
         |JOIN pcaw ON pcaw.i = x.i
         |GROUP BY x.vec_id ORDER BY vec_id""".stripMargin,

    // B102: the full PC1 replay + Rayleigh λ₁ + rank-one deflation + the
    // second squaring chain, then both projections under one hash
    "q_embed_pca_subspace" ->
      s"""WITH $sqlPcaSubspaceCtes,
         |pcamean AS (SELECT pcas.i, floor((pcas.s / pcan.n) * 1e6 + 0.5) / 1e6 AS mu
         |  FROM pcas CROSS JOIN pcan)
         |SELECT x.vec_id,
         |  floor(sum((x.x - m.mu) * pcaw.w) * 1e6 + 0.5) / 1e6 AS pc1,
         |  floor(sum((x.x - m.mu) * dpcaw.w) * 1e6 + 0.5) / 1e6 AS pc2
         |FROM pcax x JOIN pcamean m ON m.i = x.i
         |JOIN pcaw ON pcaw.i = x.i JOIN dpcaw ON dpcaw.i = x.i
         |GROUP BY x.vec_id ORDER BY vec_id""".stripMargin,

    // B102-k: the covariance replay + three chained deflation stages,
    // then the 4-way projection (mirrors Pca.projectK)
    "q_embed_pca_k" ->
      s"""WITH $sqlPcaKCtes,
         |pcamean AS (SELECT pcas.i, floor((pcas.s / pcan.n) * 1e6 + 0.5) / 1e6 AS mu
         |  FROM pcas CROSS JOIN pcan)
         |SELECT x.vec_id,
         |  floor(sum((x.x - m.mu) * w1.w) * 1e6 + 0.5) / 1e6 AS pc1,
         |  floor(sum((x.x - m.mu) * w2.w) * 1e6 + 0.5) / 1e6 AS pc2,
         |  floor(sum((x.x - m.mu) * w3.w) * 1e6 + 0.5) / 1e6 AS pc3,
         |  floor(sum((x.x - m.mu) * w4.w) * 1e6 + 0.5) / 1e6 AS pc4
         |FROM pcax x JOIN pcamean m ON m.i = x.i
         |JOIN pcaw w1 ON w1.i = x.i JOIN k2pcaw w2 ON w2.i = x.i
         |JOIN k3pcaw w3 ON w3.i = x.i JOIN k4pcaw w4 ON w4.i = x.i
         |GROUP BY x.vec_id ORDER BY vec_id""".stripMargin,

    "q_dedup_embed_cosine" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |norms AS (
         |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
         |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
         |pdots AS (
         |  SELECT vec_id, j, sum(embedding[i+1]::DOUBLE *
         |    ((i*73856093 + j*19349663 + i*j*83492791) % 149 % 7 - 3)) AS pd
         |  FROM e CROSS JOIN range(144) rj(j) CROSS JOIN range(64) ri(i)
         |  GROUP BY vec_id, j),
         |buckets AS (
         |  SELECT vec_id, j // 6 AS band,
         |    CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << (j % 6)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM pdots GROUP BY vec_id, j // 6),
         |ok AS (SELECT band, bucket FROM buckets
         |       GROUP BY 1, 2 HAVING count(*) <= ${MaxBucket}),
         |cand AS (SELECT DISTINCT ba.vec_id AS keep_id, bb.vec_id AS dup_id
         |  FROM buckets ba JOIN ok z ON z.band = ba.band AND z.bucket = ba.bucket
         |  JOIN buckets bb ON bb.band = ba.band AND bb.bucket = ba.bucket
         |    AND ba.vec_id < bb.vec_id),
         |dots AS (
         |  SELECT cand.keep_id, cand.dup_id,
         |    sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE) AS dp
         |  FROM cand JOIN e a ON a.vec_id = cand.keep_id
         |  JOIN e b ON b.vec_id = cand.dup_id
         |  CROSS JOIN range(64) r(i)
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT keep_id, dup_id, round(dp / (na.nrm * nb.nrm), 6) AS cos_sim
         |  FROM dots JOIN norms na ON na.vec_id = keep_id
         |  JOIN norms nb ON nb.vec_id = dup_id)
         |SELECT keep_id, dup_id, cos_sim FROM scored
         |WHERE cos_sim >= 0.45 ORDER BY keep_id, dup_id""".stripMargin,

    // fuzzy join: the full blocked recipe replays — positional segments at
    // integer-division boundaries, the MaxBucket HAVING, the confirm
    "q_join_fuzzy" ->
      s"""WITH k AS (SELECT doc_id AS id, substr(text, 1, 30) AS s
         |  FROM documents WHERE length(text) >= 30),
         |seg AS (SELECT id, s, length(s) AS len, i,
         |    substr(s, (i * length(s)) // 3 + 1,
         |      ((i+1) * length(s)) // 3 - (i * length(s)) // 3) AS seg
         |  FROM k CROSS JOIN range(3) r(i)),
         |ok AS (SELECT i, seg, len FROM seg
         |       GROUP BY 1, 2, 3 HAVING count(*) <= $MaxBucket),
         |bl AS (SELECT sg.id, sg.s, sg.len, sg.i, sg.seg FROM seg sg
         |       JOIN ok ON ok.i = sg.i AND ok.seg = sg.seg AND ok.len = sg.len),
         |cand AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b, a.s AS sa, b.s AS sb
         |  FROM bl a JOIN bl b ON a.i = b.i AND a.seg = b.seg AND a.len = b.len
         |    AND a.id < b.id)
         |SELECT doc_a, doc_b, CAST(levenshtein(sa, sb) AS INT) AS dist
         |FROM cand WHERE levenshtein(sa, sb) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the full hyperplane-LSH pair set restricted to delta-touching pairs
    // — the incremental run must produce exactly this
    "q_embed_incremental" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |norms AS (
         |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
         |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
         |pdots AS (
         |  SELECT vec_id, j, sum(embedding[i+1]::DOUBLE *
         |    ((i*73856093 + j*19349663 + i*j*83492791) % 149 % 7 - 3)) AS pd
         |  FROM e CROSS JOIN range(144) rj(j) CROSS JOIN range(64) ri(i)
         |  GROUP BY vec_id, j),
         |buckets AS (
         |  SELECT vec_id, j // 6 AS band,
         |    CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << (j % 6)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM pdots GROUP BY vec_id, j // 6),
         |ok AS (SELECT band, bucket FROM buckets
         |       GROUP BY 1, 2 HAVING count(*) <= ${MaxBucket}),
         |cand AS (SELECT DISTINCT ba.vec_id AS keep_id, bb.vec_id AS dup_id
         |  FROM buckets ba JOIN ok z ON z.band = ba.band AND z.bucket = ba.bucket
         |  JOIN buckets bb ON bb.band = ba.band AND bb.bucket = ba.bucket
         |    AND ba.vec_id < bb.vec_id
         |  WHERE ba.vec_id % 10 = 7 OR bb.vec_id % 10 = 7),
         |dots AS (
         |  SELECT cand.keep_id, cand.dup_id,
         |    sum(a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE) AS dp
         |  FROM cand JOIN e a ON a.vec_id = cand.keep_id
         |  JOIN e b ON b.vec_id = cand.dup_id
         |  CROSS JOIN range(64) r(i)
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT keep_id, dup_id, round(dp / (na.nrm * nb.nrm), 6) AS cos_sim
         |  FROM dots JOIN norms na ON na.vec_id = keep_id
         |  JOIN norms nb ON nb.vec_id = dup_id)
         |SELECT keep_id, dup_id, cos_sim FROM scored
         |WHERE cos_sim >= 0.45 ORDER BY keep_id, dup_id""".stripMargin,

    "q_text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpe_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS tokens_per_word
        |FROM documents ORDER BY doc_id""".stripMargin,

    // unigram-LM training replay: word-freq pass, substring occurrence
    // fan-out, candidate HAVING, two EM rounds of integer-ppm share
    // redistribution, two-stage prune rank — every DIV truncation and
    // tie-break matching UnigramLm term for term (shared CTE prefix with
    // the Viterbi-apply oracle so the two replays cannot drift)
    // Viterbi apply replay: the shared training chain + the vocab edge
    // table + 5 min-plus doubling rounds (r_k referenced twice each —
    // MATERIALIZED) + the 0→len readout and per-doc rollup
    "q_text_tokens_viterbi" -> {
      def dbl(prev: String, f: String): String =
        s"""$f AS MATERIALIZED (SELECT word, p, q, min(c) AS c FROM (
           |  SELECT word, p, q, c FROM $prev
           |  UNION ALL
           |  SELECT a.word, a.p, b.q, a.c + b.c
           |  FROM $prev a JOIN $prev b ON b.word = a.word AND b.p = a.q) u
           |  GROUP BY 1, 2, 3)""".stripMargin
      s"""WITH $sqlUnigramTrainCtes,
         |edges AS (SELECT o.word, o.pos AS p,
         |    o.pos + length(o.piece) AS q,
         |    CAST((1 + 1000000000000 // w.w) * 64 + 1 AS BIGINT) AS c
         |  FROM occ o JOIN w2 w ON w.piece = o.piece AND w.w >= 1),
         |r0 AS MATERIALIZED (SELECT word, p, q, min(c) AS c FROM edges
         |  GROUP BY 1, 2, 3),
         |${dbl("r0", "r1")},
         |${dbl("r1", "r2")},
         |${dbl("r2", "r3")},
         |${dbl("r3", "r4")},
         |${dbl("r4", "r5")},
         |wt AS (SELECT w.word, CAST(r.c % 64 AS BIGINT) AS n_tokens,
         |    CAST(r.c // 64 AS BIGINT) AS cost
         |  FROM words w JOIN r5 r ON r.word = w.word
         |    AND r.p = 0 AND r.q = length(w.word)),
         |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents)
         |SELECT d.doc_id, CAST(sum(wt.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(wt.cost) AS BIGINT) AS cost
         |FROM dw d JOIN wt ON wt.word = d.word
         |WHERE length(d.word) BETWEEN 1 AND 30
         |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin
    },

    "q_text_tokens_unigram" ->
      s"""WITH $sqlUnigramTrainCtes,
        |ranked AS (SELECT piece, w,
        |    row_number() OVER (ORDER BY w DESC, piece) AS r0 FROM w2),
        |kept AS (SELECT piece, w FROM ranked
        |  WHERE r0 <= 50 OR length(piece) = 1)
        |SELECT CAST(row_number() OVER (ORDER BY w DESC, piece) AS INT) AS rank,
        |  piece, w
        |FROM kept ORDER BY rank""".stripMargin,

    "q_embed_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM (
        |    SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM e) t GROUP BY vec_id),
        |cdots AS (
        |  SELECT v.vec_id, c.vec_id AS cent_id,
        |    sum(v.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
        |  FROM e v JOIN e c ON c.vec_id < ${IvfCfg.numCentroids}
        |  CROSS JOIN range(64) r(i)
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT cd.vec_id, cd.cent_id,
        |    row_number() OVER (PARTITION BY cd.vec_id
        |      ORDER BY round(cd.dp / (nv.nrm * nc.nrm), 9) DESC, cd.cent_id) AS arn
        |  FROM cdots cd
        |  JOIN norms nv ON nv.vec_id = cd.vec_id
        |  JOIN norms nc ON nc.vec_id = cd.cent_id),
        |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE arn = 1),
        |probes AS (SELECT vec_id, cent_id AS cell FROM ranked
        |           WHERE arn <= ${IvfCfg.nprobe} AND vec_id < 10),
        |dots AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    sum(q.embedding[i+1]::DOUBLE * c.embedding[i+1]::DOUBLE) AS dp
        |  FROM e q JOIN probes pq ON pq.vec_id = q.vec_id
        |  JOIN assigned ac ON ac.cell = pq.cell
        |  JOIN e c ON c.vec_id = ac.vec_id AND c.vec_id != q.vec_id
        |  CROSS JOIN range(64) r(i)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, cid, round(dp / (nq.nrm * nc.nrm), 6) AS cos_sim
        |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid)
        |SELECT qid, rank, cid, cos_sim FROM (
        |  SELECT qid, cid, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS INT) AS rank
        |  FROM scored) t
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q_split_hash" ->
      s"""WITH t AS (
         |  SELECT ${sqlH28("CAST(doc_id AS VARCHAR)")} % 100 AS b, n_chars
         |  FROM documents)
         |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM t GROUP BY 1 ORDER BY split""".stripMargin,

    "q_sample_quota" ->
      """SELECT source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  max(doc_id) AS last_doc_id
        |FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 GROUP BY source ORDER BY source""".stripMargin,

    "q_llm_prep" ->
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    round(0.4 * least(1.0, len(string_split(text,' ')) / 50.0)
        |      + 0.3 * (len(list_distinct(string_split(text,' ')))
        |          / CAST(len(string_split(text,' ')) AS DOUBLE))
        |      + 0.3 * (len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to')))
        |          / CAST(len(string_split(text,' ')) AS DOUBLE)), 9) AS quality,
        |    len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to')))
        |      / CAST(len(string_split(text,' ')) AS DOUBLE) AS stop_ratio
        |  FROM documents),
        |kept AS (SELECT * FROM scored WHERE quality >= 0.5 AND stop_ratio >= 0.05),
        |dedup AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |    FROM kept) t WHERE rn = 1)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
        |  floor(sum(round(quality * 1e9)) / 1e9 / count(*) * 1e6 + 0.5) / 1e6 AS avg_quality
        |FROM dedup""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_toks,
        |  floor(sum(len(string_split(text,' '))) / CAST(count(*) AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS avg_toks,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  floor(sum(len(list_distinct(string_split(text,' ')))) /
        |    CAST(sum(len(string_split(text,' '))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS distinct_ratio
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_langid" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to')))
        |      / CAST(len(string_split(text,' ')) AS DOUBLE) AS stop_ratio
        |  FROM documents)
        |SELECT lang, CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'other' END AS pred,
        |  count(*) AS n
        |FROM scored GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin,

    // trained char-trigram LID: train split ppm weights, held-out argmax
    // (score DESC, lang ASC), 'und' for no-vocabulary docs — mirrors
    // LangId.model/predict term for term (char-semantics slicing both
    // engines, multibyte-safe)
    "q_text_langid_model" ->
      """WITH tr AS (SELECT lang, text FROM documents WHERE doc_id % 10 < 8),
        |g AS (SELECT lang, unnest(list_transform(range(len(text) - 2),
        |    i -> text[i+1:i+3])) AS gram FROM tr),
        |cnt AS (SELECT lang, gram, count(*)::BIGINT AS c FROM g GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(c)::BIGINT AS t FROM cnt GROUP BY 1),
        |m AS (SELECT cnt.lang, gram, c * 1000000 // t AS w
        |  FROM cnt JOIN tot USING (lang) WHERE c >= 5),
        |te AS (SELECT doc_id, lang FROM documents WHERE doc_id % 10 >= 8),
        |dg AS (SELECT doc_id, unnest(list_transform(range(len(text) - 2),
        |    i -> text[i+1:i+3])) AS gram
        |  FROM documents WHERE doc_id % 10 >= 8),
        |sc AS (SELECT dg.doc_id, m.lang, sum(m.w)::BIGINT AS score
        |  FROM dg JOIN m USING (gram) GROUP BY 1, 2),
        |pr AS (SELECT doc_id, lang AS pred FROM (
        |    SELECT doc_id, lang, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM sc) t
        |  WHERE rn = 1)
        |SELECT te.lang, coalesce(pr.pred, 'und') AS pred, count(*) AS n
        |FROM te LEFT JOIN pr USING (doc_id)
        |GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  round(0.4 * least(1.0, len(string_split(text,' ')) / 50.0)
        |    + 0.3 * (len(list_distinct(string_split(text,' ')))
        |        / CAST(len(string_split(text,' ')) AS DOUBLE))
        |    + 0.3 * (len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to')))
        |        / CAST(len(string_split(text,' ')) AS DOUBLE)), 9) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(string_split(text,' '), t -> ${sqlH28("t")})),
         |    (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |          FROM toks GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tok,
        |    round(tf * ln((SELECT n_docs FROM nd)::DOUBLE / df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (tok)),
        |top AS (
        |  SELECT doc_id, tok AS top_term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
        |  FROM scored)
        |SELECT doc_id, top_term, tfidf FROM top
        |WHERE rn = 1 AND doc_id < 100 ORDER BY doc_id""".stripMargin,

    // same decimal literals, same written-order term sum as the Spark side
    "q_text_bm25" ->
      """WITH dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents),
        |qt AS (SELECT doc_id, tok FROM tok
        |       WHERE tok IN ('spark', 'vector', 'stream')),
        |tf AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf_spark,
        |    CAST(sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf_vector,
        |    CAST(sum(CASE WHEN tok = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS tf_stream
        |  FROM qt GROUP BY doc_id),
        |dfs AS (SELECT
        |    CAST(sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS df_spark,
        |    CAST(sum(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS df_vector,
        |    CAST(sum(CASE WHEN tok = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS df_stream
        |  FROM (SELECT DISTINCT doc_id, tok FROM qt) t),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl)
        |SELECT doc_id, tf_spark, tf_vector, tf_stream,
        |  round(
        |    ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1)
        |      * (tf_spark * 2.2 / (tf_spark + 1.2 * (0.25
        |          + 0.75 * (CAST(dl AS DOUBLE) * n_docs / tot_dl))))
        |  + ln((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1)
        |      * (tf_vector * 2.2 / (tf_vector + 1.2 * (0.25
        |          + 0.75 * (CAST(dl AS DOUBLE) * n_docs / tot_dl))))
        |  + ln((n_docs - df_stream + 0.5) / (df_stream + 0.5) + 1)
        |      * (tf_stream * 2.2 / (tf_stream + 1.2 * (0.25
        |          + 0.75 * (CAST(dl AS DOUBLE) * n_docs / tot_dl)))), 6) AS score
        |FROM tf JOIN dl USING (doc_id) CROSS JOIN dfs CROSS JOIN st
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_text_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |win AS (SELECT doc_id, i AS start,
        |    md5(array_to_string(tk[i+1 : least(i + 16, len(tk))], ' ')) AS h
        |  FROM t, unnest(generate_series(0, len(tk) - 1, 16)) g(i)),
        |freq AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM win GROUP BY h)
        |SELECT doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN ndocs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  CAST(floor(sum(CASE WHEN ndocs >= 3 THEN 1 ELSE 0 END) * 1000000
        |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS boiler_ppm
        |FROM win JOIN freq USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // integer micro-nat quantization BEFORE the per-doc sum — see the
    // Spark-side comment: float sums over unordered groups are not
    // engine-stable, integer sums are
    "q_text_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bi AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
        |       FROM t, unnest(generate_series(1, len(tk) - 1)) g(i)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS vocab FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents) s),
        |ll AS (SELECT bi.doc_id,
        |    CAST(floor(ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.vocab))
        |      * 1000000 + 0.5) AS BIGINT) AS ll_micro
        |  FROM bi JOIN c12 USING (w1, w2) JOIN c1 ON c1.w1 = bi.w1 CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(ll_micro) AS BIGINT) AS sum_ll_micro,
        |  CAST(floor(-CAST(sum(ll_micro) AS DOUBLE) / count(*)) AS BIGINT) AS nll_micro
        |FROM ll GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  sha256(text) AS digest, source
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "q_multimodal_features" ->
      """WITH b AS (
        |  SELECT doc_id, unnest(list_transform(range(1, octet_length(encode(text)) + 1),
        |    i -> ord(substr(text, CAST(i AS INT), 1)))) AS o
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_bytes,
        |  round(sum(o) / CAST(count(*) AS DOUBLE), 6) AS mean_byte,
        |  CAST(max(o) AS INT) AS max_byte,
        |  (SELECT list_reduce(
        |     list_prepend(1::BIGINT,
        |       list_transform(range(1, octet_length(encode(d.text)) + 1),
        |         i -> ord(substr(d.text, CAST(i AS INT), 1))::BIGINT)),
        |     (a, x) -> (a * 31 + x) % 1000000007)
        |   FROM documents d WHERE d.doc_id = b.doc_id) AS checksum
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_multimodal_frames" ->
      """WITH d AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 100),
        |f AS (SELECT doc_id, text, unnest(range(0, (n + 63) // 64)) AS fi FROM d),
        |s AS (SELECT doc_id, fi, substr(text, CAST(fi * 64 + 1 AS INT), 64) AS fr
        |      FROM f WHERE fi % 4 = 0)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(length(fr) AS INT) AS n_bytes,
        |  CAST(list_sum(list_transform(range(1, length(fr) + 1),
        |    i -> ord(substr(fr, CAST(i AS INT), 1)))) AS BIGINT) AS byte_sum
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    // keyframes: every-frame sums + per-payload lag + the integer
    // relative-change test |sum - prev| * 20 > prev
    "q_video_keyframes" ->
      """WITH d AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 100),
        |f AS (SELECT doc_id, text, unnest(range(0, (n + 63) // 64)) AS fi FROM d),
        |s AS (SELECT doc_id, fi, substr(text, CAST(fi * 64 + 1 AS INT), 64) AS fr
        |      FROM f),
        |sums AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(length(fr) AS INT) AS n_bytes,
        |  CAST(list_sum(list_transform(range(1, length(fr) + 1),
        |    i -> ord(substr(fr, CAST(i AS INT), 1)))) AS BIGINT) AS byte_sum
        |  FROM s),
        |lagd AS (SELECT doc_id, frame_idx, n_bytes, byte_sum,
        |  lag(byte_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        |  FROM sums)
        |SELECT doc_id, frame_idx, n_bytes, byte_sum
        |FROM lagd
        |WHERE prev IS NULL OR abs(byte_sum - prev) * 20 > prev
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "q_multimodal_resize" ->
      """WITH d AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 100),
        |p AS (SELECT doc_id, text, n, unnest(range(0, n)) AS i FROM d),
        |b AS (SELECT doc_id, CAST((i * 16) // n AS INT) AS px,
        |        ord(substr(text, CAST(i + 1 AS INT), 1)) AS o
        |      FROM p)
        |SELECT doc_id, px, round(sum(o) / CAST(count(*) AS DOUBLE), 6) AS v,
        |  CAST(count(*) AS BIGINT) AS n_in
        |FROM b GROUP BY doc_id, px ORDER BY doc_id, px""".stripMargin)
}
