package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed PCA, first principal component by power iteration
  * (SURVEY.md §2 B99).
  *
  * The scale-defining choice is WHERE the O(d²) work happens: the corpus is
  * touched exactly ONCE by a single partial+final aggregate whose buffer is
  * the d(d+1)/2 + d + 1 sufficient statistics of the covariance matrix
  * (count, per-dim sums, upper-triangular raw second moments) — the map side
  * pre-reduces every partition to one 2 145-double buffer (d = 64), so the
  * shuffle carries `numPartitions × 17 KB` regardless of corpus size, and
  * the only collect is that one O(d²) row (same budget class as the k-means
  * / PQ model collects, see the VERDICT collect-site audit). Everything
  * after — covariance assembly, power iteration, eigenvalue — is O(d²)
  * DRIVER arithmetic on the collected statistics; the projection pass back
  * over the corpus is a per-row broadcast-literal `vec_dot`, zero shuffle.
  *
  * The naive alternative (explode to (vec_id, i, x), self-join on vec_id,
  * groupBy (i, j)) shuffles n·d² rows — a 4 096× blow-up of the corpus at
  * d = 64 (SCALE.md's "PCA covariance at 10x" section measured it against
  * this one-pass shape, r13); the oracle
  * SQL deliberately replays THAT form because DuckDB has no mergeable
  * vector aggregate, which makes the oracle an independent derivation
  * rather than a re-execution.
  *
  * Cross-engine float discipline (the repo's round-6 convention): every
  * aggregate that a distributed sum could reorder is rounded tie-safe
  * (`floor(x·1e6 + 0.5)/1e6`) BEFORE it feeds downstream arithmetic — the
  * raw sums, each covariance entry, each matvec component, each norm, each
  * normalized eigenvector component. Both engines then run identical scalar
  * expression trees on identical round-6 inputs, so the replay is exact.
  * Magnitudes are kept O(1) by building the COVARIANCE (moments divided by
  * n) rather than the scatter matrix, so a 0.5e-6 quantum is ~6 orders
  * above double noise at every rounding site.
  *
  * The eigensolver is NORMALIZED MATRIX SQUARING, not linear power
  * iteration: k squarings of the (driver-resident, d×d) covariance equal
  * 2^k power steps in log depth, so convergence is effectively
  * EIGENGAP-FREE — near-isotropic embedding corpora keep λ₂/λ₁ close to 1
  * (this fixture: ≈ 0.95, where 100 linear power steps still read
  * cos ≈ 0.82 against the converged direction; 8 squarings ≡ 256 steps
  * read ≥ 0.9999 at every fixture density). The direction is read off as
  * the squared matrix's largest-norm COLUMN (argmax on round-6 norms,
  * index tie-break) — deterministic, no seed, no sign ambiguity, and no
  * start vector: the textbook H·w0 application with dyadic w0 = 0.125
  * manufactures exact .5-quantum rounding ties at probability 1/8 per
  * component, which DuckDB's parallel aggregation then flips run-to-run
  * (see fitPc1's comment for the measured incident). `squarings` is the
  * replay-bounded convergence lever, the same role buildK plays for
  * NN-descent (see [[Ann.knnGraph]]); PcaSpec measures the curve before
  * the catalog pins it. λ₁ is recovered by one Rayleigh quotient against
  * the original covariance.
  */
object Pca {

  /** Fitted first-PC model: corpus size, round-6 per-dim means, round-6
    * unit(ish) principal direction, and the final iterate's ‖Gw‖ — the
    * power-iteration eigenvalue estimate of the covariance matrix. */
  final case class Pc1Model(
      n: Long, mu: Array[Double], w: Array[Double], eigenvalue: Double) {
    /** Driver-side μ·w (left fold), the constant the projection subtracts:
      * (x − μ)·w = x·w − μ·w. */
    def muDotW: Double = {
      var acc = 0.0
      var i = 0
      while (i < mu.length) { acc += mu(i) * w(i); i += 1 }
      acc
    }
  }

  /** Tie-safe 6-dp rounding, the scalar mirror of QUtil.round6Exact. */
  private[graft] def round6(x: Double): Double =
    math.floor(x * 1e6 + 0.5) / 1e6

  /** One-pass covariance sufficient statistics. Buffer layout:
    * [0] = count, [1..d] = Σxᵢ, then Σxᵢxⱼ for i ≤ j row-major. */
  private class SuffStats(dim: Int)(implicit bEnc: Encoder[Array[Double]],
      oEnc: Encoder[Seq[Double]])
    extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    private val len = 1 + dim + dim * (dim + 1) / 2
    def zero: Array[Double] = new Array[Double](len)
    def reduce(b: Array[Double], a: Seq[Double]): Array[Double] = {
      val x = a.toArray
      require(x.length == dim, s"vector of dim ${x.length}, expected $dim")
      b(0) += 1.0
      var i = 0
      var t = 1 + dim
      while (i < dim) {
        b(1 + i) += x(i)
        var j = i
        while (j < dim) { b(t) += x(i) * x(j); j += 1; t += 1 }
        i += 1
      }
      b
    }
    def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0
      while (i < len) { x(i) += y(i); i += 1 }
      x
    }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] = bEnc
    def outputEncoder: Encoder[Seq[Double]] = oEnc
  }

  /** round-6 matrix product H·H (both engines: round-6 entries of the
    * 64-term sums). */
  private def squareR6(h: Array[Array[Double]]): Array[Array[Double]] = {
    val d = h.length
    Array.tabulate(d, d) { (i, j) =>
      var acc = 0.0
      var k = 0
      while (k < d) { acc += h(i)(k) * h(k)(j); k += 1 }
      round6(acc)
    }
  }

  private def maxAbs(h: Array[Array[Double]]): Double =
    h.iterator.flatMap(_.iterator).map(math.abs).max

  /** The one-pass statistics collect: [count, Σxᵢ…, upper-tri Σxᵢxⱼ…]. */
  private def collectStats(vecs: DataFrame, dim: Int): Seq[Double] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val stats = udaf(new SuffStats(dim))
    vecs.agg(stats(col("e")).as("st")).head().getSeq[Double](0)
  }

  /** round-6 covariance from the collected statistics — the SAME scalar
    * expression tree the oracle uses: Sij/n − (si/n)(sj/n), re-rounded. */
  private def covarianceOf(st: Seq[Double], dim: Int): Array[Array[Double]] = {
    val n = st(0)
    val s = Array.tabulate(dim)(i => round6(st(1 + i)))
    val cov = Array.ofDim[Double](dim, dim)
    var t = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val sij = round6(st(t))
        val c = round6(sij / n - (s(i) / n) * (s(j) / n))
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1
        t += 1
      }
      i += 1
    }
    cov
  }

  /** Dominant eigendirection of the PSD matrix `src` by `squarings`
    * rounds of normalized log-depth squaring: h ← round6((h·h)/maxabs),
    * i.e. src^(2^squarings) up to scale — 2^k power-method steps in k
    * rounds, so the convergence ratio (λ₂/λ₁)^(2^k) is driven to 0
    * quadratically and the eigengap (≈ 0.95–0.998 on these near-isotropic
    * embedding covariances, where LINEAR power iteration still reads
    * cos ≈ 0.82 after 100 steps) stops mattering.
    *
    * The direction is extracted as the squared matrix's largest-norm
    * COLUMN (H ≈ λ·vvᵀ after squaring, so every non-degenerate column is
    * ∝ v; the largest has the best signal-to-rounding ratio).
    * Deliberately NOT the textbook "apply to a start vector": u = H·w0
    * with dyadic w0 = round6(1/√64) = 0.125 puts u·1e6 EXACTLY on a .5
    * rounding tie with probability 1/8 per component (6-dp entries × an
    * exact eighth), and a true tie is decided by summation-order ulps —
    * DuckDB's parallel aggregation then flips it RUN TO RUN (measured:
    * 109/500 projections flapping between identical oracle invocations).
    * Column norms live on the 12-dp product grid where a .5e-6 tie is
    * measure-zero, and the argmax compares round-6 values with an index
    * tie-break, so both engines select identically. */
  private def dominantOf(src: Array[Array[Double]],
      squarings: Int): Array[Double] = {
    val dim = src.length
    val m0 = maxAbs(src)
    require(m0 > 0, "degenerate matrix: zero after rounding")
    var h = src.map(_.map(x => round6(x / m0)))
    var k = 0
    while (k < squarings) {
      val p = squareR6(h)
      val mp = maxAbs(p)
      require(mp > 0, s"squaring $k collapsed below the round-6 quantum")
      h = p.map(_.map(x => round6(x / mp)))
      k += 1
    }
    val colNorm = Array.tabulate(dim) { j =>
      var acc = 0.0
      var r = 0
      while (r < dim) { acc += h(r)(j) * h(r)(j); r += 1 }
      round6(acc)
    }
    var best = 0
    var bj = 1
    while (bj < dim) { if (colNorm(bj) > colNorm(best)) best = bj; bj += 1 }
    val u = Array.tabulate(dim)(r => h(r)(best))
    var ss = 0.0
    var r = 0
    while (r < dim) { ss += u(r) * u(r); r += 1 }
    val un = round6(math.sqrt(ss))
    require(un > 0, "selected column collapsed below the round-6 quantum")
    u.map(x => round6(x / un))
  }

  /** Rayleigh quotient wᵀ(Cw) against the ORIGINAL covariance — recovers
    * the eigenvalue the squaring renormalized away (round-6 matvec
    * components, round-6 result, both mirrored in the oracle). */
  private def rayleigh(cov: Array[Array[Double]], w: Array[Double]): Double = {
    val dim = cov.length
    val gv = Array.tabulate(dim) { rr =>
      var acc = 0.0
      var c = 0
      while (c < dim) { acc += cov(rr)(c) * w(c); c += 1 }
      round6(acc)
    }
    var lam = 0.0
    var q = 0
    while (q < dim) { lam += w(q) * gv(q); q += 1 }
    round6(lam)
  }

  /** Fit the first principal component of `vecs` (columns: vec_id,
    * e array<double> of length `dim`): one corpus pass for the covariance
    * sufficient statistics, then [[dominantOf]] on the driver. */
  def fitPc1(vecs: DataFrame, dim: Int, squarings: Int): Pc1Model = {
    require(squarings >= 1, "at least one squaring round")
    val st = collectStats(vecs, dim)
    val n = st(0)
    require(n > 0, "PCA over an empty corpus")
    val cov = covarianceOf(st, dim)
    val w = dominantOf(cov, squarings)
    Pc1Model(n.toLong,
      Array.tabulate(dim)(i => round6(round6(st(1 + i)) / n)), w,
      rayleigh(cov, w))
  }

  /** Project every vector onto the fitted direction: round-6 (x − μ)·w,
    * computed as vec_dot(x, w) − μ·w — a per-row codegen map over broadcast
    * literals, zero shuffle at any corpus size. */
  def projectPc1(vecs: DataFrame, model: Pc1Model): DataFrame =
    vecs.select(col("vec_id"),
      (floor((call_function("vec_dot", col("e"), lit(model.w)) -
        lit(model.muDotW)) * 1e6 + 0.5) / 1e6).as("pc1"))

  /** Two-component PCA subspace (B102): w₂ by DEFLATION — the rank-one
    * update C₂ = round6(C − λ₁·w₁w₁ᵀ) removes the found component (O(d²)
    * driver arithmetic, replayable term-for-term), then the SAME squaring
    * solver finds C₂'s dominant direction. λ₂ is w₂'s Rayleigh quotient
    * against the ORIGINAL covariance, so λ₁ ≥ λ₂ and the pair reads as a
    * variance decomposition; w₁ ⊥ w₂ holds to the rounding floor (the
    * deflated matrix retains a residual λ₁·sin²θ component from the
    * round-6 w₁ — PcaSpec measures |w₁·w₂|). */
  final case class SubspaceModel(n: Long, mu: Array[Double],
      w1: Array[Double], w2: Array[Double],
      lambda1: Double, lambda2: Double) {
    private def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def muDotW1: Double = dot(mu, w1)
    def muDotW2: Double = dot(mu, w2)
  }

  /** One corpus pass (the same statistics collect as [[fitPc1]]), then
    * both components on the driver. */
  def fitSubspace(vecs: DataFrame, dim: Int, squarings: Int): SubspaceModel = {
    require(squarings >= 1, "at least one squaring round")
    val st = collectStats(vecs, dim)
    val n = st(0)
    require(n > 0, "PCA over an empty corpus")
    val cov = covarianceOf(st, dim)
    val w1 = dominantOf(cov, squarings)
    val l1 = rayleigh(cov, w1)
    val c2 = Array.tabulate(dim, dim) { (i, j) =>
      round6(cov(i)(j) - l1 * w1(i) * w1(j))
    }
    val w2 = dominantOf(c2, squarings)
    SubspaceModel(n.toLong,
      Array.tabulate(dim)(i => round6(round6(st(1 + i)) / n)),
      w1, w2, l1, rayleigh(cov, w2))
  }

  /** Project every vector into the 2-component subspace: round-6 (x − μ)·wₖ
    * per component — still one zero-shuffle broadcast-literal map. */
  def projectSubspace(vecs: DataFrame, m: SubspaceModel): DataFrame =
    vecs.select(col("vec_id"),
      (floor((call_function("vec_dot", col("e"), lit(m.w1)) -
        lit(m.muDotW1)) * 1e6 + 0.5) / 1e6).as("pc1"),
      (floor((call_function("vec_dot", col("e"), lit(m.w2)) -
        lit(m.muDotW2)) * 1e6 + 0.5) / 1e6).as("pc2"))

  /** k-component PCA (r14 verdict #9 — the B102 deflation loop
    * generalized): component j is the dominant direction of the j-th
    * deflated matrix c_j, where c_1 = cov and
    * c_{j+1} = round6(c_j − λ_j^{defl}·w_j w_jᵀ) with λ_j^{defl} the
    * Rayleigh quotient against the CURRENT matrix c_j (for j = 1 that IS
    * the original covariance, so fitK(k = 2) reproduces [[fitSubspace]]
    * exactly — PcaSpec pins the equality). REPORTED eigenvalues are
    * Rayleigh quotients against the ORIGINAL covariance (the B102
    * convention), so `lambdas` reads as a variance decomposition:
    * λ₁ ≥ λ₂ ≥ … holds in exact arithmetic and to the rounding floor
    * here; pairwise |wᵢ·wⱼ| holds to the same floor (each deflation
    * retains a residual λ·sin²θ component from round-6 directions —
    * PcaSpec measures both). Still ONE corpus pass: the k-fold work is
    * O(k·d²) driver arithmetic on the same sufficient statistics. */
  final case class KModel(n: Long, mu: Array[Double],
      ws: IndexedSeq[Array[Double]], lambdas: IndexedSeq[Double]) {
    def muDotW(j: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < mu.length) { acc += mu(i) * ws(j)(i); i += 1 }
      acc
    }
  }

  def fitK(vecs: DataFrame, dim: Int, squarings: Int, k: Int): KModel = {
    require(squarings >= 1, "at least one squaring round")
    require(k >= 1 && k <= dim, s"k ($k) must be in [1, $dim]")
    val st = collectStats(vecs, dim)
    val n = st(0)
    require(n > 0, "PCA over an empty corpus")
    val cov = covarianceOf(st, dim)
    var c = cov
    val ws = IndexedSeq.newBuilder[Array[Double]]
    val ls = IndexedSeq.newBuilder[Double]
    for (_ <- 1 to k) {
      val w = dominantOf(c, squarings)
      ws += w
      ls += rayleigh(cov, w)
      val ld = rayleigh(c, w)
      val cPrev = c
      c = Array.tabulate(dim, dim) { (i, j) =>
        round6(cPrev(i)(j) - ld * w(i) * w(j))
      }
    }
    KModel(n.toLong,
      Array.tabulate(dim)(i => round6(round6(st(1 + i)) / n)),
      ws.result(), ls.result())
  }

  /** Project into the k-component subspace: round-6 (x − μ)·wⱼ per
    * component as columns pc1..pck — one zero-shuffle broadcast-literal
    * map regardless of k. */
  def projectK(vecs: DataFrame, m: KModel): DataFrame = {
    val cols = col("vec_id") +: m.ws.indices.map(j =>
      (floor((call_function("vec_dot", col("e"), lit(m.ws(j))) -
        lit(m.muDotW(j))) * 1e6 + 0.5) / 1e6).as(s"pc${j + 1}"))
    vecs.select(cols: _*)
  }
}
