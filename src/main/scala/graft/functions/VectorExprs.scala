package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression,
  ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType,
  DoubleType, IntegerType, LongType}
import org.apache.spark.util.sketch

/** Native Catalyst expression for the embedding dot product (SURVEY.md B51).
  *
  * The higher-order-function formulation
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` is CodegenFallback — every
  * element bounces through interpreted `Expression.eval`, which dominated
  * the similarity-search bench queries. This expression stays inside
  * whole-stage codegen (`doGenCode` emits a tight primitive loop) and falls
  * back to an equally tight JVM loop in interpreted mode. Summation order is
  * the same left fold as the HOF version, so results are bit-identical.
  *
  * Registered as SQL function `vec_dot` via [[SparkSessionExtensions]] (see
  * [[graft.Sessions]]) — the public extension point. Inputs are coerced to
  * `array<double>` by the registered builder (`ImplicitCastInputTypes` needs
  * the private[sql] AbstractDataType, so coercion lives in the builder
  * instead). Children are assumed element-non-null (embedding vectors).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // freshName, not fixed names: nullSafeCodeGen only adds a brace scope
    // when the child is NULLABLE — two instances of this expression over
    // non-null inputs in one codegen method would otherwise redeclare the
    // locals, fail janino, and silently drop the stage to interpreted mode
    val n = ctx.freshName("vecDotN")
    val s = ctx.freshName("vecDotS")
    val i = ctx.freshName("vecDotI")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Native exact squared-L2 distance Σ(a_i − b_i)² (SURVEY.md B79's re-rank
  * stage): the kernel form of the explode + join + `sum((a−b)*(a−b))`
  * re-aggregation [[graft.operators.Pq]] used relationally — identical
  * left-to-right summation order over ascending coordinates (the exploded
  * rows of one vector arrive gi-ascending inside a partition, so the hash
  * aggregate accumulated in exactly this order), hence bit-identical
  * doubles, with the whole corpus-side explode ⋈ shortlist ⋈ query-coord
  * join pipeline collapsed to one projection. Same min-length convention as
  * [[VecDot]]. */
case class VecL2(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.freshName("vecL2N")
    val s = ctx.freshName("vecL2S")
    val d = ctx.freshName("vecL2D")
    val i = ctx.freshName("vecL2I")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2 =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization code assignment in ONE codegen'd pass (SURVEY.md
  * B79): against a FOLDABLE `[m][cent][si]` codebook matrix, returns an
  * `array<long>` of length `m` where `codes[s] = argmin_c round6(Σ_si
  * (x[s·subDim+si] − cb[s][c][si])²)`, smallest centroid id winning ties
  * (strict `<` scanning c ascending).
  *
  * This is the kernel form of the relational `assign` that
  * `graft.operators.PqSpec` keeps as its reference, an
  * explode ⋈ broadcast-codebook → two shuffled aggregations pipeline: the
  * relational form shuffles n·m rows per pass (and at local scale pays ~6
  * sequential stages per encode); this expression is a zero-shuffle
  * projection. Bit-compatibility with the relational form, term by term:
  * the per-(vec, m, cent) distance partial sums arrived si-ascending in the
  * hash aggregate (exploded rows of one vector are partition-adjacent and
  * gi-ascending), which is exactly this kernel's inner loop order; the
  * rounding is Pq.round6's `floor(d·1e6 + 0.5)/1e6` verbatim; and
  * `min(struct(d, cent_id))` = smallest d then smallest id = first-wins
  * strict `<` ascending. PqSpec pins kernel codes ≡ its relational
  * `assign` on the fixture corpus.
  *
  * Coordinates past the vector's length contribute no term (the relational
  * inner join simply had no row there); element type is nullable to match
  * the old `transform(array_sort(collect_list(...)))` pivot's schema.
  *
  * INPUT CONTRACT (r17 ADVICE): vectors must carry at least m·subDim
  * coordinates — every [[graft.operators.Pq]] call site encodes the
  * training corpus's own fixed-dim embeddings, and PqConfig.dim ≡
  * m·subDim by construction. For a vector SHORTER than that, a subspace
  * entirely past its length scores distance 0 for every centroid and
  * emits code 0, where the relational pivot emitted NO entry (a shorter
  * codes array) — a documented, asserted-at-the-operator divergence, not
  * a silent one. */
case class VecPqCodes(vec: Expression, codebook: Expression)
    extends BinaryExpression {
  require(codebook.foldable, "vec_pq_codes: codebook matrix must be foldable")

  override def left: Expression = vec
  override def right: Expression = codebook
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "vec_pq_codes"

  /** [m][cent][si], extracted once at plan time from the foldable child. */
  @transient lazy val cb: Array[Array[Array[Double]]] = {
    val arr = codebook.eval(null).asInstanceOf[ArrayData]
    require(arr != null && arr.numElements() > 0,
      "vec_pq_codes: codebook matrix must be non-empty")
    Array.tabulate(arr.numElements()) { m =>
      val sub = arr.getArray(m)
      Array.tabulate(sub.numElements())(c => sub.getArray(c).toDoubleArray())
    }
  }

  override protected def nullSafeEval(v: Any, unused: Any): Any = {
    val e = v.asInstanceOf[ArrayData]
    val len = e.numElements()
    val out = new Array[Long](cb.length)
    var m = 0
    while (m < cb.length) {
      val subDim = if (cb(m).length > 0) cb(m)(0).length else 0
      val base = m * subDim
      var best = Double.PositiveInfinity
      var bestC = 0L
      var c = 0
      while (c < cb(m).length) {
        val p = cb(m)(c)
        var s = 0.0
        var si = 0
        while (si < p.length && base + si < len) {
          val d = e.getDouble(base + si) - p(si); s += d * d; si += 1
        }
        val dr = math.floor(s * 1e6 + 0.5) / 1e6
        if (dr < best) { best = dr; bestC = c.toLong }
        c += 1
      }
      out(m) = bestC
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("pqCodebook", cb, "double[][][]")
    val out = ctx.freshName("pqOut")
    val len = ctx.freshName("pqLen")
    val m = ctx.freshName("pqM")
    val subDim = ctx.freshName("pqSubDim")
    val base = ctx.freshName("pqBase")
    val best = ctx.freshName("pqBest")
    val bestC = ctx.freshName("pqBestC")
    val c = ctx.freshName("pqC")
    val p = ctx.freshName("pqP")
    val s = ctx.freshName("pqS")
    val si = ctx.freshName("pqSi")
    val d = ctx.freshName("pqD")
    val dr = ctx.freshName("pqDr")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"""
         |int $len = $v.numElements();
         |long[] $out = new long[$mat.length];
         |for (int $m = 0; $m < $mat.length; $m++) {
         |  int $subDim = $mat[$m].length > 0 ? $mat[$m][0].length : 0;
         |  int $base = $m * $subDim;
         |  double $best = java.lang.Double.POSITIVE_INFINITY;
         |  long $bestC = 0L;
         |  for (int $c = 0; $c < $mat[$m].length; $c++) {
         |    double[] $p = $mat[$m][$c];
         |    double $s = 0.0;
         |    for (int $si = 0; $si < $p.length && $base + $si < $len; $si++) {
         |      double $d = $v.getDouble($base + $si) - $p[$si];
         |      $s += $d * $d;
         |    }
         |    double $dr = java.lang.Math.floor($s * 1e6 + 0.5) / 1e6;
         |    if ($dr < $best) { $best = $dr; $bestC = (long) $c; }
         |  }
         |  $out[$m] = $bestC;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecPqCodes =
    copy(vec = newLeft, codebook = newRight)
}

/** All-bands hyperplane-LSH bucket computation in ONE codegen'd pass
  * (SURVEY.md B50/B51): for a `bands × bits` family of deterministic integer
  * hyperplanes, returns an `array<long>` of length `bands` where
  * `bucket[b] = Σ_j (dot(vec, plane(b·bits+j)) > 0) << j`.
  *
  * The plane coefficients are the engine/oracle-shared formula
  * `plane(j)(i) = ((i·73856093 + j·19349663 + i·j·83492791) % prime % 7) − 3`
  * — `prime` MUST be ≥ the plane count `bands·bits`, because any polynomial
  * in `j` taken directly mod 7 is 7-periodic in `j` (only 7 distinct planes;
  * the r2 defect), and a prime BELOW the plane count makes plane(j) ==
  * plane(j + prime) (the r3 defect: 101 < 144 left bands 17–23 re-using
  * bands 0–7's planes). The constructor enforces this fail-loud.
  *
  * Why one expression instead of `bands·bits` separate `vec_dot` calls: the
  * per-plane form evaluates `bands·bits` independent expression trees per
  * row (each re-reading the vector and walking a boxed literal-array
  * operand); this kernel reads the vector once per plane from a primitive
  * `double[][]` baked in as a codegen reference object — same left-fold
  * summation order element-by-element, so the SIGNS (all the bucket uses)
  * are bit-identical to the `vec_dot(e, plane_j)` formulation and to the
  * oracle's per-plane SQL sum.
  */
case class VecLshBuckets(child: Expression, bands: Int, bits: Int,
                         prime: Int, dim: Int) extends UnaryExpression {
  require(prime >= bands * bits,
    s"prime ($prime) must be >= plane count (${bands * bits}): a smaller " +
      "modulus duplicates hyperplanes and silently guts LSH amplification")
  require(bits >= 1 && bits <= 63, s"bits ($bits) must fit a long bucket")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_lsh_buckets"

  @transient private lazy val planes: Array[Array[Double]] =
    VecLshBuckets.planeMatrix(bands * bits, dim, prime)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val p = planes(b * bits + j)
        val n = math.min(p.length, v.numElements())
        var s = 0.0
        var i = 0
        while (i < n) { s += v.getDouble(i) * p(i); i += 1 }
        if (s > 0.0) bucket |= (1L << j)
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    // freshName for every local — see VecDot.doGenCode for why fixed names
    // break codegen when two instances share a method scope
    val out = ctx.freshName("lshOut")
    val len = ctx.freshName("lshLen")
    val b = ctx.freshName("lshB")
    val bucket = ctx.freshName("lshBucket")
    val j = ctx.freshName("lshJ")
    val p = ctx.freshName("lshP")
    val n = ctx.freshName("lshN")
    val s = ctx.freshName("lshS")
    val i = ctx.freshName("lshI")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |long[] $out = new long[$bands];
         |int $len = $c.numElements();
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $bucket = 0L;
         |  for (int $j = 0; $j < $bits; $j++) {
         |    double[] $p = $mat[$b * $bits + $j];
         |    int $n = java.lang.Math.min($p.length, $len);
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += $c.getDouble($i) * $p[$i];
         |    }
         |    if ($s > 0.0) $bucket |= (1L << $j);
         |  }
         |  $out[$b] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): VecLshBuckets =
    copy(child = newChild)
}

object VecLshBuckets {
  /** The shared plane formula — mirrored verbatim in the oracle SQL. */
  def coef(j: Int, i: Int, prime: Int): Double =
    ((i.toLong * 73856093L + j.toLong * 19349663L +
      i.toLong * j * 83492791L) % prime % 7 - 3).toDouble

  def planeMatrix(nPlanes: Int, dim: Int, prime: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim)((j, i) => coef(j, i, prime))
}

/** Argmax-cosine cell assignment against a FOLDABLE centroid matrix
  * (SURVEY.md B51 — the k-means/IVF assignment kernel): returns the INDEX
  * (long) of the centroid with the highest `round(cos, 6)`, first index
  * winning ties — with centroids sorted by id that is exactly the
  * `max_by(cent_id, struct(round(cos,6), -cent_id))` / SQL
  * `row_number() OVER (ORDER BY cos DESC, cent_id)` = 1 semantics the
  * oracles replay.
  *
  * Why an expression: the centroid matrix is driver-side MODEL state; as a
  * `typedLit` operand every element read unboxes through GenericArrayData
  * (measured ~2.5x on the kmeans bench rows), and as a broadcast-join side
  * the argmax needs a groupBy that shuffles every vector per iteration.
  * Baking the matrix in as a primitive `double[][]` reference object keeps
  * the assignment a zero-shuffle projection at primitive-read speed.
  *
  * Rounding uses BigDecimal HALF_UP — bit-compatible with Spark's
  * `round(col, 6)` (RoundBase) and therefore with the DuckDB oracle that
  * already hash-matches it. */
case class VecBestCell(vec: Expression, cents: Expression, scale: Int = 6)
    extends BinaryExpression {
  require(cents.foldable, "vec_best_cell: centroid matrix must be foldable")
  require(scale >= 0, s"vec_best_cell: bad rounding scale $scale")

  override def left: Expression = vec
  override def right: Expression = cents
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_best_cell"

  @transient lazy val (planes: Array[Array[Double]], norms: Array[Double]) = {
    val arr = cents.eval(null).asInstanceOf[ArrayData]
    require(arr != null && arr.numElements() > 0,
      "vec_best_cell: centroid matrix must be non-empty")
    val m = Array.tabulate(arr.numElements()) { i =>
      arr.getArray(i).toDoubleArray()
    }
    (m, m.map(p => math.sqrt(p.map(x => x * x).sum)))
  }

  /** Spark `round(x, scale)` semantics (RoundBase: BigDecimal HALF_UP, with
    * the same NaN/Infinity passthrough — BigDecimal.valueOf would THROW on
    * a zero-norm vector's NaN cosine). A NaN cosine (zero-norm vector OR
    * zero-norm centroid) ranks GREATEST, first NaN winning ties — exactly
    * Spark's `max_by(cent_id, struct(round(cos,6), -cent_id))` ordering
    * (NaN sorts above every double) and [[graft.operators.Pq.probesOf]]'s
    * driver-side ranking (r17 ADVICE: the first kernel form skipped NaN,
    * silently diverging from the relational semantics on zero-norm input;
    * the shipped fixtures have no zero-norm rows, so results are
    * unchanged — VectorExprsSpec pins the edge). `scale` defaults to 6
    * (the kmeans/IVF convention); the IVFADC coarse assignment passes 9
    * (the q_embed_ann_ivf_trained round-9 contract). */
  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  override protected def nullSafeEval(v: Any, unused: Any): Any = {
    val e = v.asInstanceOf[ArrayData]
    var nrm2 = 0.0
    var i = 0
    while (i < e.numElements()) { val x = e.getDouble(i); nrm2 += x * x; i += 1 }
    val nrm = math.sqrt(nrm2)
    var best = Double.NegativeInfinity
    var bestIdx = 0L
    var c = 0
    while (c < planes.length) {
      val p = planes(c)
      val n = math.min(p.length, e.numElements())
      var s = 0.0
      var j = 0
      while (j < n) { s += e.getDouble(j) * p(j); j += 1 }
      val cos = round6(s / (nrm * norms(c)))
      // NaN ranks greatest (Spark max/desc ordering); first-wins = min id
      if (cos > best ||
          (java.lang.Double.isNaN(cos) && !java.lang.Double.isNaN(best))) {
        best = cos; bestIdx = c.toLong
      }
      c += 1
    }
    bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("cellPlanes", planes, "double[][]")
    val nms = ctx.addReferenceObj("cellNorms", norms, "double[]")
    val nrm2 = ctx.freshName("nrm2")
    val nrm = ctx.freshName("nrm")
    val len = ctx.freshName("len")
    val best = ctx.freshName("best")
    val bestIdx = ctx.freshName("bestIdx")
    val c = ctx.freshName("c")
    val p = ctx.freshName("p")
    val n = ctx.freshName("n")
    val s = ctx.freshName("s")
    val j = ctx.freshName("j")
    val cos = ctx.freshName("cos")
    val i = ctx.freshName("i")
    val x = ctx.freshName("x")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"""
         |int $len = $v.numElements();
         |double $nrm2 = 0.0;
         |for (int $i = 0; $i < $len; $i++) {
         |  double $x = $v.getDouble($i); $nrm2 += $x * $x;
         |}
         |double $nrm = java.lang.Math.sqrt($nrm2);
         |double $best = java.lang.Double.NEGATIVE_INFINITY;
         |long $bestIdx = 0L;
         |for (int $c = 0; $c < $mat.length; $c++) {
         |  double[] $p = $mat[$c];
         |  int $n = java.lang.Math.min($p.length, $len);
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $s += $v.getDouble($j) * $p[$j];
         |  }
         |  double $cos = $s / ($nrm * $nms[$c]);
         |  if (!java.lang.Double.isNaN($cos) && !java.lang.Double.isInfinite($cos)) {
         |    $cos = java.math.BigDecimal.valueOf($cos)
         |      .setScale($scale, java.math.RoundingMode.HALF_UP).doubleValue();
         |  }
         |  if ($cos > $best ||
         |      (java.lang.Double.isNaN($cos) && !java.lang.Double.isNaN($best))) {
         |    $best = $cos; $bestIdx = (long) $c;
         |  }
         |}
         |${ev.value} = $bestIdx;
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecBestCell =
    copy(vec = newLeft, cents = newRight)
}

/** Codegen'd bloom-filter membership probe (SURVEY.md B58 — the semi-join
  * reduction's hot path): `bloom_might_contain(key, sketchBytes)` where
  * `sketchBytes` is a foldable binary literal holding the serialized
  * `org.apache.spark.util.sketch.BloomFilter`.
  *
  * Why an expression and not `udf(k => bf.mightContainLong(k))`: the probe
  * runs once per FACT row — by construction the full-scan side the
  * prefilter exists to cheapen — and a Scala UDF boxes every key and breaks
  * the whole-stage-codegen span around the scan. Here the deserialized
  * sketch rides along as a codegen reference object (same mechanism as
  * [[VecBestCell]]'s centroid matrix) and the generated code is a direct
  * `mightContainLong` call on an unboxed long.
  *
  * The sketch is a constructor PARAMETER, not a child Literal: the builder
  * folds the binary literal away at resolution time. A ~1.2 MB literal left
  * in the tree hex-prints into every plan string (explain, SQL-tab UI,
  * event logs — measured 468 KB of explain for one probe); as a parameter
  * it still java-serializes to executors with the expression but renders as
  * an elided placeholder. Deserialized once per expression instance, never
  * per row. No false negatives (prefilter + join ≡ join) — the guarantee
  * BloomJoinSpec pins.
  */
case class BloomMightContain(key: Expression, sketchBytes: Array[Byte])
    extends UnaryExpression {
  require(sketchBytes != null && sketchBytes.nonEmpty,
    "bloom_might_contain: empty sketch payload")

  override def child: Expression = key
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  // keep the megabyte payload out of every plan/tree rendering
  override def flatArguments: Iterator[Any] =
    Iterator(key, s"sketch[${sketchBytes.length}B]")
  override def stringArgs: Iterator[Any] = flatArguments

  @transient private lazy val filter: sketch.BloomFilter =
    sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(sketchBytes))

  // case-class equality on Array[Byte] is reference-based — two probes
  // built from equal sketches would never semanticEquals, defeating
  // common-subexpression elimination (each instance would then probe its
  // own deserialized copy); compare contents like Literal does
  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContain =>
      key == b.key && java.util.Arrays.equals(sketchBytes, b.sketchBytes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * key.hashCode + java.util.Arrays.hashCode(sketchBytes)

  override protected def nullSafeEval(k: Any): Any =
    filter.mightContainLong(k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // BloomFilterImpl is java-Serializable, so the DESERIALIZED sketch is
    // the reference object — executors don't re-parse the bytes per codegen
    // instance.
    val bf = ctx.addReferenceObj("bloomFilter", filter,
      classOf[sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, k =>
      s"${ev.value} = $bf.mightContainLong($k);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(key = newChild)
}

object VectorExprs {
  private val toVec: Expression => Expression = {
    case e if e.dataType == ArrayType(DoubleType, containsNull = false) => e
    case e => Cast(e, ArrayType(DoubleType))
  }

  /** Coerce a centroid-matrix operand to array<array<double>> (an integer
    * literal matrix would otherwise ClassCastException at plane init). */
  private val toMat: Expression => Expression = {
    case e if e.dataType == ArrayType(ArrayType(DoubleType, false), false) => e
    case e => Cast(e, ArrayType(ArrayType(DoubleType)))
  }

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** Coerce a 3-D codebook operand to array<array<array<double>>>. */
  private val toMat3: Expression => Expression = {
    case e if e.dataType ==
      ArrayType(ArrayType(ArrayType(DoubleType, false), false), false) => e
    case e => Cast(e, ArrayType(ArrayType(ArrayType(DoubleType))))
  }

  /** Inject the vector functions into a session being built. */
  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(toVec(children.head), toVec(children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_lsh_buckets"),
      new ExpressionInfo(classOf[VecLshBuckets].getName, "vec_lsh_buckets"),
      (children: Seq[Expression]) => VecLshBuckets(toVec(children.head),
        intLit(children(1), "bands"), intLit(children(2), "bits"),
        intLit(children(3), "prime"), intLit(children(4), "dim"))))
    ext.injectFunction((
      new FunctionIdentifier("vec_best_cell"),
      new ExpressionInfo(classOf[VecBestCell].getName, "vec_best_cell"),
      (children: Seq[Expression]) => VecBestCell(toVec(children.head),
        toMat(children(1)),
        if (children.length > 2) intLit(children(2), "vec_best_cell: scale")
        else 6)))
    ext.injectFunction((
      new FunctionIdentifier("vec_l2"),
      new ExpressionInfo(classOf[VecL2].getName, "vec_l2"),
      (children: Seq[Expression]) => VecL2(toVec(children.head), toVec(children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_pq_codes"),
      new ExpressionInfo(classOf[VecPqCodes].getName, "vec_pq_codes"),
      (children: Seq[Expression]) => VecPqCodes(toVec(children.head),
        toMat3(children(1)))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new IllegalArgumentException(
            s"bloom_might_contain expects (key, sketch), got ${children.length} argument(s)")
        BloomMightContain(
        children.head.dataType match {
          case LongType => children.head
          case _ => Cast(children.head, LongType)
        },
        children(1) match {
          case l @ Literal(_, BinaryType) => l.value.asInstanceOf[Array[Byte]]
          case other => throw new IllegalArgumentException(
            "bloom_might_contain: sketch operand must be a binary literal, " +
              s"got $other")
        })
      }))
  }
}
