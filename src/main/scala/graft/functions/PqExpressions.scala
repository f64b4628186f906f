package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType}

/** `pq_encode(v)` — product-quantization encoder: split an `array<double>`
  * vector into `m` contiguous subvectors of `dsub` dims each and emit, per
  * subvector, the index of its nearest (squared-L2) centroid in that
  * subspace's `ksub`-entry codebook. One codegen loop per row; the flat
  * `m × ksub × dsub` codebook rides along as a referenced plan object
  * (driver-resident metadata, the same residence class as the IVF coarse
  * codebook literals in [[graft.operators.Similarity]]).
  *
  * This is the storage-side half of IVF-PQ (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
  * faiss `IVFPQ` recipe with `by_residual=false`): at 100 TB the corpus is
  * stored as `m` small codes + one norm per vector instead of `dim`
  * floats — a 100 TB float corpus becomes ~3 TB of codes (m=8, dim=64) —
  * and probes score codes through a lookup table without touching the
  * vectors (see `Similarity.ivfPqSearch`).
  *
  * Subquantizer assignment is squared-L2 (NOT the cosine the coarse
  * quantizer uses): PQ minimizes RECONSTRUCTION error of the subvector,
  * for which L2 is the right objective — a zero subvector is routine and
  * has no cosine direction, but it L2-assigns cleanly to the nearest
  * centroid. Ties break toward the lower code (strict `<`), matching the
  * family's deterministic-tiebreak convention.
  *
  * Null semantics (family convention, same as [[VecInt8Codes]]): input
  * must be `containsNull=false` (wrap in `vec_clean` first — the type
  * check enforces it); a vector whose length is not `m × dsub` (ragged)
  * yields NULL rather than a silently misaligned encoding.
  */
case class PqEncode(child: Expression, m: Int, ksub: Int,
    codebook: Seq[Double]) extends UnaryExpression {

  require(m > 0 && ksub > 0 && ksub <= 256,
    s"pq_encode needs m > 0, 0 < ksub <= 256 (codes are stored as one " +
      s"byte per subspace — the faiss production layout); got m=$m ksub=$ksub")
  require(codebook.nonEmpty && codebook.length % (m * ksub) == 0,
    s"pq_encode codebook length ${codebook.length} is not a multiple of " +
      s"m*ksub = ${m * ksub} — expected a flat m × ksub × dsub array")

  /** Subvector width implied by the codebook. */
  val dsub: Int = codebook.length / (m * ksub)

  @transient private lazy val cb: Array[Double] = codebook.toArray

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, false) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case ArrayType(DoubleType, true) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "pq_encode requires containsNull=false input — wrap the column " +
            "in vec_clean(...) first")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode requires array<double>, got ${other.simpleString}")
    }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (xs.numElements() != m * dsub) return null
    val codes = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        var d = 0.0
        val base = (j * ksub + c) * dsub
        var i = 0
        while (i < dsub) {
          val diff = xs.getDouble(j * dsub + i) - cb(base + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best.toByte
      j += 1
    }
    codes
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val base = ctx.freshName("base")
      s"""
         |if ($a.numElements() != ${m * dsub}) {
         |  ${ev.isNull} = true;
         |} else {
         |  byte[] $codes = new byte[$m];
         |  for (int $j = 0; $j < $m; $j++) {
         |    int $best = 0;
         |    double $bestD = Double.POSITIVE_INFINITY;
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      double $d = 0.0;
         |      int $base = ($j * $ksub + $c) * $dsub;
         |      for (int $i = 0; $i < $dsub; $i++) {
         |        double $diff = $a.getDouble($j * $dsub + $i) - $cbRef[$base + $i];
         |        $d += $diff * $diff;
         |      }
         |      if ($d < $bestD) { $bestD = $d; $best = $c; }
         |    }
         |    $codes[$j] = (byte) $best;
         |  }
         |  ${ev.value} = $codes;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  override def prettyName: String = "pq_encode"
}

object PqEncode {
  def info: ExpressionInfo =
    new ExpressionInfo(classOf[PqEncode].getName, "pq_encode")
}

/** `pq_encode_res(v, cell)` — [[PqEncode]]'s RESIDUAL form (the faiss
  * `by_residual=true` default): encode `v − C[cell]` instead of `v`,
  * where `C` is the flat `cells × dim` coarse-centroid array held by the
  * expression and `cell` is the row's 0-based coarse assignment index.
  * Residuals concentrate around the origin with far smaller spread than
  * raw vectors, so the same m × ksub budget quantizes them with less
  * error — the standard fix for ADC recall decay on hard
  * (weakly-clustered) corpora.
  *
  * One codegen loop: subtract into a scratch subvector on the fly inside
  * the same argmin as [[PqEncode]] (no materialized residual array).
  * Null semantics: ragged `v` (length ≠ m·dsub or ≠ the coarse dim) or an
  * out-of-range `cell` yield NULL; input must be `containsNull=false`
  * (vec_clean) like the whole family.
  */
case class PqEncodeResidual(vec: Expression, cell: Expression,
    coarse: Seq[Double], m: Int, ksub: Int, codebook: Seq[Double])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(m > 0 && ksub > 0 && ksub <= 256,
    s"pq_encode_res needs m > 0, 0 < ksub <= 256 (byte codes); got m=$m ksub=$ksub")
  require(codebook.nonEmpty && codebook.length % (m * ksub) == 0,
    s"pq_encode_res codebook length ${codebook.length} is not a multiple " +
      s"of m*ksub = ${m * ksub}")
  val dsub: Int = codebook.length / (m * ksub)
  require(coarse.nonEmpty && coarse.length % (m * dsub) == 0,
    s"pq_encode_res coarse length ${coarse.length} is not a multiple of " +
      s"dim = ${m * dsub}")
  /** Number of coarse cells implied by the centroid array. */
  val cells: Int = coarse.length / (m * dsub)

  @transient private lazy val cb: Array[Double] = codebook.toArray
  @transient private lazy val cc: Array[Double] = coarse.toArray

  override def left: Expression = vec
  override def right: Expression = cell

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, cell.dataType) match {
      case (ArrayType(DoubleType, false), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(DoubleType, true), _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "pq_encode_res requires containsNull=false input — wrap the " +
            "column in vec_clean(...) first")
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode_res requires (array<double>, int), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ci = b.asInstanceOf[Int]
    val dim = m * dsub
    if (xs.numElements() != dim || ci < 0 || ci >= cells) return null
    val off0 = ci * dim
    val codes = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        var d = 0.0
        val base = (j * ksub + c) * dsub
        var i = 0
        while (i < dsub) {
          val diff = (xs.getDouble(j * dsub + i) - cc(off0 + j * dsub + i)) -
            cb(base + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best.toByte
      j += 1
    }
    codes
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cbRef = ctx.addReferenceObj("pqResCodebook", cb, "double[]")
      val ccRef = ctx.addReferenceObj("pqResCoarse", cc, "double[]")
      val codes = ctx.freshName("codes")
      val off0 = ctx.freshName("off0")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val base = ctx.freshName("base")
      s"""
         |if ($a.numElements() != ${m * dsub} || $b < 0 || $b >= $cells) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $off0 = $b * ${m * dsub};
         |  byte[] $codes = new byte[$m];
         |  for (int $j = 0; $j < $m; $j++) {
         |    int $best = 0;
         |    double $bestD = Double.POSITIVE_INFINITY;
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      double $d = 0.0;
         |      int $base = ($j * $ksub + $c) * $dsub;
         |      for (int $i = 0; $i < $dsub; $i++) {
         |        double $diff = ($a.getDouble($j * $dsub + $i)
         |          - $ccRef[$off0 + $j * $dsub + $i]) - $cbRef[$base + $i];
         |        $d += $diff * $diff;
         |      }
         |      if ($d < $bestD) { $bestD = $d; $best = $c; }
         |    }
         |    $codes[$j] = (byte) $best;
         |  }
         |  ${ev.value} = $codes;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeResidual =
    copy(vec = newLeft, cell = newRight)

  override def prettyName: String = "pq_encode_res"
}

/** `pq_adc(codes)` — asymmetric-distance-computation scorer over byte
  * codes: `sum_j lut[j · ksub + (codes[j] & 0xFF)]`, where `lut` is the
  * probe's flat `m × ksub` lookup table of subspace dot products,
  * computed once per probe on the driver and held as a referenced plan
  * object. One codegen loop per candidate row — the search-side half of
  * IVF-PQ: zero vector bytes, zero shuffle, and (unlike an
  * `element_at`-per-subspace formulation) one expression node regardless
  * of `m`, so the candidate scan stays compact at production `m`/`ksub`.
  *
  * Sum order is ascending `j` — the same left fold as the former
  * per-subspace `element_at` chain, so ADC doubles are bit-identical
  * across the representation change. NULL codes null the score (standard
  * unary propagation); a codes value whose length ≠ `m` yields NULL
  * rather than a misaligned sum.
  */
case class PqAdc(child: Expression, m: Int, ksub: Int, lut: Seq[Double])
  extends UnaryExpression {

  require(m > 0 && ksub > 0 && ksub <= 256,
    s"pq_adc needs m > 0, 0 < ksub <= 256; got m=$m ksub=$ksub")
  require(lut.length == m * ksub,
    s"pq_adc lut length ${lut.length} != m*ksub = ${m * ksub}")

  @transient private lazy val lt: Array[Double] = lut.toArray

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc requires binary codes, got ${other.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val b = a.asInstanceOf[Array[Byte]]
    if (b.length != m) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = b(j) & 0xFF
      if (c >= ksub) throw PqAdc.codeRangeError(c, ksub)
      s += lt(j * ksub + c)
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val lutRef = ctx.addReferenceObj("pqAdcLut", lt, "double[]")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val helper = "graft.functions.PqAdc"
      // a code >= ksub means the codes frame was produced by a DIFFERENT
      // quantizer than the serving model (the pairing the residual guard
      // covers for the coarse array, extended to the PQ codebook) — fail
      // loudly, never a raw AIOOBE from generated code
      s"""
         |if ($a.length != $m) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    int $c = $a[$j] & 0xFF;
         |    if ($c >= $ksub) { throw $helper.codeRangeError($c, $ksub); }
         |    $s += $lutRef[$j * $ksub + $c];
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)

  override def prettyName: String = "pq_adc"
}

object PqAdc {
  /** Shared by eval and generated code (codegen calls it by name). */
  def codeRangeError(code: Int, ksub: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"pq_adc: code $code >= ksub $ksub — the codes frame was encoded by " +
        "a DIFFERENT quantizer than the serving model; re-encode or load " +
        "the matching model")
}

/** `coarse_argmax(v, nrm)` — 0-based index of the cosine-nearest coarse
  * centroid, as ONE codegen loop over a flat referenced `cells × dim`
  * centroid array (plus the cells' precomputed sqrt-norms).
  *
  * Replaces the literal-array argmax (`array_position` of `array_max`
  * over `sims`) where `sims` was `cells` × `vec_dot(v, <64-literal
  * CreateArray>)` expression trees. That shape was measured as the
  * board's single hottest per-row cost (r22): Catalyst inlines the
  * argmax tree into EVERY consumer (list_id, the residual encoder's cell
  * argument), whole-stage codegen then materializes each literal
  * centroid as a fresh boxed GenericArrayData per dot PER ROW — the
  * residual encode stage ran ~2 ms/row of pure allocation/boxing CPU
  * (thread dumps + debug codegen: ~64 GenericArrayData constructions per
  * row), 10× the non-residual path. One reference-object loop has zero
  * per-row allocation and is a single expression node however many cells
  * the codebook holds.
  *
  * Bit-identical semantics to the replaced tree: per cell,
  * `sim = leftfold(v[i]·C[c][i]) / (sqrt(nrm) · sqrtNorm[c])` (the same
  * fold order as [[graft.functions.DotProduct]], the same driver-side
  * `math.sqrt(c_nrm)` constant), strict `>` keeps the FIRST maximum —
  * exactly `array_position`'s first-match rule on the c_idx-ordered sims
  * array. Ragged `v` (length ≠ dim) yields NULL like the vec_clean'd
  * family convention; input must be containsNull=false (vec_clean). A
  * NaN similarity throws, naming the cell ([[CoarseArgmax.nanSimilarity]]).
  */
case class CoarseArgmax(vec: Expression, nrm: Expression,
    centroids: Seq[Double], sqrtNorms: Seq[Double])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(sqrtNorms.nonEmpty && centroids.nonEmpty &&
    centroids.length % sqrtNorms.length == 0,
    s"coarse_argmax: centroid array length ${centroids.length} is not a " +
      s"multiple of the ${sqrtNorms.length} cells")
  val cells: Int = sqrtNorms.length
  val dim: Int = centroids.length / cells

  @transient private lazy val cc: Array[Double] = centroids.toArray
  @transient private lazy val sn: Array[Double] = sqrtNorms.toArray

  override def left: Expression = vec
  override def right: Expression = nrm

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(DoubleType, false), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(DoubleType, true), _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "coarse_argmax requires containsNull=false input — wrap the " +
            "column in vec_clean(...) first")
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"coarse_argmax requires (array<double>, double), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (xs.numElements() != dim) return null
    val sqrtNrm = java.lang.Math.sqrt(b.asInstanceOf[Double])
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < cells) {
      var dp = 0.0
      var i = 0
      while (i < dim) { dp += xs.getDouble(i) * cc(c * dim + i); i += 1 }
      val sim = dp / (sqrtNrm * sn(c))
      if (java.lang.Double.isNaN(sim)) throw CoarseArgmax.nanSimilarity(prettyName, c)
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ccRef = ctx.addReferenceObj("coarseArgmaxCents", cc, "double[]")
      val snRef = ctx.addReferenceObj("coarseArgmaxSqrtNorms", sn, "double[]")
      val sqrtNrm = ctx.freshName("sqrtNrm")
      val best = ctx.freshName("best")
      val bestSim = ctx.freshName("bestSim")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val dp = ctx.freshName("dp")
      val sim = ctx.freshName("sim")
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sqrtNrm = java.lang.Math.sqrt($b);
         |  int $best = 0;
         |  double $bestSim = Double.NEGATIVE_INFINITY;
         |  for (int $c = 0; $c < $cells; $c++) {
         |    double $dp = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      $dp += $a.getDouble($i) * $ccRef[$c * $dim + $i];
         |    }
         |    double $sim = $dp / ($sqrtNrm * $snRef[$c]);
         |    if (Double.isNaN($sim)) {
         |      throw graft.functions.CoarseArgmax.nanSimilarity("$prettyName", $c);
         |    }
         |    if ($sim > $bestSim) { $bestSim = $sim; $best = $c; }
         |  }
         |  ${ev.value} = $best;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CoarseArgmax =
    copy(vec = newLeft, nrm = newRight)

  override def prettyName: String = "coarse_argmax"
}

object CoarseArgmax {
  /** A NaN similarity has no place in the cell order: strict `>` would
    * skip it and assign the row to another cell silently, where the
    * replaced `array_max` tree ranked NaN above every value. It arises
    * only from a zero-norm cell or vector, or a non-finite component,
    * which the callers drop beforehand, so fail loudly naming the cell.
    * Shared by eval and generated code (codegen calls it by name).
    */
  def nanSimilarity(name: String, cell: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$name: the similarity to coarse cell $cell is NaN — a zero-norm " +
        "or non-finite cell or input vector reached the assignment; drop " +
        "zero-norm cells and zero or non-finite vectors first")
}

/** `coarse_resid_sq(v, nrm)` — squared norm of the residual against the
  * cosine-nearest coarse centroid (the [[CoarseArgmax]] assignment),
  * clamped at 0: `max(nrm − 2·<v, C[best]> + ‖C[best]‖², 0)`. One loop,
  * zero per-row allocation — replaces coarseFitStats' dots-array +
  * element_at formulation, whose `dots` CreateArray (cells × literal-
  * centroid vec_dots) was re-inlined and re-evaluated per element_at
  * reference (same measured pathology as [[CoarseArgmax]]'s docstring).
  * Arithmetic, fold order, first-max tiebreak, and the 0-clamp replicate
  * the replaced expressions exactly; a NaN similarity throws, as in
  * [[CoarseArgmax]].
  */
case class CoarseResidSq(vec: Expression, nrm: Expression,
    centroids: Seq[Double], norms: Seq[Double])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(norms.nonEmpty && centroids.nonEmpty &&
    centroids.length % norms.length == 0,
    s"coarse_resid_sq: centroid array length ${centroids.length} is not a " +
      s"multiple of the ${norms.length} cells")
  val cells: Int = norms.length
  val dim: Int = centroids.length / cells

  @transient private lazy val cc: Array[Double] = centroids.toArray
  @transient private lazy val cn: Array[Double] = norms.toArray
  @transient private lazy val sn: Array[Double] = norms.map(math.sqrt).toArray

  override def left: Expression = vec
  override def right: Expression = nrm

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(DoubleType, false), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(DoubleType, true), _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "coarse_resid_sq requires containsNull=false input — wrap the " +
            "column in vec_clean(...) first")
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"coarse_resid_sq requires (array<double>, double), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (xs.numElements() != dim) return null
    val nrmV = b.asInstanceOf[Double]
    val sqrtNrm = java.lang.Math.sqrt(nrmV)
    var best = 0
    var bestSim = Double.NegativeInfinity
    var bestDp = 0.0
    var c = 0
    while (c < cells) {
      var dp = 0.0
      var i = 0
      while (i < dim) { dp += xs.getDouble(i) * cc(c * dim + i); i += 1 }
      val sim = dp / (sqrtNrm * sn(c))
      if (java.lang.Double.isNaN(sim)) throw CoarseArgmax.nanSimilarity(prettyName, c)
      if (sim > bestSim) { bestSim = sim; best = c; bestDp = dp }
      c += 1
    }
    val r = nrmV - 2.0 * bestDp + cn(best)
    if (r < 0.0) 0.0 else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ccRef = ctx.addReferenceObj("coarseResidCents", cc, "double[]")
      val cnRef = ctx.addReferenceObj("coarseResidNorms", cn, "double[]")
      val snRef = ctx.addReferenceObj("coarseResidSqrtNorms", sn, "double[]")
      val sqrtNrm = ctx.freshName("sqrtNrm")
      val best = ctx.freshName("best")
      val bestSim = ctx.freshName("bestSim")
      val bestDp = ctx.freshName("bestDp")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val dp = ctx.freshName("dp")
      val sim = ctx.freshName("sim")
      val r = ctx.freshName("r")
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sqrtNrm = java.lang.Math.sqrt($b);
         |  int $best = 0;
         |  double $bestSim = Double.NEGATIVE_INFINITY;
         |  double $bestDp = 0.0;
         |  for (int $c = 0; $c < $cells; $c++) {
         |    double $dp = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      $dp += $a.getDouble($i) * $ccRef[$c * $dim + $i];
         |    }
         |    double $sim = $dp / ($sqrtNrm * $snRef[$c]);
         |    if (Double.isNaN($sim)) {
         |      throw graft.functions.CoarseArgmax.nanSimilarity("$prettyName", $c);
         |    }
         |    if ($sim > $bestSim) { $bestSim = $sim; $best = $c; $bestDp = $dp; }
         |  }
         |  double $r = $b - 2.0 * $bestDp + $cnRef[$best];
         |  ${ev.value} = ($r < 0.0) ? 0.0 : $r;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CoarseResidSq =
    copy(vec = newLeft, nrm = newRight)

  override def prettyName: String = "coarse_resid_sq"
}
