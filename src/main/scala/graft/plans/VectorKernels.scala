package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native vector kernels for the similarity-search family.
  *
  * The pure-expression forms (`aggregate` + `zip_with` over the embedding
  * arrays) are `CodegenFallback` higher-order functions — Catalyst
  * interprets them per array ELEMENT, so a 64-dim cosine costs ~192
  * expression dispatches and a 16-centroid assignment ~2048. These
  * expressions run the whole per-row kernel (all dims, all planes, all
  * centroids) as one compiled-Scala call — the same treatment
  * `MinHashSig` gave the MinHash signature (~50× fewer dispatches).
  *
  * Bit-compatibility: every accumulation below is a sequential left fold
  * in `double` over element index 0..n-1, exactly the summation order of
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)` — so results are
  * reproducible across partitionings and `CosineSim` matches the DuckDB
  * `list_cosine_similarity` oracle bit-for-bit (verified by `n01`).
  *
  * Dimension handling (ADVICE round 2): a vector whose length differs
  * from the planes/centroids dimension FAILS FAST with a clear error —
  * the old `zip_with` form silently null-padded, collapsing every vector
  * into bucket 0 and degrading to an in-bucket quadratic join.
  *
  * `CodegenFallback` is deliberate (same reasoning as `MinHashSig`):
  * codegen granularity is the row, and the row's work here is a bulk
  * primitive loop that is compiled Scala either way.
  *
  * Users: the native similarity operators (float vectors) and the
  * portable, hash-exact family in `graft.llm.Similarity` (`*Portable`),
  * which quantizes to `round(x·10⁶)` BIGINT arrays and scores every
  * pair and centroid through `QCosineSim` and every integer-lattice LSH
  * bucket through `SignBucket`'s exact `Long` mode. Their DuckDB
  * replays spell the same integer arithmetic in SQL.
  */
object VecOps {

  /** ArrayData → Array[Double]; null if the array holds a null element
    * (zip_with parity: a null element nulls the whole fold).
    */
  def toDoubles(a: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      out(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    out
  }

  def isVecType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  def isFloatVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def isLongVec(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  def requireDim(found: Int, expected: Int, who: String): Unit =
    if (found != expected)
      throw new IllegalArgumentException(
        s"$who: vector dimension $found does not match expected $expected" +
          " — refusing to silently pad (would collapse LSH buckets)")
}

/** Cosine similarity of two float/double-array columns, computed in
  * double: `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` with all three
  * dots folded sequentially in one pass. A zero vector has cosine 0.0
  * (not `0/0 = NaN`, which Spark sorts above every number).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecOps.isVecType(left.dataType) && VecOps.isVecType(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects two ARRAY<FLOAT|DOUBLE>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  private lazy val leftFloat = VecOps.isFloatVec(left.dataType)
  private lazy val rightFloat = VecOps.isFloatVec(right.dataType)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = VecOps.toDoubles(l.asInstanceOf[ArrayData], leftFloat)
    val b = VecOps.toDoubles(r.asInstanceOf[ArrayData], rightFloat)
    if (a == null || b == null) return null
    VecOps.requireDim(b.length, a.length, "cosine_sim")
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i)
      i += 1
    }
    if (aa == 0.0 || bb == 0.0) 0.0 else ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  override def prettyName: String = "cosine_sim"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** SQL registration: `cosine_sim(a, b)`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
    (children: Seq[Expression]) => children match {
      case Seq(a, b) => CosineSim(a, b)
      case _ => throw new IllegalArgumentException("cosine_sim(a, b)")
    })
}

/** Sign-pattern LSH bucket id: bit i is set when `vec · planes(i) >= 0`.
  * All `planes.length` dot products run in one compiled pass. Planes are
  * `Seq[Seq[Double]]` (structural equality keeps `semanticEquals` exact);
  * they are materialized to primitive arrays once per task.
  *
  * Exact `Long` mode: over an ARRAY<BIGINT> (quantized) vector the
  * planes must be integers, and each dot is an exact `Long` sum that
  * raises `ArithmeticException` on overflow (as an ANSI `sum` of the
  * same products does) — the portable integer-lattice LSH,
  * bit-identical to its SQL replay.
  */
case class SignBucket(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecOps.isVecType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else if (VecOps.isLongVec(child.dataType)) {
      // integral and within 2^53, so the `Long` weights are exact
      if (planes.forall(_.forall(w =>
          w == math.rint(w) && math.abs(w) <= 9.007199254740992e15)))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "sign_bucket over ARRAY<BIGINT> needs integer planes")
    } else TypeCheckResult.TypeCheckFailure(
      s"sign_bucket expects ARRAY<FLOAT|DOUBLE|BIGINT>, got ${child.dataType.catalogString}")

  private lazy val isFloat = VecOps.isFloatVec(child.dataType)
  private lazy val isLong = VecOps.isLongVec(child.dataType)
  @transient private lazy val p: Array[Array[Double]] =
    planes.map(_.toArray).toArray
  @transient private lazy val pl: Array[Array[Long]] =
    planes.map(_.map(_.toLong).toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (isLong) return longBucket(a)
    val v = VecOps.toDoubles(a, isFloat)
    if (v == null) return null
    VecOps.requireDim(v.length, p(0).length, "sign_bucket")
    var bucket = 0L
    var i = 0
    while (i < p.length) {
      val plane = p(i)
      var d = 0.0
      var j = 0
      while (j < plane.length) { d += v(j) * plane(j); j += 1 }
      if (d >= 0) bucket += (1L << i)
      i += 1
    }
    bucket
  }

  private def longBucket(v: ArrayData): Any = {
    VecOps.requireDim(v.numElements(), pl(0).length, "sign_bucket")
    var bucket = 0L
    var i = 0
    while (i < pl.length) {
      val plane = pl(i)
      var d = 0L
      var j = 0
      while (j < plane.length) {
        if (v.isNullAt(j)) return null
        d = Math.addExact(d, Math.multiplyExact(v.getLong(j), plane(j)))
        j += 1
      }
      if (d >= 0) bucket += (1L << i)
      i += 1
    }
    bucket
  }

  override def prettyName: String = "sign_bucket"

  override protected def withNewChildInternal(newChild: Expression): SignBucket =
    copy(child = newChild)
}

object SignBucket {
  def apply(vec: Column, planes: Array[Array[Double]]): Column =
    ColumnBridge.column(
      SignBucket(ColumnBridge.expression(vec), planes.toSeq.map(_.toSeq)))

  /** Exact integer-lattice form over a quantized ARRAY<BIGINT> column
    * (weights up to 2^53 in magnitude, which a `Double` holds exactly).
    */
  def apply(vec: Column, planes: Array[Array[Long]]): Column =
    apply(vec, planes.map(_.map(_.toDouble)))
}

/** IVF cell ranking: squared L2 distance to every centroid in one pass,
  * then the `nProbe` nearest cell ids (ties by cell id, ascending — the
  * exact order of `array_sort(array(struct(dist, cell)))`).
  */
case class NearestCells(child: Expression, centroids: Seq[Seq[Double]],
                        nProbe: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecOps.isVecType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_cells expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.catalogString}")

  private lazy val isFloat = VecOps.isFloatVec(child.dataType)
  @transient private lazy val cs: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val v = VecOps.toDoubles(input.asInstanceOf[ArrayData], isFloat)
    if (v == null) return null
    VecOps.requireDim(v.length, cs(0).length, "nearest_cells")
    val d = new Array[Double](cs.length)
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      var s = 0.0
      var j = 0
      while (j < c.length) { val x = v(j) - c(j); s += x * x; j += 1 }
      d(i) = s
      i += 1
    }
    val order = Array.tabulate(cs.length)(identity)
      .sortBy(i => (d(i), i))
    new GenericArrayData(order.take(math.min(nProbe, cs.length)))
  }

  override def prettyName: String = "nearest_cells"

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

object NearestCells {
  def apply(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(vec),
      centroids.toSeq.map(_.toSeq), nProbe))
}

/** Int8 scalar quantization: `q_i = round(v_i / (maxAbs/127))`, clamped
  * to [-127, 127] (an all-zero vector quantizes to all zeros). 4× (from
  * float) / 8× (from double) memory compression for ANN shortlists —
  * at 100 TB the embedding column IS the working set, so this is the
  * difference between an index that fits executor memory and one that
  * spills. The per-vector scale is NOT stored: cosine is
  * scale-invariant, so `QCosineSim` over the quantized codes needs no
  * dequantization.
  */
case class SqQuantize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecOps.isVecType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_quantize expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.catalogString}")

  private lazy val isFloat = VecOps.isFloatVec(child.dataType)

  override protected def nullSafeEval(input: Any): Any = {
    val v = VecOps.toDoubles(input.asInstanceOf[ArrayData], isFloat)
    if (v == null) return null
    var maxAbs = 0.0
    var i = 0
    while (i < v.length) {
      val a = math.abs(v(i)); if (a > maxAbs) maxAbs = a; i += 1
    }
    val q = new Array[Byte](v.length)
    if (maxAbs > 0) {
      val inv = 127.0 / maxAbs
      i = 0
      while (i < v.length) {
        val r = math.rint(v(i) * inv)
        q(i) = math.max(-127.0, math.min(127.0, r)).toByte
        i += 1
      }
    }
    new GenericArrayData(q)
  }

  override def prettyName: String = "sq_quantize"

  override protected def withNewChildInternal(newChild: Expression): SqQuantize =
    copy(child = newChild)
}

object SqQuantize {
  def apply(vec: Column): Column =
    ColumnBridge.column(SqQuantize(ColumnBridge.expression(vec)))
}

/** Cosine over two integer vectors — the int8 codes of `SqQuantize`
  * (ARRAY<TINYINT>) or the `round(x·10⁶)` BIGINT arrays of the portable
  * similarity family (ARRAY<BIGINT>). Dot and norms accumulate exactly in
  * `Long` (`Math.multiplyExact`/`addExact`: an overflow raises
  * `ArithmeticException`, as the ANSI long form does, instead of
  * wrapping), then 0.0 for a zero norm, else one double division. The
  * per-vector quantization scales cancel in cosine, so this needs no
  * floats until the final ratio. Integer sums are order-independent, so
  * the result is bit-identical to the SQL `sum`/`CASE` form on any
  * engine.
  */
case class QCosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  private def isIntVec(dt: DataType): Boolean = dt match {
    case ArrayType(ByteType, _) | ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isIntVec(left.dataType) && isIntVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"q_cosine_sim expects two ARRAY<TINYINT|BIGINT>, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  private lazy val leftLong = VecOps.isLongVec(left.dataType)
  private lazy val rightLong = VecOps.isLongVec(right.dataType)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    VecOps.requireDim(b.numElements(), a.numElements(), "q_cosine_sim")
    var ab = 0L; var aa = 0L; var bb = 0L
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftLong) a.getLong(i) else a.getByte(i).toLong
      val y = if (rightLong) b.getLong(i) else b.getByte(i).toLong
      ab = Math.addExact(ab, Math.multiplyExact(x, y))
      aa = Math.addExact(aa, Math.multiplyExact(x, x))
      bb = Math.addExact(bb, Math.multiplyExact(y, y))
      i += 1
    }
    // the zero-guarded shape of `Similarity.cosSql`, bit for bit
    if (aa == 0L || bb == 0L) 0.0
    else ab.toDouble / (math.sqrt(aa.toDouble) * math.sqrt(bb.toDouble))
  }

  override def prettyName: String = "q_cosine_sim"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QCosineSim =
    copy(left = newLeft, right = newRight)
}

object QCosineSim {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      QCosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** L2 normalization to a unit double vector. Monotone bridge between the
  * metric families: on unit vectors `||a-b||^2 = 2 - 2*cos(a,b)`, so a
  * squared-L2 ranking (what PQ/ADC computes) IS the cosine ranking — the
  * standard trick that lets one compressed index serve both metrics. An
  * all-zero vector normalizes to all zeros rather than NaN.
  */
case class L2Normalize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecOps.isVecType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_normalize expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.catalogString}")

  private lazy val isFloat = VecOps.isFloatVec(child.dataType)

  override protected def nullSafeEval(input: Any): Any = {
    val v = VecOps.toDoubles(input.asInstanceOf[ArrayData], isFloat)
    if (v == null) return null
    var n2 = 0.0
    var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    if (n2 > 0) {
      val inv = 1.0 / math.sqrt(n2)
      i = 0
      while (i < v.length) { v(i) *= inv; i += 1 }
    }
    new GenericArrayData(v)
  }

  override def prettyName: String = "l2_normalize"

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

object L2Normalize {
  def apply(vec: Column): Column =
    ColumnBridge.column(L2Normalize(ColumnBridge.expression(vec)))
}

/** Product-quantization encode: the vector is cut into `codebooks.length`
  * contiguous subspaces; each slice is replaced by the id of its nearest
  * sub-centroid (squared L2, ties by id). A 64-dim float vector becomes
  * `M` bytes — 32× compression — and, unlike scalar quantization, the
  * codes support asymmetric distance (`PqAdc`) without touching the
  * original vector again. All M×ksub sub-distances run in one compiled
  * pass per row.
  */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with CodegenFallback {

  // BINARY, not ARRAY<TINYINT>: the codes column is pure payload (M
  // opaque bytes), and BinaryType stores it without per-element null
  // bitmaps — this IS the compression the operator exists for.
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (!VecOps.isVecType(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"pq_encode expects ARRAY<FLOAT|DOUBLE>, got ${child.dataType.catalogString}")
    else if (codebooks.isEmpty || codebooks.exists(_.isEmpty) ||
      codebooks.exists(_.size > 256))
      TypeCheckResult.TypeCheckFailure(
        "pq_encode: each subspace codebook needs 1..256 centroids")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val isFloat = VecOps.isFloatVec(child.dataType)
  @transient private lazy val cbs: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val dim = cbs.map(_(0).length).sum

  override protected def nullSafeEval(input: Any): Any = {
    val v = VecOps.toDoubles(input.asInstanceOf[ArrayData], isFloat)
    if (v == null) return null
    VecOps.requireDim(v.length, dim, "pq_encode")
    val codes = new Array[Byte](cbs.length)
    var off = 0
    var m = 0
    while (m < cbs.length) {
      val cb = cbs(m)
      val dsub = cb(0).length
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cen = cb(c)
        var s = 0.0
        var j = 0
        while (j < dsub) { val x = v(off + j) - cen(j); s += x * x; j += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      codes(m) = best.toByte
      off += dsub
      m += 1
    }
    codes
  }

  override def prettyName: String = "pq_encode"

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  def apply(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec),
      codebooks.toSeq.map(_.toSeq.map(_.toSeq))))
}

/** PQ asymmetric distance (ADC): squared L2 between a FULL-precision
  * query vector and a PQ-encoded corpus vector, as the sum over
  * subspaces of `||q_slice - codebook_m[code_m]||^2`. The query side
  * stays exact (that's the "asymmetric" in ADC — only the corpus is
  * quantized), which is what makes PQ recall usable at byte-level
  * compression. One compiled pass; no per-query lookup-table state, so
  * the expression is a pure row function Catalyst can move freely —
  * the LUT trick is an executor-local optimization PQ papers apply when
  * the query set is fixed, irrelevant at one fused pass per pair.
  */
case class PqAdc(left: Expression, right: Expression,
                 codebooks: Seq[Seq[Seq[Double]]])
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecOps.isVecType(left.dataType) && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adc expects (ARRAY<FLOAT|DOUBLE> query, BINARY codes), " +
        s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")

  private lazy val isFloat = VecOps.isFloatVec(left.dataType)
  @transient private lazy val cbs: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val dim = cbs.map(_(0).length).sum

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val q = VecOps.toDoubles(l.asInstanceOf[ArrayData], isFloat)
    if (q == null) return null
    VecOps.requireDim(q.length, dim, "pq_adc")
    val codes = r.asInstanceOf[Array[Byte]]
    VecOps.requireDim(codes.length, cbs.length, "pq_adc codes")
    var total = 0.0
    var off = 0
    var m = 0
    while (m < cbs.length) {
      val cb = cbs(m)
      val code = codes(m) & 0xff
      if (code >= cb.length)
        throw new IllegalArgumentException(
          s"pq_adc: code $code out of range for subspace $m (${cb.length})")
      val cen = cb(code)
      var j = 0
      while (j < cen.length) {
        val x = q(off + j) - cen(j); total += x * x; j += 1
      }
      off += cen.length
      m += 1
    }
    total
  }

  override def prettyName: String = "pq_adc"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  def apply(query: Column, codes: Column,
            codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqAdc(ColumnBridge.expression(query),
      ColumnBridge.expression(codes),
      codebooks.toSeq.map(_.toSeq.map(_.toSeq))))
}
