package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the hot vector-math path.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * allocates intermediate arrays per row pair — fine per-document, fatal
  * in an n² pair join. This expression is a tight loop over the unsafe
  * array data with full whole-stage codegen, ~10× faster in the q23
  * pair scan, and accumulates LEFT-TO-RIGHT in double — bit-identical
  * to both the HOF fold and DuckDB's list_dot_product, so oracle
  * hash-equality is preserved.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must already be ArrayType(DoubleType) — the registry wrapper
  // and call sites cast explicitly (AbstractDataType/ExpectsInputTypes
  // are private[sql] in Spark 4, so no declarative input contract here).
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName is load-bearing: with NON-nullable children,
      // nullSafeCodeGen emits this block unbraced at method scope, so
      // two dot_f calls in one codegen span would redeclare the locals
      // (surfaced by a projection over coalesce()d vectors)
      val n = ctx.freshName("dotN")
      val acc = ctx.freshName("dotAcc")
      val i = ctx.freshName("dotI")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernel for [[QuantCodeSum]] — one call site shared by
  * interpreted eval and generated code (the ShingleHashes pattern), so
  * the surrounding projection keeps its WholeStageCodegen span.
  */
object VectorQuantUtil {
  /** Σ of the int8 scalar-quantization codes of a float vector:
    * code_i = floor((v_i − min) · 255 / (max − min)), all arithmetic in
    * double with this exact op order — bit-identical to the DuckDB
    * `floor((v::DOUBLE − mn) * 255.0 / (mx − mn))` oracle (IEEE doubles,
    * left-to-right, no FMA). Degenerate constant vectors quantize to 0
    * (the oracle's CASE WHEN mx = mn guard); empty or all-null vectors
    * yield NULL — exactly what the oracle's NULL mn/mx propagate to
    * (list_sum over an empty/all-null transform), so the bit-identical
    * claim holds on the edge too.
    */
  def quantCodeSum(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    // null elements are SKIPPED, matching the DuckDB oracle (its
    // list_aggregate min/max ignore nulls, list_transform maps
    // null→null, list_sum skips nulls) — getFloat on a null slot would
    // silently read 0.0 and corrupt both min and the code sum
    var mn = java.lang.Double.MAX_VALUE
    var mx = -java.lang.Double.MAX_VALUE
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getFloat(i).toDouble
        if (v < mn) mn = v
        if (v > mx) mx = v
        seen = true
      }
      i += 1
    }
    if (!seen) return null
    if (mx == mn) return 0L
    val range = mx - mn
    var s = 0L
    i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        s += math.floor((arr.getFloat(i).toDouble - mn) * 255.0 / range).toLong
      i += 1
    }
    s
  }
}

/** `quant_code_sum(vec)`: the summed int8 quantization codes of an
  * ARRAY<FLOAT> embedding — the cheap integrity/energy statistic of a
  * scalar-quantized vector, as a single codegen'd static call (a
  * higher-order `aggregate(transform(...))` chain would run
  * interpreted — the q22 lesson).
  */
case class QuantCodeSum(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  // null for a null INPUT (UnaryExpression default) and ALSO for an
  // empty/all-null array — the kernel's NULL edge (oracle parity)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"quant_code_sum: needs ARRAY<FLOAT>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    VectorQuantUtil.quantCodeSum(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { c =>
      val r = ctx.freshName("quantSum")
      s"""
         |java.lang.Long $r = graft.functions.VectorQuantUtil.quantCodeSum($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static kernels for the product-quantization expressions — one call
  * site shared by interpreted eval and generated code (the
  * ShingleHashes pattern), so the encode/scan projections keep their
  * WholeStageCodegen spans.
  *
  * Layout convention (shared with [[graft.api.VectorOps]]): the flat
  * codebook is `m · k · subDim` doubles, centroid `c` of subspace `s`
  * occupying `[(s·k+c)·subDim, (s·k+c+1)·subDim)`; the flat LUT is
  * `m · k` doubles with `lut[s·k+c] = <q_sub_s, centroid_{s,c}>`.
  */
object PqUtil {
  /** PQ encode: per subspace, the index of the L2-nearest centroid
    * (strict `<` — first minimum wins, deterministic). Output: m ints.
    * The vector must have exactly `m·subDim` dims: a ragged vector
    * fails by name here, where the data enters, instead of being
    * truncated or zero-padded into a wrong code (training only sees
    * its sample). Null elements read 0.
    */
  def encode(v: ArrayData, cb: ArrayData, m: Int, k: Int): ArrayData = {
    val subDim = cb.numElements() / (m * k)
    val d = v.numElements()
    if (d != m * subDim) throw new IllegalArgumentException(
      s"pq_encode: ragged vector — $d dims, but the codebook encodes " +
        s"m·subDim = ${m * subDim}; every vector must match the " +
        "dimension the codebooks were trained on")
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestDist = java.lang.Double.MAX_VALUE
      var c = 0
      while (c < k) {
        val base = (s * k + c) * subDim
        var dist = 0.0
        var j = 0
        while (j < subDim) {
          val off = s * subDim + j
          val x = if (!v.isNullAt(off)) v.getDouble(off) else 0.0
          val diff = x - cb.getDouble(base + j)
          dist += diff * diff
          j += 1
        }
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-query ADC lookup table: `lut[s·k+c] = <q_sub_s, centroid_{s,c}>`
    * (left-to-right double folds — the dot_f accumulation order).
    */
  def lut(q: ArrayData, cb: ArrayData, m: Int, k: Int): ArrayData = {
    val subDim = cb.numElements() / (m * k)
    val d = q.numElements()
    val out = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        val base = (s * k + c) * subDim
        var acc = 0.0
        var j = 0
        while (j < subDim) {
          val off = s * subDim + j
          val x = if (off < d && !q.isNullAt(off)) q.getDouble(off) else 0.0
          acc += x * cb.getDouble(base + j)
          j += 1
        }
        out(s * k + c) = acc
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC score: Σ_s lut[s·k + codes[s]] ≈ <q, x> — m array reads per
    * corpus row, no per-row float math beyond the adds. THIS is the
    * 100 TB scan kernel: the corpus is m bytes/vector instead of
    * 4·d, and the scan never touches the original embeddings.
    */
  def adc(codes: ArrayData, lutArr: ArrayData, k: Int): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) { acc += lutArr.getDouble(s * k + codes.getInt(s)); s += 1 }
    acc
  }

  /** Squared L2 distances to every centroid: m·k doubles in codebook
    * order — [[encode]]'s distance loop with the argmin replaced by
    * emission. Used on the (tiny) query side to rank IVF cells for
    * multi-cell probes (nprobe > 1), where encode's single argmin is
    * not enough.
    */
  def dists(v: ArrayData, cb: ArrayData, m: Int, k: Int): ArrayData = {
    val subDim = cb.numElements() / (m * k)
    val d = v.numElements()
    val out = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        val base = (s * k + c) * subDim
        var dist = 0.0
        var j = 0
        while (j < subDim) {
          val off = s * subDim + j
          val x = if (off < d && !v.isNullAt(off)) v.getDouble(off) else 0.0
          val diff = x - cb.getDouble(base + j)
          dist += diff * diff
          j += 1
        }
        out(s * k + c) = dist
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `pq_encode(v, cb, m, k)` → ARRAY<INT> of m centroid codes. */
case class PqEncode(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with org.apache.spark.sql.catalyst.trees.QuaternaryLike[Expression] {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable

  override def nullSafeEval(v: Any, cb: Any, m: Any, k: Any): Any =
    PqUtil.encode(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      m.asInstanceOf[Int], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb, m, k) =>
      s"${ev.value} = graft.functions.PqUtil.encode($v, $cb, $m, $k);")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `pq_lut(q, cb, m, k)` → ARRAY<DOUBLE> of m·k ADC table entries. */
case class PqLut(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with org.apache.spark.sql.catalyst.trees.QuaternaryLike[Expression] {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable

  override def nullSafeEval(q: Any, cb: Any, m: Any, k: Any): Any =
    PqUtil.lut(q.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      m.asInstanceOf[Int], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, cb, m, k) =>
      s"${ev.value} = graft.functions.PqUtil.lut($q, $cb, $m, $k);")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `pq_dists(v, cb, m, k)` → ARRAY<DOUBLE> of m·k squared L2 distances. */
case class PqDists(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with org.apache.spark.sql.catalyst.trees.QuaternaryLike[Expression] {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable

  override def nullSafeEval(v: Any, cb: Any, m: Any, k: Any): Any =
    PqUtil.dists(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      m.asInstanceOf[Int], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb, m, k) =>
      s"${ev.value} = graft.functions.PqUtil.dists($v, $cb, $m, $k);")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `pq_adc(codes, lut, k)` → DOUBLE approximate dot product. */
case class PqAdc(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.trees.TernaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override def nullSafeEval(codes: Any, lutArr: Any, k: Any): Any =
    PqUtil.adc(codes.asInstanceOf[ArrayData], lutArr.asInstanceOf[ArrayData],
      k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lutArr, k) =>
      s"${ev.value} = graft.functions.PqUtil.adc($codes, $lutArr, $k);")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression =
    copy(first = a, second = b, third = c)
}
