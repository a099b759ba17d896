package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/**
 * Codegen'd dot product over two `array<float>` columns — the custom
 * Catalyst `Expression` path for the X3 similarity kernel
 * (SURVEY.md §7.4: "codegen'd cosine kernel for X3 at 100 TB").
 *
 * Lives under `org.apache.spark.sql` because the `Expression -> Column`
 * bridge (`classic.ExpressionUtils`) and `AbstractDataType` are
 * `private[sql]` in Spark 4 — the established packaging pattern for
 * out-of-tree Catalyst expressions.
 *
 * Semantics are identical to the declarative form
 * `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)), 0d, +)`
 * — a left-to-right double accumulation, so results are bit-for-bit the
 * same as both the higher-order-function formulation and the DuckDB
 * oracle's list_reduce mirror. The generated code is a tight primitive
 * loop (no per-element lambda dispatch, no intermediate array), which is
 * what makes brute-force and blocked cosine search CPU-bound rather than
 * interpreter-bound on wide scans.
 */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  // mismatched lengths yield NULL, matching the HOF form bit-for-bit:
  // zip_with pads the shorter array with nulls, so aggregate's sum goes
  // null — truncating to min(len) here would instead return a
  // plausible-looking partial dot for a corrupted/mixed-dim table.
  // Likewise a NULL ELEMENT nulls the whole dot (the HOF's null product
  // poisons the fold): treating a null slot as 0.0 would score a
  // corrupted embedding as a plausible similarity and diverge from the
  // oracle. The null checks are only emitted when the array type says
  // elements can be null, so the dense-fixture hot loop stays tight.
  //
  // The one expression whose loop is written twice (Scala eval + Java
  // text; KernelLintSpec allow-lists it): a shared kernel method's
  // getFloat call sites see every caller's array class (UnsafeArrayData,
  // the vectorized reader's ColumnarArray, literals' GenericArrayData)
  // and go megamorphic, while each generated class keeps its own type
  // profile. Measured at sf0.01, local[4]: pq_codes +70 %, pq_adc_topk
  // +39 % and topk_cosine +20 % summed task CPU with one kernel.
  override def nullable: Boolean = true

  private lazy val elementsNullable = VectorKernel.elementsNullable(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (elementsNullable)
          s"""if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass int8-quantization statistics over an array<float> embedding:
 * returns [scale, q_sum, max_err] where scale = max|v|,
 * q_i = floor(v_i·127/scale + 0.5), q_sum = Σq_i and max_err =
 * max|q_i·scale/127 − v_i| — the reconstruction-error accounting of a
 * vector store's compression step. Semantically identical to the
 * transform/aggregate HOF formulation (equivalence-tested), but a single
 * primitive loop instead of four interpreted lambda passes per row.
 * A zero vector (scale = 0) quantizes to all-zero codes with zero error.
 * A null or non-finite element makes the result NULL, as it does the
 * struct of [[QuantizeInt8Codes]], whose guard, scale pass and code
 * formula ([[Sq8Kernel]]) this shares. */
case class QuantizeInt8Stats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "quantize_int8_stats"
  override def nullable: Boolean = true

  private lazy val elementsNullable = VectorKernel.elementsNullable(child)

  override def nullSafeEval(input: Any): Any =
    Sq8Kernel.stats(input.asInstanceOf[ArrayData], elementsNullable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = org.apache.spark.sql.graft.Sq8Kernel.stats($x, $elementsNullable);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * One-pass banded LSH probe sets: for each of `bands` disjoint groups of
 * `bandPlanes` hyperplanes (global plane g = band·bandPlanes + j, the
 * deterministic [[LshProbeKernel.planeComponent]] matrix), returns that
 * band's multi-probe bucket array — element 0 is the TRUE bucket
 * (Σ 1<<j over planes with dot > 0), followed by the Lv et al. 2007
 * within-band probes: the bucket with the lowest-|margin| bit flipped
 * (probes = 2), or all four patterns over the two lowest-margin bits
 * (probes = 4).
 *
 * Bit-identical to the per-plane column formulation it replaces
 * (`bands×bandPlanes` FloatVectorDot literal-plane projections + bucket
 * folds + array_min/array_position argmins — equivalence-pinned in
 * LshBandProbesSpec) but ONE expression node: the ~60-dot projection as
 * separate columns exceeded the whole-stage-codegen method budget and
 * made Catalyst analyze ~4k literal nodes per query. Null/corrupt
 * semantics mirror the column form exactly: a vector whose length ≠ 64
 * or holding a null element has every plane dot NULL → bucket 0, no
 * valid margins, and the probe slots that needed an argmin are NULL
 * (an equi-join on a null probe bucket then matches nothing, exactly
 * like the column path).
 */
case class LshBandProbes(child: Expression, bands: Int, bandPlanes: Int, probes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = true), containsNull = false)
  override def prettyName: String = "lsh_band_probes"

  @transient private lazy val planeMatrix: Array[Float] =
    LshProbeKernel.planeMatrix(bands * bandPlanes)

  private lazy val elementsNullable = VectorKernel.elementsNullable(child)

  override def nullSafeEval(input: Any): Any =
    LshProbeKernel.compute(input.asInstanceOf[ArrayData], planeMatrix,
      bands, bandPlanes, probes, elementsNullable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", planeMatrix, "float[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = org.apache.spark.sql.graft.LshProbeKernel.compute(
         |  $x, $ref, $bands, $bandPlanes, $probes, $elementsNullable);
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshProbeKernel {
  /** Embedding dimensionality the deterministic plane matrix is defined
   * over (SURVEY §2.11 X3: the fixtures' vector<float, 64>). */
  val VecDim = 64

  /** The shared Spark/DuckDB plane arithmetic:
   * ((g·64 + i)·2654435761 mod 2039) − 1019 — integers in [−1019, 1019],
   * exactly representable as Float. graft.ext.Similarity.planeComponent
   * and the oracle's planeListSql both mirror this formula. */
  def planeComponent(g: Int, i: Int): Float =
    (((g.toLong * VecDim + i) * 2654435761L) % 2039L - 1019L).toFloat

  /** Row-major [plane][dim] matrix for global planes 0..nPlanes-1. */
  def planeMatrix(nPlanes: Int): Array[Float] = {
    val m = new Array[Float](nPlanes * VecDim)
    var g = 0
    while (g < nPlanes) {
      var i = 0
      while (i < VecDim) { m(g * VecDim + i) = planeComponent(g, i); i += 1 }
      g += 1
    }
    m
  }

  /** All bands' probe bucket arrays for one embedding — see
   * [[LshBandProbes]] for the semantics contract. */
  def compute(emb: ArrayData, planes: Array[Float], bands: Int,
      bandPlanes: Int, probes: Int, elementsNullable: Boolean): ArrayData = {
    val n = emb.numElements()
    // a length-64 literal plane makes every dot NULL for any other
    // length; a null element poisons every fold the same way
    var clean = n == VecDim
    if (clean && elementsNullable) {
      var i = 0
      while (clean && i < n) { if (emb.isNullAt(i)) clean = false; i += 1 }
    }
    val ev = new Array[Double](VecDim)
    if (clean) {
      var i = 0
      while (i < VecDim) { ev(i) = emb.getFloat(i).toDouble; i += 1 }
    }
    val out = new Array[AnyRef](bands)
    val margins = new Array[Double](bandPlanes)
    var b = 0
    while (b < bands) {
      var bk = 0L
      var j = 0
      while (j < bandPlanes) {
        if (clean) {
          val off = (b * bandPlanes + j) * VecDim
          var acc = 0.0
          var i = 0
          while (i < VecDim) { acc += ev(i) * planes(off + i).toDouble; i += 1 }
          if (acc > 0) bk |= 1L << j
          margins(j) = math.abs(acc)
        }
        j += 1
      }
      // argmin over |margin|, first occurrence (= lowest plane index),
      // java.lang.Double.compare ordering (NaN largest) — the exact
      // array_min/array_position contract of the column form
      var m1 = -1
      if (clean && probes >= 2) {
        var jj = 0
        while (jj < bandPlanes) {
          if (m1 < 0 || java.lang.Double.compare(margins(jj), margins(m1)) < 0) m1 = jj
          jj += 1
        }
      }
      val pb: Array[Any] = probes match {
        case 1 => Array[Any](bk)
        case 2 =>
          if (m1 >= 0) Array[Any](bk, bk ^ (1L << m1)) else Array[Any](bk, null)
        case _ =>
          // second argmin with slot m1 masked to +Inf (the masked slot
          // stays VALID — an all-else-null band re-finds m1, exactly as
          // the column form's CASE mask does)
          var m2 = -1
          if (m1 >= 0) {
            var jj = 0
            while (jj < bandPlanes) {
              val v = if (jj == m1) Double.PositiveInfinity else margins(jj)
              val cur = if (m2 < 0) Double.NaN else if (m2 == m1) Double.PositiveInfinity else margins(m2)
              if (m2 < 0 || java.lang.Double.compare(v, cur) < 0) m2 = jj
              jj += 1
            }
          }
          if (m1 >= 0 && m2 >= 0)
            Array[Any](bk, bk ^ (1L << m1), bk ^ (1L << m2), bk ^ (1L << m1) ^ (1L << m2))
          else Array[Any](bk, null, null, null)
      }
      out(b) = new org.apache.spark.sql.catalyst.util.GenericArrayData(pb)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.asInstanceOf[Array[Any]])
  }
}

/** One-pass int8 scalar quantization to the STORED form of a vector
 * store's compressed tier: struct(scale, codes) where scale = max|v| and
 * codes_i = floor(v_i·127/scale + 0.5) — the exact arithmetic of the
 * [[graft.ext.Similarity.quantizeInt8]] HOF pair (equivalence-pinned in
 * Sq8Spec) in a single primitive loop instead of two interpreted lambda
 * passes. Codes are array<byte> (the values fit [−127, 127] exactly):
 * UnsafeArrayData packs byte elements 1-per-slot, so the stored tier is
 * genuinely ¼ the in-memory width of the float32 vector — array<int>
 * would silently cost the same 4 bytes/dim as the floats. A zero vector
 * (scale = 0) quantizes to all-zero codes. NULL elements poison the
 * whole struct (a corrupted embedding must not quantize to a plausible
 * code block), mirroring [[FloatVectorDot]]. */
case class QuantizeInt8Codes(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false)))
  override def prettyName: String = "quantize_int8_codes"
  override def nullable: Boolean = true

  private lazy val elementsNullable = VectorKernel.elementsNullable(child)

  override def nullSafeEval(input: Any): Any =
    Sq8Kernel.quantize(input.asInstanceOf[ArrayData], elementsNullable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = org.apache.spark.sql.graft.Sq8Kernel.quantize($x, $elementsNullable);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd integer dot over two `array<byte>` code columns — the
 * SQ8 serving path's per-pair hot loop (¼ the memory traffic of the
 * float32 dot; 64 dims × |code| ≤ 127 keeps Σ well inside long).
 * Null/mismatch semantics mirror [[FloatVectorDot]]: length mismatch or
 * a null element yields NULL, never a plausible partial dot. */
case class IntVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(ByteType), ArrayType(ByteType))
  override def dataType: DataType = LongType
  override def prettyName: String = "int_vector_dot"
  override def nullable: Boolean = true

  private lazy val elementsNullable = VectorKernel.elementsNullable(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val d = VectorKernel.intDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], elementsNullable)
    if (d == Long.MinValue) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""${ev.value} = org.apache.spark.sql.graft.VectorKernel.intDot($x, $y, $elementsNullable);
         |if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; }
         |""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The kernel of [[IntVectorDot]] and the element-nullability test of
 * every array expression in this file. */
object VectorKernel {
  /** Whether any of `arrays`' types admits null elements. */
  def elementsNullable(arrays: Expression*): Boolean = arrays.exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  })

  /** Σ x_i·y_i over byte codes; Long.MinValue when undefined, which a
   * real dot cannot reach (|Σ| ≤ n·128² < 2^45 for any array length). */
  def intDot(x: ArrayData, y: ArrayData, elementsNullable: Boolean): Long = {
    val n = x.numElements()
    if (n != y.numElements()) return Long.MinValue
    var acc = 0L
    var i = 0
    while (i < n) {
      if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return Long.MinValue
      acc += x.getByte(i).toLong * y.getByte(i).toLong
      i += 1
    }
    acc
  }
}

/** The one kernel of [[QuantizeInt8Codes]] and of [[QuantizeInt8Stats]]:
 * one guard, one scale pass and one code formula. */
object Sq8Kernel {
  /** max|v| of one embedding, or −1 on a corrupt row (null or non-finite
   * element) so the caller's result goes NULL as a unit. The NaN/Inf
   * branch keeps the kernel aligned with the HOF reference mirror
   * (Similarity.quantizeInt8): floor(NaN).toByte would otherwise emit 0
   * — a plausible code — where the HOF's floor(NaN).cast("int") yields
   * NULL, and NaN feeds the two scale computations differently (SQL
   * greatest treats NaN as the maximum). */
  def scale(emb: ArrayData, elementsNullable: Boolean): Double = {
    val n = emb.numElements()
    var i = 0
    while (elementsNullable && i < n) { if (emb.isNullAt(i)) return -1.0; i += 1 }
    var scale = 0.0
    i = 0
    while (i < n) {
      val v = emb.getFloat(i)
      if (!java.lang.Float.isFinite(v)) return -1.0
      val a = math.abs(v.toDouble)
      if (a > scale) scale = a
      i += 1
    }
    scale
  }

  /** floor(v·127/scale + 0.5), in [−127, 127] for |v| ≤ scale. */
  def code(v: Float, scale: Double): Double = math.floor(v.toDouble * 127.0 / scale + 0.5)

  /** Quantize one embedding to its stored form struct(scale, codes);
   * null on a corrupt row. */
  def quantize(emb: ArrayData, elementsNullable: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val s = scale(emb, elementsNullable)
    if (s < 0) return null
    val n = emb.numElements()
    // codes are in [-127, 127] by construction — byte-exact
    val codes = new Array[Byte](n)
    var i = 0
    while (s > 0 && i < n) { codes(i) = code(emb.getFloat(i), s).toByte; i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(codes)))
  }

  /** [scale, q_sum, max_err] of one embedding; null on a corrupt row. */
  def stats(emb: ArrayData, elementsNullable: Boolean): ArrayData = {
    val s = scale(emb, elementsNullable)
    if (s < 0) return null
    val n = emb.numElements()
    var qSum = 0.0
    var maxErr = 0.0
    var i = 0
    while (s > 0 && i < n) {
      val v = emb.getFloat(i)
      val q = code(v, s)
      qSum += q
      val e = math.abs(q * s / 127.0 - v.toDouble)
      if (e > maxErr) maxErr = e
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(s, qSum, maxErr))
  }
}

object FloatVectorDot {
  /** Column-API entry point (no session registration required). */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatVectorDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** struct(scale, codes) — the int8-quantized stored form, one pass. */
  def quantizeInt8Codes(emb: Column): Column =
    ExpressionUtils.column(QuantizeInt8Codes(ExpressionUtils.expression(emb)))

  /** Integer dot of two int8-code arrays (long), one pass. */
  def intVectorDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      IntVectorDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** [scale, q_sum, max_err] of int8 scalar quantization, one pass. */
  def quantizeInt8Stats(emb: Column): Column =
    ExpressionUtils.column(QuantizeInt8Stats(ExpressionUtils.expression(emb)))

  /** Per-band multi-probe LSH bucket arrays, one pass over the vector
   * (element 0 of each band's array is the true bucket). */
  def lshBandProbes(emb: Column, bands: Int, bandPlanes: Int, probes: Int): Column =
    ExpressionUtils.column(LshBandProbes(ExpressionUtils.expression(emb),
      bands, bandPlanes, probes))
}
