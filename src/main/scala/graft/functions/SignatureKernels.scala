package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/**
 * Codegen'd signature kernels for the X2 dedup surface (SURVEY.md §2.11).
 * Semantically identical to the higher-order-function formulations in
 * graft.ext.Dedup (equivalence-tested), but a single primitive loop per
 * row instead of interpreted per-element lambdas — at corpus scale the
 * signature pass is the whole cost of LSH dedup, so these keep it
 * CPU-bound.
 *
 * Each expression has ONE kernel: a method of a Scala object that both
 * `nullSafeEval` (the interpreted path) and `doGenCode` (whose Java text
 * is only the call, plus at most a line mapping the result to null)
 * call. scalac never type-checks generated Java text, and Spark's codegen
 * fallback silently runs the interpreted path when that text fails to
 * compile, so a loop written twice can drift unseen; KernelLintSpec
 * fails on a `doGenCode` that holds a loop, and SignatureKernelsSpec
 * runs every expression through both paths.
 */

/** min((s*a + b) mod p) over an array<bigint> of shingle hashes; null on
 * an empty/null array (caller applies the sentinel). Mirror of
 * `array_min(transform(sh, s -> (s*a+b) % p))`. */
case class MinhashComponent(child: Expression, a: Long, b: Long, p: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_component"

  override def nullSafeEval(input: Any): Any = {
    val h = MinhashKernel.component(input.asInstanceOf[ArrayData], a, b, p)
    if (h == Long.MaxValue) null else h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = org.apache.spark.sql.graft.MinhashKernel.component($x, ${a}L, ${b}L, ${p}L);
         |if (${ev.value} == Long.MAX_VALUE) { ${ev.isNull} = true; }
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashKernel {
  /** Long.MaxValue when no element is non-null — a real component never
   * takes it, since |x mod p| < p. Null elements are SKIPPED, matching
   * the HOF mirror exactly: array_min ignores null entries, so
   * list_min(transform(...)) over an array holding nulls minimizes the
   * non-null hashes (and is null when every element is null) — hashing a
   * null slot as (0·a+b) mod p would instead inject a phantom shingle. */
  def component(arr: ArrayData, a: Long, b: Long, p: Long): Long = {
    val n = arr.numElements()
    var best = Long.MaxValue
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = (arr.getLong(i) * a + b) % p
        if (h < best) best = h
      }
      i += 1
    }
    best
  }
}

/** 16-bit simhash over an array<bigint> of shingle hashes: per shingle,
 * mix m = (s*2654435761) mod 65536; bit b set when the ±1 votes of the
 * shingles' b-th bits sum positive. Empty array → 0. Mirror of the
 * nested aggregate/transform formulation in Dedup.simhash16. */
case class Simhash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override def nullSafeEval(input: Any): Any =
    SimhashKernel.simhash16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"org.apache.spark.sql.graft.SimhashKernel.simhash16($x)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit wide simhash over an array<bigint> of shingle hashes.
 * PRECONDITION: inputs must lie in [0, 2^31) — the Dedup.withShingleHashes
 * contract (shingles mod P = 2^31 − 1). Under that bound s*m1 peaks at
 * ≈ 5.7e18 — inside int64, so the multiply is EXACT in any int64 engine
 * (Spark, DuckDB); feeding raw 64-bit hashes would overflow it and
 * silently diverge from the DuckDB mirror. (The pre-round-9 2^20 domain
 * additionally kept intermediates < 2^52 for double-arithmetic engines;
 * that portability margin is traded away for the collision-free domain.)
 * Built from two 30-bit halves: per shingle,
 * h1 = (s*m1) mod 2^30 votes bits 0..29, h2 = (s*m2) mod 2^30 votes bits
 * 30..59. Empty array → 0. The production-width sketch for
 * Hamming-blocked near-dup joins (4 × 15-bit blocks → 32768 buckets per
 * block). */
case class SimhashWide(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_wide"

  override def nullSafeEval(input: Any): Any =
    SimhashKernel.simhashWide(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"org.apache.spark.sql.graft.SimhashKernel.simhashWide($x)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashKernel {
  def simhash16(arr: ArrayData): Long = {
    val counts = new Array[Int](16)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val m = (arr.getLong(i) * 2654435761L) % 65536L
      var b = 0
      while (b < 16) {
        counts(b) += (((m >> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      i += 1
    }
    bits(counts)
  }

  def simhashWide(arr: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getLong(i)
      val h1 = (s * 2654435761L) % 1073741824L
      val h2 = (s * 2246822519L) % 1073741824L
      var b = 0
      while (b < 30) {
        counts(b) += (((h1 >> b) & 1L) * 2 - 1).toInt
        counts(b + 30) += (((h2 >> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      i += 1
    }
    bits(counts)
  }

  /** Bit b set where the b-th vote sum is positive. */
  private def bits(counts: Array[Int]): Long = {
    var out = 0L
    var b = 0
    while (b < counts.length) {
      if (counts(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }
}

/**
 * Per-token hash over an array<string>: one codegen'd loop replacing
 * `transform(tokens, t -> <10 substring/ascii calls>)` — ArrayTransform
 * is CodegenFallback (interpreted per element) and the SQL formula
 * allocates ~10 single-char strings per token, so the kernel is the
 * difference between the shingle staging being allocation-bound and
 * CPU-bound. Arithmetic is EXACTLY TextOps.tokenHashSql's: base-131
 * polynomial over the first 8 codepoints + last-codepoint·1000003 +
 * numChars·7, mod p (Spark's ascii/substring/length are codepoint-based
 * — TokenHashKernel.hashToken mirrors that, surrogate pairs included).
 * Null elements map to null (transform semantics); null array → null.
 */
case class TokenHashes(child: Expression, p: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "token_hashes"

  override def nullSafeEval(input: Any): Any =
    TokenHashKernel.tokenHashes(input.asInstanceOf[ArrayData], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"org.apache.spark.sql.graft.TokenHashKernel.tokenHashes($x, ${p}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 3-gram shingle hashes over an array<bigint> of token hashes:
 * out(i) = (h(i)·10007 + h(i+1)·131 + h(i+2)) mod p for i = 0..n-3,
 * empty for arrays under 3 elements — exactly the staged-SQL
 * formulation in Dedup.withShingleHashes (whose sequence(1, n-2) is
 * empty-guarded the same way). Null token hashes cannot occur from
 * split(), but are defensively treated as 0 (the SQL's `element_at`
 * arithmetic would yield a null shingle; split-sourced arrays never
 * exercise either branch).
 */
case class ShingleHashes3(child: Expression, p: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_hashes3"

  override def nullSafeEval(input: Any): Any =
    TokenHashKernel.shingleHashes3(input.asInstanceOf[ArrayData], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      s"org.apache.spark.sql.graft.TokenHashKernel.shingleHashes3($x, ${p}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Bigram (context, bigram) hash PAIRS over an array<bigint> of token
 * hashes: out(i) = struct(h(i), (h(i)·10007 + h(i+1)) mod p) for
 * i = 0..n-2. The surprisal operator needs both hashes per position;
 * producing the struct here keeps the exploded stream 16 bytes/row —
 * the alternative (explode one array, element_at into the other) drags
 * the whole token-hash array through the Generate, duplicating it per
 * output row (O(tokens²) bytes per document — measured 1.7 s of a 2 s
 * query at sf0.1).
 */
case class BigramPairs(child: Expression, p: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(BigramPairKernel.PairType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bigram_pairs"

  override def nullSafeEval(input: Any): Any =
    BigramPairKernel.pairs(input.asInstanceOf[ArrayData], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val kernel = "org.apache.spark.sql.graft.BigramPairKernel"
      s"${ev.value} = $kernel.pairs($x, ${p}L);\n"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramPairKernel {
  val PairType: StructType = StructType(Seq(
    StructField("ph", LongType, nullable = false),
    StructField("bh", LongType, nullable = false)))

  def pairs(arr: ArrayData, p: Long): ArrayData = {
    val n = arr.numElements()
    val m = if (n < 2) 0 else n - 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val a = arr.getLong(i)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](a, (a * 10007L + arr.getLong(i + 1)) % p))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/**
 * Per-position trigram-backoff tuples over an array<bigint> of token
 * hashes: for each position i = 0..n−3 (scoring token i+2 given its
 * two-token context) emit the FIVE keys a stupid-backoff trigram LM
 * needs in one pass — (tri, c2, fb, c1, w) where tri is the
 * ShingleHashes3 trigram hash, c2 the (i, i+1) context-bigram hash and
 * fb the (i+1, i+2) fallback-bigram hash (both in BigramPairs' bh
 * formula (a·10007 + b) mod p), c1 = th[i+1], w = th[i+2]. The
 * formula-sharing is the point: trigram counts come from the existing
 * shingle stream and bigram counts from the existing pair stream, so
 * one kernel family feeds both the LM counts and the LM scorer. The
 * per-position multi-key struct exists for the same reason BigramPairs
 * does — indexing parallel arrays through an explode drags O(tokens²)
 * bytes per doc through the Generate.
 */
case class TrigramTuples(child: Expression, p: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(TrigramTupleKernel.TupleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "trigram_tuples"

  override def nullSafeEval(input: Any): Any =
    TrigramTupleKernel.tuples(input.asInstanceOf[ArrayData], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val kernel = "org.apache.spark.sql.graft.TrigramTupleKernel"
      s"${ev.value} = $kernel.tuples($x, ${p}L);\n"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TrigramTupleKernel {
  val TupleType: StructType = StructType(Seq(
    StructField("tri", LongType, nullable = false),
    StructField("c2", LongType, nullable = false),
    StructField("fb", LongType, nullable = false),
    StructField("c1", LongType, nullable = false),
    StructField("w", LongType, nullable = false)))

  def tuples(arr: ArrayData, p: Long): ArrayData = {
    val n = arr.numElements()
    val m = if (n < 3) 0 else n - 2
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val a = arr.getLong(i)
      val b = arr.getLong(i + 1)
      val c = arr.getLong(i + 2)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          (a * 10007L + b * 131L + c) % p,
          (a * 10007L + b) % p,
          (b * 10007L + c) % p,
          b, c))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/**
 * Distinct-hash run-length counts over an array<bigint>: the per-ROW
 * inverted-index build. Output is (h, c) structs sorted by h ascending —
 * a deterministic pure function of the multiset, independent of input
 * order. One sort + one linear pass (O(k log k)); the HOF formulation
 * `transform(array_distinct(sh), t -> struct(t, size(filter(sh, x ->
 * x = t))))` is O(k²) per row — a straggler on long documents (a
 * 20 k-token doc is 4·10⁸ comparisons), which is why the kernel exists.
 * Used by BM25 (X38): every per-(doc, term) tf is computed INSIDE the
 * row that already holds all the doc's shingles, so the inverted index
 * needs no corpus-wide groupBy exchange at all.
 */
case class HashCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(HashCountKernel.CountType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "hash_counts"

  override def nullSafeEval(input: Any): Any =
    HashCountKernel.counts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val kernel = "org.apache.spark.sql.graft.HashCountKernel"
      s"${ev.value} = $kernel.counts($x);\n"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashCountKernel {
  val CountType: StructType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("c", LongType, nullable = false)))

  def counts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = arr.getLong(i); i += 1 }
    java.util.Arrays.sort(a)
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.min(n, 16))
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && a(j) == a(i)) j += 1
      out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](a(i), (j - i).toLong))
      i = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/**
 * Fixed-stride chunk rolling hashes over an array<bigint> of token
 * hashes: chunk c (c = 0..n/size-1) folds its `size` token hashes
 * through acc = (acc·131 + h) mod p from acc = 0; arrays shorter than
 * one chunk yield an empty result — exactly the staged-SQL formulation
 * in Dedup.withChunkHashes (`transform(sequence(1, n div size), c ->
 * aggregate(slice(...), 0, (acc, x) -> (acc*131 + x) % p))`, whose
 * `< size` guard this mirrors).
 */
case class ChunkHashes(child: Expression, chunkSize: Int, p: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "chunk_hashes"

  override def nullSafeEval(input: Any): Any =
    ChunkHashKernel.hashes(input.asInstanceOf[ArrayData], chunkSize, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      s"org.apache.spark.sql.graft.ChunkHashKernel.hashes($x, $chunkSize, ${p}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ChunkHashKernel {
  def hashes(arr: ArrayData, chunkSize: Int, p: Long): ArrayData = {
    val n = arr.numElements()
    val m = if (n < chunkSize) 0 else n / chunkSize
    val out = new Array[Long](m)
    var c = 0
    while (c < m) {
      var acc = 0L
      var i = c * chunkSize
      val end = i + chunkSize
      while (i < end) { acc = (acc * 131L + arr.getLong(i)) % p; i += 1 }
      out(c) = acc
      c += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** The one kernel of [[TokenHashes]] and of [[ShingleHashes3]]: both
 * expressions' `nullSafeEval` and `doGenCode` call these methods, so the
 * arithmetic has one definition. */
object TokenHashKernel {
  /** Codepoint-faithful mirror of TextOps.tokenHashSql (Spark's
   * ascii = first codepoint; length = codepoint count). */
  def hashToken(u: org.apache.spark.unsafe.types.UTF8String, p: Long): Long = {
    val s = u.toString
    var h = 0L
    var pow = 1L
    var cpCount = 0L
    var last = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cpCount < 8) { h += cp.toLong * pow; pow *= 131L }
      last = cp.toLong
      cpCount += 1
      i += Character.charCount(cp)
    }
    (h + last * 1000003L + cpCount * 7L) % p
  }

  /** Per-element [[hashToken]]; an UnsafeArrayData unless an element is
   * null (then a GenericArrayData holding those nulls). */
  def tokenHashes(arr: ArrayData, p: Long): ArrayData = {
    val n = arr.numElements()
    val vals = new Array[Long](n)
    var hasNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) hasNull = true
      else vals(i) = hashToken(arr.getUTF8String(i), p)
      i += 1
    }
    if (!hasNull) ArrayData.toArrayData(vals)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](n)(j => if (arr.isNullAt(j)) null else vals(j)))
  }

  def shingleHashes3(arr: ArrayData, p: Long): ArrayData = {
    val n = arr.numElements()
    val m = if (n < 3) 0 else n - 2
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = (arr.getLong(i) * 10007L + arr.getLong(i + 1) * 131L + arr.getLong(i + 2)) % p
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/**
 * Content-defined chunk spans over a STRING: one code-point pass computes
 * boundary positions (base-131 polynomial of the trailing `window` code
 * points ≡ 0 mod `divisor`, boundaries strictly inside the text) and each
 * chunk's base-131 content hash mod `p`. Exact mirror of the HOF/SQL
 * formulation in graft.ext.TextOps.cdcChunksHof (ascii() = first code
 * point, length()/substr() count code points), which the oracle keeps —
 * equivalence is spec-pinned over fixture + adversarial text. The HOF
 * form re-seeks the string per character (O(len²) per doc interpreted);
 * this is the O(len) staging kernel, same tier as [[TokenHashes]].
 *
 * Returns array<struct<c_start:int, c_len:int, c_hash:bigint>>; a
 * sub-window (or empty) document is one whole-document span with hash 0
 * for the empty case.
 */
case class CdcSpans(child: Expression, window: Int, divisor: Long, p: Long,
    minLen: Int = 1, maxLen: Int = 0)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(CdcSpanKernel.SpanType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "cdc_spans"

  override def nullSafeEval(input: Any): Any =
    CdcSpanKernel.spans(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      window, divisor, p, minLen, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val kernel = "org.apache.spark.sql.graft.CdcSpanKernel"
      s"${ev.value} = $kernel.spans($x, $window, ${divisor}L, ${p}L, $minLen, $maxLen);\n"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcSpanKernel {
  val SpanType: StructType = StructType(Seq(
    StructField("c_start", IntegerType, nullable = false),
    StructField("c_len", IntegerType, nullable = false),
    StructField("c_hash", LongType, nullable = false)))

  /** One pass: decode code points, mark boundaries, hash each span.
   *
   * `minLen`/`maxLen` are the min/max chunk-length NORMALIZATION
   * (Muthitacharoen 2001 §LBFS sets both; FastCDC's normalized chunking
   * generalizes it): a content boundary is accepted only once the open
   * chunk has reached `minLen` code points, and a cut is FORCED when it
   * reaches `maxLen` regardless of content. This bounds the chunk-table
   * blow-up from adversarial periodic text (a repeated `window`-width
   * pattern aligned with the divisor otherwise degenerates to
   * ~window-length chunks, ~divisor/window × the expected count) and
   * bounds the opposite failure (content that never hits the divisor
   * producing one giant chunk). `minLen = 1, maxLen = 0` (no max)
   * reproduces the unclamped form bit-for-bit — the oracle-matched
   * registered query keeps that, the clamped variant is spec-pinned
   * (sequential reference) like BPE. Forced cuts lose shift-robustness
   * AT the forced boundary only; content cuts re-synchronize after.
   * Interior chunks lie in [minLen, maxLen]; the final chunk may run
   * short (< minLen) but never exceeds maxLen. Requires maxLen = 0 or
   * maxLen ≥ max(window, minLen) so forced cuts land inside the rolling
   * region. */
  def spans(u: org.apache.spark.unsafe.types.UTF8String,
      window: Int, divisor: Long, p: Long, minLen: Int, maxLen: Int): ArrayData = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    require(maxLen == 0 || (maxLen >= window && maxLen >= minLen),
      s"maxLen must be 0 (off) or >= max(window, minLen), got $maxLen")
    val s = u.toString
    // code-point array (length() / substr() / ascii() all count code
    // points, so the kernel works in that domain, not UTF-16 chars)
    var n = 0
    var i = 0
    while (i < s.length) { n += 1; i += Character.charCount(s.codePointAt(i)) }
    val cps = new Array[Int](n)
    i = 0
    var j = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(j) = cp; j += 1
      i += Character.charCount(cp)
    }
    // powers 131^(window-1-k)
    var topPow = 1L
    var k = 1
    while (k < window) { topPow *= 131L; k += 1 }
    // cut positions: 0, every interior boundary, n
    val cuts = new java.util.ArrayList[Integer]()
    cuts.add(0)
    if (n >= window) {
      // rolling windowed polynomial over positions i = window..n (1-based)
      var poly = 0L
      var q = 0
      while (q < window) { poly = poly * 131L + cps(q); q += 1 }
      var pos = window // 1-based position of the window's last char
      var lastCut = 0
      while (pos < n) { // interior boundaries only (pos < len)
        val len = pos - lastCut
        // the rolling polynomial is cut-independent, so min/max
        // normalization only FILTERS/FORCES acceptance — positions stay
        // independently testable and the unclamped path (minLen=1,
        // maxLen=0) is bit-identical to the pre-clamp kernel
        if ((maxLen > 0 && len == maxLen) ||
            (len >= minLen && poly % divisor == 0L)) {
          cuts.add(pos)
          lastCut = pos
        }
        poly = (poly - cps(pos - window) * topPow) * 131L + cps(pos)
        pos += 1
      }
      // pos == n: window polynomial at the final position is excluded by
      // the i < len rule — nothing to do; the final chunk cannot exceed
      // maxLen (a forced cut would have fired at lastCut + maxLen <= n-1
      // first, or lands exactly at n)
    }
    cuts.add(n)
    val m = cuts.size() - 1
    val out = new Array[Any](m)
    var c = 0
    while (c < m) {
      val start = cuts.get(c).intValue()
      val end = cuts.get(c + 1).intValue()
      var h = 0L
      var t = start
      while (t < end) { h = (h * 131L + cps(t)) % p; t += 1 }
      out(c) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](start, end - start, h))
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/**
 * Per-document BPE subword count under a TRAINED merge list
 * (graft.ext.Bpe): whitespace-tokenize, seed each word as characters,
 * apply every merge in rank order with the same greedy left-to-right
 * scan the trainer uses, count the surviving symbols. Merges are baked
 * as expression parameters (they are O(tens) strings — no broadcast
 * machinery needed), so tokenizing a corpus is a shuffle-free codegen
 * scan. Mirrors `Bpe.applyMerge` exactly; equivalence is spec-pinned
 * against a driver-side reference segmentation.
 */
case class BpeSegmentCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_segment_count"

  @transient private lazy val mergeArr: Array[(String, String)] = merges.toArray

  override def nullSafeEval(input: Any): Any =
    BpeSegmentKernel.count(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mergeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ship the merge table through a codegen object reference — string
    // literals with arbitrary content do not embed safely in Java source
    val ref = ctx.addReferenceObj("bpeMerges", mergeArr, "scala.Tuple2[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.BpeSegmentKernel.count($x, $ref);\n")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeSegmentKernel {
  def count(u: org.apache.spark.unsafe.types.UTF8String,
      merges: Array[(String, String)]): Long = {
    val text = u.toString
    var total = 0L
    var start = 0
    val n = text.length
    while (start <= n) {
      var end = text.indexOf(' ', start)
      if (end < 0) end = n
      if (end > start) total += segment(text.substring(start, end), merges)
      start = end + 1
    }
    total
  }

  /** Symbol count of one word after all merges, greedy left-to-right per
   * merge rank — the exact `Bpe.applyMerge` scan. */
  private def segment(word: String, merges: Array[(String, String)]): Int = {
    // seed: code points as symbols (the trainer splits Strings the same
    // way via Char map — fixture text is BMP; surrogate halves merge
    // identically on both sides because both use per-Char seeding)
    var syms = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) { syms.add(String.valueOf(word.charAt(i))); i += 1 }
    var m = 0
    while (m < merges.length && syms.size() > 1) {
      val l = merges(m)._1
      val r = merges(m)._2
      val next = new java.util.ArrayList[String](syms.size())
      var j = 0
      while (j < syms.size()) {
        if (j < syms.size() - 1 && syms.get(j) == l && syms.get(j + 1) == r) {
          next.add(l + r); j += 2
        } else { next.add(syms.get(j)); j += 1 }
      }
      syms = next
      m += 1
    }
    syms.size()
  }
}

object SignatureKernels {
  def minhashComponent(shingles: Column, a: Long, b: Long, p: Long): Column =
    ExpressionUtils.column(MinhashComponent(ExpressionUtils.expression(shingles), a, b, p))

  def simhash16(shingles: Column): Column =
    ExpressionUtils.column(Simhash16(ExpressionUtils.expression(shingles)))

  def simhashWide(shingles: Column): Column =
    ExpressionUtils.column(SimhashWide(ExpressionUtils.expression(shingles)))

  def tokenHashes(tokens: Column, p: Long): Column =
    ExpressionUtils.column(TokenHashes(ExpressionUtils.expression(tokens), p))

  def shingleHashes3(tokenHashes: Column, p: Long): Column =
    ExpressionUtils.column(ShingleHashes3(ExpressionUtils.expression(tokenHashes), p))

  def bigramPairs(tokenHashes: Column, p: Long): Column =
    ExpressionUtils.column(BigramPairs(ExpressionUtils.expression(tokenHashes), p))

  def hashCounts(hashes: Column): Column =
    ExpressionUtils.column(HashCounts(ExpressionUtils.expression(hashes)))

  def trigramTuples(tokenHashes: Column, p: Long): Column =
    ExpressionUtils.column(TrigramTuples(ExpressionUtils.expression(tokenHashes), p))

  def chunkHashes(tokenHashes: Column, chunkSize: Int, p: Long): Column =
    ExpressionUtils.column(ChunkHashes(ExpressionUtils.expression(tokenHashes), chunkSize, p))

  def cdcSpans(text: Column, window: Int, divisor: Long, p: Long): Column =
    ExpressionUtils.column(CdcSpans(ExpressionUtils.expression(text), window, divisor, p))

  def cdcSpansClamped(text: Column, window: Int, divisor: Long, p: Long,
      minLen: Int, maxLen: Int): Column =
    ExpressionUtils.column(
      CdcSpans(ExpressionUtils.expression(text), window, divisor, p, minLen, maxLen))

  def bpeSegmentCount(text: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeSegmentCount(ExpressionUtils.expression(text), merges))
}
