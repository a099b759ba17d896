package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/**
 * X37 — distributed linear algebra over embedding columns: the top
 * principal direction of the corpus second-moment matrix by fixed-point
 * power iteration, and the per-vector projection onto it (SURVEY.md
 * §2.11 north star: embedding-space curation signals — dominant-
 * direction energy is the standard "is this corpus collapsing onto one
 * axis" diagnostic, and the projection coordinate is a cheap outlier /
 * stratification key that needs no model).
 *
 * Exactness contract (the PageRank discipline applied to linear
 * algebra): embeddings are quantized to int64 micro-units
 * ([[Similarity.quantizeMicros]] — the kmeans convention), the d×d
 * second-moment matrix is an exact integer sum, and each power-iteration
 * round renormalizes by `(w_i · scale) div max|w|` in integer division
 * that Spark (`div` / Java `/`) and DuckDB (`//`) both truncate toward
 * zero — so five rounds of matrix-vector products are bit-identical
 * across engines and across partitionings, where float power iteration
 * is order-sensitive from the first sum. The oracle is the same loop
 * unrolled into chained CTEs (generated by a Scala loop over the same
 * [[Rounds]]).
 *
 * Scale posture: the corpus-sized work is ONE pass. The production
 * shape is [[SecondMomentAgg]], a typed Aggregator whose buffer is the
 * (1+d²)-long partial matrix: each partition folds its rows locally
 * (map-side, zero intermediate rows) and the shuffle carries exactly one
 * 32 KiB buffer per partition — at d=64 the whole aggregation moves
 * ~kilobytes regardless of corpus size. The explode-to-(i,j,product)
 * formulation ([[secondMomentExplode]]) is kept as the declarative
 * cross-check (d² rows per vector before the map-side combine — fine at
 * d=64, 1M rows/row at d=1024, which is exactly why the Aggregator is
 * the shipped path); LinalgSpec pins the two bit-equal. The power loop
 * itself runs driver-side over the collected d×d matrix — 4096 longs,
 * corpus-size independent (the BPE/Bloom driver-tiny class).
 *
 * Overflow audit (int64): the AVERAGED matrix `C div n` bounds |C| by
 * the per-vector second-moment ceiling (≤1e12·max|x|² — 1e12 for
 * unit-ish embeddings), independent of corpus size; the renormalized
 * iterate satisfies |v| ≤ 2·scale (see [[powerLoop]]), so each
 * matrix-vector product is bounded by d·|C|·2·scale = 64·1e12·2e4 ≈
 * 1.3·10¹⁸ < 2⁶³. The contract requires d·max|x|²·1e12·2·scale < 2⁶³ —
 * at d=64/scale=1e4 that is per-component |x| ≤ ~2.6, satisfied by any
 * normalized embedding family; wider ranges need a lower [[Scale]]. The moment
 * SUM itself is safe for N ≤ 9·10⁶ unit-norm vectors per partition
 * tree; beyond that, pre-divide per-row products by a documented
 * corpus-size constant (same contract both engines).
 */
object Linalg {

  /** Whole-corpus second-moment partial-aggregate: buffer(0) = row
   * count, buffer(1 + i·d + j) = Σ x_i·x_j in µ²-units. Lazily sized on
   * first input so `d` never needs declaring; commutative + associative
   * merge ⇒ partition-order independent (the CMS determinism argument).
   */
  final class SecondMomentAgg extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.empty[Long]
    override def reduce(buf: Array[Long], xq: Seq[Long]): Array[Long] = {
      if (xq == null) return buf
      val d = xq.length
      val b = if (buf.length == 0) new Array[Long](1 + d * d) else buf
      require(b.length == 1 + d * d,
        s"SecondMomentAgg: embedding dim mismatch (buffer d²=${b.length - 1}, row d=$d)")
      val x = xq.toArray
      b(0) += 1L
      var i = 0
      while (i < d) {
        val xi = x(i)
        val base = 1 + i * d
        var j = 0
        while (j < d) { b(base + j) += xi * x(j); j += 1 }
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.length == 0) return b
      if (b.length == 0) return a
      require(a.length == b.length,
        s"SecondMomentAgg: merging buffers of different dims (${a.length} vs ${b.length})")
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
    // ExpressionEncoder, not kryo — the CountMinSketch lesson: native
    // long-array layout, no reflective --add-opens surface.
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Declarative cross-check of [[SecondMomentAgg]]: explode each row
   * into d² (i, j, x_i·x_j) triples and map-side-combine the groupBy.
   * Returns (i, j, c) — the UNAVERAGED integer sums. */
  def secondMomentExplode(emb: DataFrame, embCol: String): DataFrame = {
    val xq = Similarity.quantizeMicros(col(embCol))
    emb.select(explode(flatten(transform(xq, (xi, i) =>
        transform(xq, (xj, j) => struct(i.as("i"), j.as("j"), (xi * xj).as("p")))))).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(sum(col("t.p")).as("c"))
  }

  /** Driver-side fixed-point power iteration over the averaged moment
   * matrix. v₀ = (scale, …, scale); each round w = C·v, then
   * v′ = w div max(1, max|w| div scale) — the DIVIDE-BY-QUOTIENT
   * renormalization, chosen over the naive `(w·scale) div max|w|`
   * because the latter's product overflows int64 the moment
   * max|w| > 2⁶³/scale (≈9·10¹⁴ at scale=10⁴ — reachable from one
   * round over a realistic moment matrix; caught by LinalgSpec's BigInt
   * reference). The safe form never multiplies: |v′| ≤ 2·scale (since
   * x div ⌊x/s⌋ ≤ 2s for x ≥ s), and when max|w| < scale the iterate
   * passes through verbatim (small-signal regime, divisor 1). Integer
   * division truncates toward zero on both engines. */
  private[graft] def powerLoop(cavg: Array[Array[Long]], rounds: Int, scale: Long): Array[Long] = {
    val d = cavg.length
    var v = Array.fill(d)(scale)
    var r = 0
    while (r < rounds) {
      val w = new Array[Long](d)
      var i = 0
      while (i < d) {
        var s = 0L
        val row = cavg(i)
        var j = 0
        while (j < d) { s += row(j) * v(j); j += 1 }
        w(i) = s
        i += 1
      }
      var m = 0L
      i = 0
      while (i < d) { val a = math.abs(w(i)); if (a > m) m = a; i += 1 }
      val div = math.max(1L, m / scale)
      v = w.map(_ / div)
      r += 1
    }
    v
  }

  /** Collect the averaged d×d moment matrix (one aggregated row — the
   * only thing that ever reaches the driver). */
  private def momentMatrix(emb: DataFrame, embCol: String): Array[Array[Long]] = {
    val agg = udaf(new SecondMomentAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val row = emb
      .select(Similarity.quantizeMicros(col(embCol)).as("xq"))
      .agg(agg(col("xq")).as("m"))
      .head().getSeq[Long](0)
    require(row.nonEmpty, "pcaTopDirection: empty corpus")
    val n = row.head
    val flat = row.drop(1)
    val d = math.sqrt(flat.length.toDouble).round.toInt
    Array.tabulate(d, d)((i, j) => flat(i * d + j) / n)
  }

  /** Power-iteration rounds, and fixed-point units of a direction component. */
  val Rounds = 5
  val Scale = 10000L

  /** The top-direction operator: (dim, v_fixed) in [[Scale]] units after
   * [[Rounds]] power-iteration rounds. */
  def pcaTopDirection(emb: DataFrame, embCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val v = powerLoop(momentMatrix(emb, embCol), Rounds, Scale)
    v.zipWithIndex.map { case (x, i) => (i, x) }.toSeq.toDF("dim", "v_fixed")
  }

  /**
   * X37c — Hotelling deflation in STAGED integer arithmetic: C₂ =
   * C − λ̂·u uᵀ with every step an int64 operation shared verbatim by
   * the oracle. The staging IS the committed formula (not an
   * approximation of an unstaged one — truncating division does not
   * distribute over the product, so the definition is the sequence):
   *
   *   w  = C·v            (the power product; bounded by the class
   *                        overflow contract d·max|C|·2·scale < 2⁶³)
   *   vv = Σ vᵢ²          (≤ d·(2·scale)² — tiny)
   *   λ  = Σ vᵢ·(wᵢ div vv)              (per-component pre-division —
   *                        the naive Σ vᵢ·wᵢ overflows at the contract
   *                        boundary; ≤ d·2·scale·(max|w| div scale²))
   *   w2ᵢ = (λ div vv)·vᵢ + ((λ mod vv)·vᵢ) div vv
   *                        (the mixture-planner staging; largest
   *                        intermediate (λ mod vv)·vᵢ < vv·2·scale)
   *   C₂ᵢⱼ = Cᵢⱼ − w2ᵢ·vⱼ
   *
   * Truncation leaves an O(scale⁻²)-relative residual of the top
   * direction in C₂ — far below what 5 power rounds re-amplify — and
   * both engines compute the identical C₂, so the second direction is
   * bit-exact cross-engine like the first.
   */
  private[graft] def deflate(cavg: Array[Array[Long]], v: Array[Long]): Array[Array[Long]] = {
    val d = cavg.length
    val w = new Array[Long](d)
    var i = 0
    while (i < d) {
      var s = 0L; var j = 0
      while (j < d) { s += cavg(i)(j) * v(j); j += 1 }
      w(i) = s; i += 1
    }
    val vv = v.map(x => x * x).sum
    var lam = 0L
    i = 0
    while (i < d) { lam += v(i) * (w(i) / vv); i += 1 }
    val q = lam / vv
    val r = lam % vv
    val w2 = v.map(vi => q * vi + (r * vi) / vv)
    Array.tabulate(d, d)((i, j) => cavg(i)(j) - w2(i) * v(j))
  }

  /** Top TWO principal directions: (component ∈ {1, 2}, dim, v_fixed).
   * Component 2 is the power iterate of the deflated matrix — same
   * rounds, same renormalization, same engine-exactness argument. */
  def pcaTop2Directions(emb: DataFrame, embCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val c = momentMatrix(emb, embCol)
    val v1 = powerLoop(c, Rounds, Scale)
    val v2 = powerLoop(deflate(c, v1), Rounds, Scale)
    (v1.zipWithIndex.map { case (x, i) => (1L, i, x) } ++
      v2.zipWithIndex.map { case (x, i) => (2L, i, x) })
      .toSeq.toDF("component", "dim", "v_fixed")
  }

  /** Projection face: each vector's integer coordinate along a fixed
   * direction (µ·scale units) — Σ x_µᵢ·vᵢ per row, shuffle-free. */
  def pcaProject(emb: DataFrame, idCol: String, embCol: String, v: Array[Long]): DataFrame = {
    val xq = Similarity.quantizeMicros(col(embCol))
    emb.select(col(idCol),
      aggregate(zip_with(xq, typedlit(v.toSeq), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("proj_fixed"))
  }

  /** Fused convenience: direction + projection in one call (the
   * direction is computed once and inlined as a literal — no join). */
  def pcaProjectTop(emb: DataFrame, idCol: String, embCol: String): DataFrame = {
    val v = powerLoop(momentMatrix(emb, embCol), Rounds, Scale)
    pcaProject(emb, idCol, embCol, v)
  }
}
