package graft.ext

import graft.SparkSpec
import graft.io.TableIO
import org.apache.spark.sql.functions._

/** X37 — fixed-point PCA power iteration (graft.ext.Linalg). */
class LinalgSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = TableIO.read(spark, Sf, "embeddings")

  test("SecondMomentAgg equals the explode/groupBy formulation bit-for-bit") {
    val agg = udaf(new Linalg.SecondMomentAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val row = emb.select(Similarity.quantizeMicros(col("embedding")).as("xq"))
      .agg(agg(col("xq")).as("m")).head().getSeq[Long](0)
    val n = row.head
    val d = math.sqrt((row.length - 1).toDouble).round.toInt
    assert(n == emb.count())
    val ref = Linalg.secondMomentExplode(emb, "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(ref.size == d * d)
    for (i <- 0 until d; j <- 0 until d)
      assert(row(1 + i * d + j) == ref((i, j)),
        s"moment ($i,$j): agg=${row(1 + i * d + j)} explode=${ref((i, j))}")
  }

  test("null embeddings drop from numerator AND divisor: PCA invariant to null rows") {
    // SecondMomentAgg skips null vectors in both the moment sums and its
    // row counter; the oracle divides by the same non-null count — so the
    // top direction over a corpus with null-embedding rows must equal the
    // one over the corpus with them removed (the uncorrected oracle
    // divided by count(*) and diverged)
    val clean = Seq(
      (1L, Seq(1.0f, 0.1f, 0.0f)), (2L, Seq(0.9f, 0.2f, 0.1f)),
      (3L, Seq(0.8f, -0.1f, 0.2f)), (4L, Seq(1.1f, 0.0f, -0.1f)))
      .toDF("vec_id", "embedding")
    val withNulls = clean.union(
      Seq((5L, null.asInstanceOf[Seq[Float]]), (6L, null.asInstanceOf[Seq[Float]]))
        .toDF("vec_id", "embedding"))
    val a = Linalg.pcaTopDirection(clean, "embedding").orderBy("dim")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val b = Linalg.pcaTopDirection(withNulls, "embedding").orderBy("dim")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(a == b, s"null rows shifted the direction: $a vs $b")
  }

  test("powerLoop matches an independent BigInt re-derivation") {
    // Independent reference: BigInt arithmetic throughout (overflow-free
    // by construction), functional style — shares no code with the
    // while-loop Long implementation it checks.
    def refLoop(c: Array[Array[Long]], rounds: Int, scale: Long): Seq[BigInt] = {
      val d = c.length
      (1 to rounds).foldLeft(Seq.fill(d)(BigInt(scale))) { (v, _) =>
        val w = (0 until d).map(i => (0 until d).map(j => BigInt(c(i)(j)) * v(j)).sum)
        val div = w.map(_.abs).max / scale max BigInt(1)
        w.map(_ / div) // BigInt / truncates toward zero, like Java / and DuckDB //
      }
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val d = 3 + rnd.nextInt(6)
      val c = Array.fill(d, d)(rnd.nextLong() % 1000000000000L)
      val got = Linalg.powerLoop(c, rounds = 5, scale = 10000L)
      val want = refLoop(c, rounds = 5, scale = 10000L)
      assert(got.map(BigInt(_)).toSeq == want, s"trial $trial d=$d")
    }
  }

  test("powerLoop recovers a known dominant eigendirection") {
    // Diagonal matrix with a 10× eigengap: the iterate must align with
    // e₀ and suppress the weak axis geometrically (each round shrinks
    // the off-axis component by the eigenvalue ratio).
    val c = Array(
      Array(1000000000000L, 0L, 0L),
      Array(0L, 100000000000L, 0L),
      Array(0L, 0L, 10000000000L))
    val v = Linalg.powerLoop(c, rounds = 5, scale = 10000L)
    assert(v(0) >= 10000L && v(0) <= 20000L, s"dominant axis: ${v.mkString(",")}")
    assert(math.abs(v(1)) <= v(0) / 1000, s"10^-5-suppressed axis survived: ${v.mkString(",")}")
    assert(math.abs(v(2)) <= v(0) / 10000, s"10^-10-suppressed axis survived: ${v.mkString(",")}")
    // and the fixture corpus stays in the renormalized band
    val vf = Linalg.pcaTopDirection(emb, "embedding")
      .orderBy("dim").collect().map(_.getLong(1))
    assert(vf.length == 64)
    val mx = vf.map(math.abs).max
    assert(mx >= 5000L && mx <= 20000L, s"renormalized band violated: max|v|=$mx")
  }

  test("deflation recovers the SECOND eigendirection and matches the staged-integer recipe") {
    // Diagonal with a clear spectrum: after deflating e₀, the iterate
    // must align with e₁ and suppress both e₀ (deflated) and e₂ (weak).
    val c = Array(
      Array(1000000000000L, 0L, 0L),
      Array(0L, 100000000000L, 0L),
      Array(0L, 0L, 10000000000L))
    val v1 = Linalg.powerLoop(c, rounds = 5, scale = 10000L)
    val c2 = Linalg.deflate(c, v1)
    val v2 = Linalg.powerLoop(c2, rounds = 5, scale = 10000L)
    assert(math.abs(v2(1)) >= 10000L, s"second axis not dominant: ${v2.mkString(",")}")
    assert(math.abs(v2(0)) <= math.abs(v2(1)) / 100,
      s"deflated top axis survived: ${v2.mkString(",")}")
    assert(math.abs(v2(2)) <= math.abs(v2(1)) / 100,
      s"weak axis survived: ${v2.mkString(",")}")
    // the staged recipe, re-derived independently step for step (the
    // staging IS the committed formula — this pins every truncation)
    val d = c.length
    val w = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v1(j)).sum)
    val vv = v1.map(x => x * x).sum
    val lam = (0 until d).map(i => v1(i) * (w(i) / vv)).sum
    val w2 = v1.map(vi => (lam / vv) * vi + ((lam % vv) * vi) / vv)
    for (i <- 0 until d; j <- 0 until d)
      assert(c2(i)(j) == c(i)(j) - w2(i) * v1(j), s"staged recipe diverges at ($i,$j)")
    // end-to-end on the fixture: two components, both in the
    // renormalized band, near-orthogonal after normalization
    val rows = Linalg.pcaTop2Directions(emb, "embedding")
      .orderBy("component", "dim").collect()
    val f1 = rows.filter(_.getLong(0) == 1L).map(_.getLong(2)).map(_.toDouble)
    val f2 = rows.filter(_.getLong(0) == 2L).map(_.getLong(2)).map(_.toDouble)
    assert(f1.length == 64 && f2.length == 64)
    def norm(x: Array[Double]) = math.sqrt(x.map(a => a * a).sum)
    val cos = f1.zip(f2).map { case (a, b) => a * b }.sum / (norm(f1) * norm(f2))
    // loose band on the near-random fixture: its spectrum is nearly
    // flat, so 5 rounds leave some mixing (measured ~0.105); the sharp
    // orthogonality evidence is the synthetic-diagonal assertions above
    assert(math.abs(cos) < 0.25, s"components not near-orthogonal: cos=$cos")
  }

  test("projection face: shuffle-free plan, values match a local recompute") {
    val v = Linalg.powerLoop(
      Array(Array(4L, 1L), Array(1L, 2L)), rounds = 5, scale = 10000L)
    val df = Seq((1L, Seq(0.5f, -0.25f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(-1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Linalg.pcaProject(df, "vec_id", "embedding", v)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    def q(x: Float): Long = math.floor(x.toDouble * 1e6).toLong
    val want = Seq(
      1L -> (q(0.5f) * v(0) + q(-0.25f) * v(1)),
      2L -> 0L,
      3L -> (q(-1.0f) * v(0) + q(1.0f) * v(1)))
    assert(got.toSeq == want)
    val plan = Linalg.pcaProject(df, "vec_id", "embedding", v)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
  }

  test("dim-mismatch and empty-corpus guards fail fast") {
    val bad = Seq(Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)).toDF("embedding")
    val ex = intercept[Exception] {
      Linalg.pcaTopDirection(bad, "embedding").collect()
    }
    assert(ex.getMessage != null)
    intercept[Exception] {
      Linalg.pcaTopDirection(emb.filter(lit(false)), "embedding").collect()
    }
  }
}
