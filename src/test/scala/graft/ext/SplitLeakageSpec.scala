package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X40 — split-leakage audit (graft.ext.Dedup.splitLeakageAudit). */
class SplitLeakageSpec extends SparkSpec {
  import spark.implicits._

  private def draw(id: Long): Long = ((id % 2147483648L) * 2654435761L) % 1000000L
  private def isEval(id: Long, ppm: Long): Boolean = draw(id) < ppm

  // Near-dup pairs engineered on BOTH sides of a 50% split: ids are
  // picked so each pair is (eval, train), (train, train) or (eval, eval)
  // under the hash draw — the audit must return exactly the cross pairs,
  // oriented eval-first, regardless of which side has the smaller id.
  private val ppm = 500000L
  private val ids = (0L until 40L).toSeq
  private val evalIds = ids.filter(isEval(_, ppm))
  private val trainIds = ids.filterNot(isEval(_, ppm))

  test("returns exactly the cross-split verified pairs, oriented eval-first") {
    // three near-dup FAMILIES (identical text => jaccard 1.0): family A
    // spans the split, family B is train-only, family C is eval-only
    val a = Seq(evalIds(0), evalIds(1), trainIds(0))
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val b = Seq(trainIds(1), trainIds(2))
      .map(i => (i, "iota kappa lambda mu nu xi omicron pi"))
    val c = Seq(evalIds(2), evalIds(3))
      .map(i => (i, "rho sigma tau upsilon phi chi psi omega"))
    val docs = (a ++ b ++ c).toDF("doc_id", "text")

    val audit = Dedup.splitLeakageAudit(docs, "doc_id", "text",
        evalPpm = ppm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // independent expectation: verified pairs composed with a plain
    // Scala split filter + orientation
    val verified = Dedup.verifiedNearDupPairs(docs, "doc_id", "text", 0.5, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = verified.collect {
      case (x, y) if isEval(x, ppm) != isEval(y, ppm) =>
        if (isEval(x, ppm)) (x, y) else (y, x)
    }.toSet
    assert(audit == want, s"audit=$audit want=$want")
    // family A contributes its two cross pairs; B and C contribute none
    assert(want.map(_._2) == Set(trainIds(0)))
    assert(want.map(_._1) == Set(evalIds(0), evalIds(1)))
    // orientation invariant: every eval_id draws below the ppm, every
    // train_id at or above
    audit.foreach { case (e, t) =>
      assert(isEval(e, ppm) && !isEval(t, ppm))
    }
  }

  test("negative ids: Spark pmod draw == the oracle's pmod-corrected arithmetic") {
    // DuckDB's % keeps the dividend's sign; the oracle SQL mirrors
    // Spark's pmod as ((x % m) + m) % m — pin the two formulations equal
    // where they used to diverge (id < 0)
    def pmodL(x: Long, m: Long): Long = ((x % m) + m) % m
    def oracleDraw(id: Long): Long =
      pmodL(pmodL(id, 2147483648L) * 2654435761L, 1000000L)
    val ids = Seq(-1L, -42L, -2147483649L, -999999937L, Long.MinValue / 4096, 0L, 7L)
    val sparkDraw = ids.toDF("id").select(
        pmod(pmod(col("id").cast("long"), lit(2147483648L)) * lit(2654435761L),
          lit(1000000L)).as("d"))
      .as[Long].collect().toSeq
    assert(sparkDraw == ids.map(oracleDraw), "draw arithmetic diverged on negative ids")
    // end-to-end: a negative-id near-dup pair still splits and orients
    // by the same rule
    val negDocs = Seq(-3L, -8L, -11L, -17L, -20L, -26L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val out = Dedup.splitLeakageAudit(negDocs, "doc_id", "text",
        evalPpm = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def ev(id: Long) = oracleDraw(id) < 500000L
    assert(out.nonEmpty && out.forall { case (e, t) => ev(e) && !ev(t) },
      s"negative-id orientation broke: ${out.toSeq}")
  }

  test("evalPpm = 0 (everything train) finds no leakage") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    assert(Dedup.splitLeakageAudit(docs, "doc_id", "text", evalPpm = 0L).count() == 0)
  }
}
