package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * X44 — discriminative quality classifier: full-batch BINARY PERCEPTRON
 * (Rosenblatt 1958's rule, run as the deterministic batch variant) over
 * hashed token features, in pure INTEGER arithmetic so Spark and the SQL
 * oracle train the identical model and make the identical predictions.
 * Complements the generative X39 Naive Bayes: same hashing-trick feature
 * space, but a trained decision boundary (the fastText-style linear
 * classifier of CCNet-shaped curation stacks — Joulin et al. 2016)
 * instead of count ratios.
 *
 * Exactness: with labels y ∈ {−1, +1}, integer term frequencies tf and
 * integer weights w, one epoch is
 *
 *   margin_i = Σ_d w[d]·tf_{i,d}          (exact int64)
 *   M        = { i : y_i·margin_i ≤ 0 }   (0 counts as misclassified)
 *   w′[d]    = w[d] + Σ_{i∈M} y_i·tf_{i,d}
 *
 * Every quantity is an integer SUM — commutative, so partition order
 * cannot perturb the model (the property float SGD lacks; this is why
 * the batch rule is the distributed-exact choice, not per-row updates).
 * A fixed epoch count is operator contract: the weight trajectory is a
 * pure function of (corpus, dims, epochs) in both engines.
 *
 * Features: [[TextOps.tokenHash]] folded to `dims` buckets (the hashing
 * trick) — the weight vector is a `dims`-row table, broadcast to every
 * stage. Per-doc tf comes from the HashCounts kernel inside the row
 * (no groupBy(doc, token) exchange), then collapses to ≤ dims rows per
 * doc in one map-side-combined aggregate.
 *
 * Scale posture: the corpus-sized feature stream is staged ONCE; each
 * epoch is (a) one broadcast join against the O(dims) weight table +
 * doc-keyed margin aggregate (map-side combined, ≤ 1 row/doc out),
 * (b) one slim doc-keyed semi-join carrying the misclassified ids, and
 * (c) one dims-bounded gradient aggregate. Nothing iterates per row on
 * the driver; epochs are bounded; a Zipf-hot token is not a hot key
 * (shuffle keys are doc_id and the ≤ dims bucket id whose values are
 * pre-combined map-side).
 */
object Perceptron {

  /** (doc_id-as-idCol, y, dim, tf) hashed-bucket feature stream.
   * `yCol` must evaluate to ±1. */
  def featureStream(df: DataFrame, idCol: String, textCol: String,
      yCol: Column, dims: Int): DataFrame = {
    val K = org.apache.spark.sql.graft.SignatureKernels
    val th = K.tokenHashes(TextOps.tokens(col(textCol)), Dedup.P)
    df.select(col(idCol), yCol.as("y"), explode(K.hashCounts(th)).as("tc"))
      .select(col(idCol), col("y"),
        pmod(col("tc.h"), lit(dims.toLong)).as("dim"), col("tc.c").as("tf"))
      .groupBy(col(idCol), col("y"), col("dim"))
      .agg(sum(col("tf")).as("tf"))
  }

  /** Train `epochs` full-batch epochs from zero weights; returns the
   * (dim, w) table. `feats` is re-read 2·epochs times — stage it. */
  def train(feats: DataFrame, idCol: String, dims: Int, epochs: Int): DataFrame = {
    require(epochs >= 1 && dims >= 1, s"epochs >= 1 and dims >= 1 required")
    val spark = feats.sparkSession
    var w = spark.range(dims).select(col("id").as("dim"), lit(0L).as("w"))
    (1 to epochs).foreach { _ =>
      val margins = feats.join(broadcast(w), "dim")
        .groupBy(col(idCol), col("y"))
        .agg(sum(col("tf") * col("w")).as("margin"))
      val mis = margins.filter(col("y") * col("margin") <= 0).select(idCol)
      val grad = feats.join(mis, idCol)
        .groupBy("dim").agg(sum(col("y") * col("tf")).as("g"))
      w = w.join(grad, Seq("dim"), "left_outer")
        .select(col("dim"), (col("w") + coalesce(col("g"), lit(0L))).as("w"))
        .localCheckpoint(eager = false) // (b): cut the per-epoch lineage
    }
    w
  }

  /** Score a corpus against a trained weight table: (id, margin, pred)
   * with pred = +1 iff margin > 0 (0 predicts −1, the same boundary side
   * the training rule treats as misclassified). Documents producing no
   * tokens produce no row — identically in the oracle. */
  def classify(df: DataFrame, idCol: String, textCol: String,
      w: DataFrame, dims: Int): DataFrame =
    featureStream(df, idCol, textCol, lit(1), dims)
      .join(broadcast(w), "dim")
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("w")).as("margin"))
      .withColumn("pred", when(col("margin") > 0, lit(1)).otherwise(lit(-1)))
}
