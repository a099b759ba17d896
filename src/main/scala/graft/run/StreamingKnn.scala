package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Similarity
import graft.io.TableIO

/**
 * Streaming face of the X36e(d) incremental banded kNN state (§2.10 ∘
 * X36e(d)): a `foreachBatch` maintainer that folds each micro-batch of
 * embeddings into a persisted two-frame ledger —
 *
 *  - `corpus`   : (vec_id, embedding) of everything ingested so far;
 *  - `survivors`: (symmetric face only) the per-band forward top-k
 *                 survivor lists — the minimal foldable state, maintained
 *                 by [[Similarity.bandSurvivorsIncremental]] (spec-pinned
 *                 rebuild-equal batch after batch);
 *  - `directed` : the banded multi-probe DIRECTED top-k edge view —
 *                 derived from survivors on the symmetric face
 *                 ([[Similarity.directedFromSurvivors]]), maintained by
 *                 [[Similarity.knnDirectedBandedIncremental]] on the
 *                 asymmetric one.
 *
 * Transactionality is [[LedgerSwap]] verbatim (the [[StreamingCuration]]
 * pattern): checkpointed offsets give at-least-once delivery, the
 * in-ledger watermark dedups replays at batch level (the fold is not
 * idempotent — re-folding a batch double-inserts its vectors), and the
 * sealed staging swap moves both frames together so a reader never sees
 * a corpus without its edges.
 *
 * Contract: ingest is APPEND-ONLY with batch-disjoint `vec_id`s (the
 * incremental fold's exactness argument needs corpus ∩ delta = ∅), and
 * the banding parameters are operator contract — grow them by
 * REBUILDING, never mid-stream.
 *
 * Scale: each batch pays the incremental delta pass (affected-query
 * footprint only — SCALING.md's measured localized-regime economics)
 * plus one parquet rewrite of the two frames. The rewrite is
 * corpus-linear; a 100 TB deployment would keep `corpus` as an
 * append-only table and `directed` behind an Iceberg/Delta-style merge
 * (the fold's algebra — anti-join affected src, union recomputed — maps
 * 1:1 onto a merge predicate); the directory swap keeps the harness
 * dependency-free. A diffuse batch is the measured uniform-delta regime
 * (cost ≈ rebuild, exactness unaffected) — each fold consults the
 * X36e(f) regime audit and takes the full-rebuild arm when advised
 * (see [[foldBatch]]).
 */
object StreamingKnn {

  /** Start the maintainer over a streaming frame with columns
   * (vec_id, embedding: array<float>). */
  def start(incoming: DataFrame, stateDir: String, checkpointDir: String,
      k: Int, bands: Int = 4, bandPlanes: Int = Similarity.LshPlanes,
      symmetric: Boolean = false,
      rebuildThresholdPpm: Long = 300000L): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, k, bands, bandPlanes,
          symmetric, rebuildThresholdPpm): Unit
      }
      .start()

  /** One batch application — public so a backfill driver can apply
   * parquet-sourced batches through the identical transaction.
   *
   * Each non-bootstrap batch first consults
   * [[Similarity.knnDeltaRegimeAudit]] (X36e(f)): a DIFFUSE batch —
   * affected-query fraction at or above `rebuildThresholdPpm` — is the
   * measured uniform-delta regime where the incremental fold recomputes
   * ≈ the whole graph through a slower path, so the maintainer folds it
   * via a full [[Similarity.knnDirectedBanded]] rebuild over the union
   * instead (edge-equal by the pinned incremental-equals-rebuild
   * property, same [[LedgerSwap]] transaction either way).
   *
   * @return true when the batch folded via full rebuild (bootstrap or
   *         audit-advised), false for the incremental arm or a skipped
   *         replay. */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
      k: Int, bands: Int = 4, bandPlanes: Int = Similarity.LshPlanes,
      symmetric: Boolean = false,
      rebuildThresholdPpm: Long = 300000L): Boolean = {
    val spark = batch.sparkSession
    LedgerSwap.recover(spark, stateDir)
    if (batchId <= LedgerSwap.watermark(spark, stateDir)) return false

    val slim = batch.select(col("vec_id"), col("embedding"))
    // the symmetric face folds the per-band SURVIVOR lists (the minimal
    // state — the directed graph is a slim derivation over them, see
    // Similarity.directedFromSurvivors) and persists BOTH frames:
    // survivors for the next fold, directed for readers. The asymmetric
    // face folds the directed edges themselves. The survivors are staged,
    // (a): the commit writes them and the directed frame derived from them.
    def build(emb: DataFrame): Seq[(String, DataFrame)] =
      if (symmetric) {
        val sv = Similarity.bandSurvivors(emb, k, bands, bandPlanes)
          .localCheckpoint(eager = false)
        Seq("survivors" -> sv, "directed" -> Similarity.directedFromSurvivors(sv, k))
      } else
        Seq("directed" -> Similarity.knnDirectedBanded(emb, k, bands, bandPlanes))
    val (corpusNext, stateFrames, rebuilt) =
      if (!LedgerSwap.exists(spark, stateDir))
        // bootstrap: the first batch IS the corpus
        (slim, build(slim), true)
      else {
        val corpus = TableIO.read(spark, s"$stateDir/corpus.parquet")
        val union = corpus.unionByName(slim)
        val advise = Similarity.knnDeltaRegimeAudit(corpus, slim,
            bands, bandPlanes, adviseAbovePpm = rebuildThresholdPpm)
          .select("advise_rebuild").head().getBoolean(0)
        if (advise)
          (union, build(union), true)
        else if (symmetric) {
          val sv = Similarity.bandSurvivorsIncremental(corpus, slim,
              TableIO.read(spark, s"$stateDir/survivors.parquet"),
              k, bands, bandPlanes)
            .localCheckpoint(eager = false)
          (union, Seq("survivors" -> sv,
            "directed" -> Similarity.directedFromSurvivors(sv, k)), false)
        } else
          (union, Seq("directed" -> Similarity.knnDirectedBandedIncremental(
            corpus, slim, TableIO.read(spark, s"$stateDir/directed.parquet"),
            k, bands, bandPlanes)), false)
      }
    LedgerSwap.commit(spark, stateDir, batchId,
      ("corpus" -> corpusNext) +: stateFrames)
    rebuilt
  }

  /** The persisted directed edge state (what the next fold reads). */
  def directed(spark: SparkSession, stateDir: String): DataFrame =
    TableIO.read(spark, s"$stateDir/directed.parquet")

  /** The MUTUAL graph view over the persisted state — what
   * `knn_communities` consumes between batches (the standard mutuality
   * self-join over the slim int edge list, no embeddings). */
  def mutualGraph(spark: SparkSession, stateDir: String): DataFrame =
    Similarity.mutualEdges(directed(spark, stateDir))
}
