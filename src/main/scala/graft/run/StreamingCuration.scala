package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{PipelineIncremental, TextOps}
import graft.io.TableIO

/**
 * Streaming face of the X42b incremental curation pipeline (§2.10 ∘
 * X42b): a `foreachBatch` maintainer that folds each micro-batch of
 * documents into the persisted [[PipelineIncremental.CurationState]]
 * ledger — the [[StreamingMigrate]] checkpoint/idempotence pattern
 * applied to the curation ledger, with the fold
 * ([[PipelineIncremental.curationStateIncremental]]) proven
 * frame-level rebuild-equal batch after batch (PersistedStateSpec,
 * BandedIncrementalSpec's 2-batch fold pattern).
 *
 * Exactly-once STATE without sink transactions, by composition of:
 *  - checkpointed source offsets → at-least-once batch delivery;
 *  - an applied-batch WATERMARK stored inside the ledger directory
 *    (`_batch`): a replayed batch (its id ≤ the stored watermark) is
 *    skipped whole. Unlike [[StreamingMigrate]]'s LWW merge, the fold
 *    is NOT idempotent (re-folding double-counts train0/kept1 mass and
 *    violates the corpus∩delta = ∅ contract), so replay is de-duplicated
 *    at the batch level rather than the row level — the standard
 *    `foreachBatch` transactional idiom;
 *  - an atomic ledger swap: the folded frames are written to a staging
 *    directory, sealed with a `_complete` marker AFTER every frame (and
 *    the watermark) is durable, and only then swapped in. All ten frames
 *    move together — a partial swap would be an inconsistent ledger.
 *
 * Crash windows: see [[LedgerSwap]] — the swap moves the live ledger
 * aside by rename (never a non-atomic recursive delete), finishes an
 * interrupted swap from the sealed staging, and sweeps leftovers; each
 * window is pinned in LedgerSwapSpec, and the replayed batch is either
 * re-folded (its id above the recovered watermark) or skipped.
 *
 * Scale: each batch pays exactly the incremental delta pass (the fold's
 * per-stage exactness argument — the expensive kernels touch
 * delta + affected rows only) plus one parquet rewrite of the ledger.
 * The rewrite is corpus-linear; a production deployment at 100 TB would
 * swap the three corpus-scale frames (shingles/melted/chunks) for
 * APPEND + tombstone tables or an Iceberg/Delta-style merge — the fold's
 * algebra (anti-join old T2 rows, union new) maps 1:1 onto a merge
 * predicate; the directory swap here keeps the harness dependency-free.
 */
object StreamingCuration {

  /** Start the maintainer over a streaming frame of documents with the
   * same column contract as the batch pipeline. */
  def start(incoming: DataFrame, stateDir: String, checkpointDir: String,
      idCol: String, textCol: String, langCol: String, srcCol: String,
      bounds: TextOps.GopherBounds = TextOps.GopherBounds(),
      rebuildThresholdPpm: Long = 250000L): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, stateDir, idCol, textCol, langCol, srcCol,
          bounds, rebuildThresholdPpm): Unit
      }
      .start()

  /** One batch application — public so a backfill/catch-up driver can
   * apply parquet-sourced batches through the identical transaction.
   *
   * Each non-bootstrap batch first consults
   * [[PipelineIncremental.deltaRegimeAudit]] (X42d): a DIFFUSE batch —
   * touched-bucket fraction at or above `rebuildThresholdPpm` — is the
   * measured uniform-delta regime where the incremental fold costs ≈ a
   * rebuild through a slower path, so the maintainer folds it via
   * [[PipelineIncremental.curationStateRebuild]] instead (frame-equal by
   * the pinned rebuild-equality, same [[LedgerSwap]] transaction either
   * way). The audit itself is a delta-proportional pass over slim stored
   * frames — cheap against the corpus-linear ledger rewrite every batch
   * already pays.
   *
   * @return true when the batch folded via full rebuild (bootstrap or
   *         audit-advised), false for the incremental arm or a skipped
   *         replay. */
  def foldBatch(batch: DataFrame, batchId: Long, stateDir: String,
      idCol: String, textCol: String, langCol: String, srcCol: String,
      bounds: TextOps.GopherBounds = TextOps.GopherBounds(),
      rebuildThresholdPpm: Long = 250000L): Boolean = {
    val spark = batch.sparkSession
    // crash recovery BEFORE anything reads state; then the replay guard
    // (watermark lives INSIDE the swapped directory — see LedgerSwap)
    LedgerSwap.recover(spark, stateDir)
    if (batchId <= LedgerSwap.watermark(spark, stateDir)) return false

    val (next, rebuilt) =
      if (!LedgerSwap.exists(spark, stateDir))
        // bootstrap: the first batch IS the corpus
        (PipelineIncremental.curationState(batch, idCol, textCol, langCol,
          srcCol, bounds), true)
      else {
        val state = PipelineIncremental.fromFrames(
          n => TableIO.read(spark, s"$stateDir/$n.parquet"))
        val advise = PipelineIncremental.deltaRegimeAudit(state, batch,
            idCol, textCol, langCol, srcCol, bounds, rebuildThresholdPpm)
          .select("advise_rebuild").head().getBoolean(0)
        if (advise)
          (PipelineIncremental.curationStateRebuild(state, batch,
            idCol, textCol, langCol, srcCol, bounds), true)
        else
          (PipelineIncremental.curationStateIncremental(state, batch,
            idCol, textCol, langCol, srcCol, bounds), false)
      }

    LedgerSwap.commit(spark, stateDir, batchId,
      PipelineIncremental.toFrames(next).toSeq)
    rebuilt
  }

  /** The run-ledger census over the persisted state — what a monitoring
   * job reads between batches (one linear pass over the slim frames). */
  def census(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      idCol: String, langCol: String): DataFrame =
    PipelineIncremental.censusFromState(
      PipelineIncremental.fromFrames(n => TableIO.read(spark, s"$stateDir/$n.parquet")),
      idCol, langCol)
}
