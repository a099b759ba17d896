package graft.run

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.TableIO

/**
 * Backfill/catch-up driver for the streaming state maintainers
 * ([[StreamingKnn]], [[StreamingCuration]]): replays a directory of
 * HISTORICAL batches — one parquet table per micro-batch, named
 * `batch_<id>` — through the maintainer's public `foldBatch` hook, so a
 * cold-started ledger is built through the IDENTICAL transaction the
 * live stream uses (same LedgerSwap swap, same in-ledger watermark, same
 * regime-audit arm choice).
 *
 * Because the watermark semantics come from `foldBatch` itself, a replay
 * is RESUMABLE and IDEMPOTENT for free: re-running over the same
 * directory (after a crash, or overlapping an already-live ledger) skips
 * every batch at or below the stored watermark and folds only the rest —
 * exactly the at-least-once-delivery dedup the streaming face relies on.
 * BackfillSpec pins the three-way equality this buys: cold-start
 * backfill ≡ streaming fold ≡ batch rebuild.
 *
 * At scale the batch directory is whatever the ingest bus already lands
 * (hourly parquet drops); the driver reads one batch at a time, so its
 * footprint is the maintainer's own per-batch cost.
 */
object Backfill {

  /** The `batch_<id>` tables under `batchesDir`, sorted by id. */
  def listBatches(spark: SparkSession, batchesDir: String): Seq[(Long, String)] = {
    val root = new Path(batchesDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .map(_.getPath)
      .flatMap { p =>
        p.getName match {
          case s if s.startsWith("batch_") && s.drop(6).forall(_.isDigit) && s.length > 6 =>
            Some(s.drop(6).toLong -> p.toString)
          case _ => None
        }
      }
      .sortBy(_._1)
  }

  /** Replay every batch through `fold` (a maintainer's foldBatch with
   * everything but the frame and id applied) in id order. Returns
   * (batchId, arm) per batch presented — `arm` is foldBatch's return
   * (true = rebuild arm, false = incremental arm or watermark-skipped
   * replay), so a caller can log the regime decisions of a backfill. */
  def replay(spark: SparkSession, batchesDir: String)(
      fold: (DataFrame, Long) => Boolean): Seq[(Long, Boolean)] =
    listBatches(spark, batchesDir).map { case (id, path) =>
      id -> fold(TableIO.read(spark, path), id)
    }

  /** Write one batch into the `batch_<id>` layout [[replay]] reads —
   * the producer-side convention helper (a live pipeline would land
   * these from its ingest bus). */
  def writeBatch(df: DataFrame, batchesDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(f"$batchesDir/batch_$batchId%05d")
}
