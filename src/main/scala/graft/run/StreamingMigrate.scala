package graft.run

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.TableIO
import graft.ops.Upsert

/**
 * Continuous (CDC-style) migration — the Structured Streaming face of J1
 * (SURVEY.md §2.10): the reference migrates a finite ring scan and
 * exits; the natural evolution is a change FEED from origin merged into
 * the target forever. Each micro-batch merges by last-writer-wins
 * ([[graft.ops.Upsert.lastWriterWins]] — the Cassandra reconciliation
 * rule), so the pipeline is idempotent: the checkpoint gives
 * at-least-once batch delivery, LWW makes redelivery a no-op, and the
 * two together give exactly-once TARGET STATE without any sink
 * transaction support.
 *
 * The parquet target is swapped per batch ([[graft.io.TableIO.swap]]:
 * write to a staging dir, then rename) — overwriting a path while the
 * merge plan still lazily reads it would corrupt the table, and a crash
 * mid-write must leave the previous state intact. With the Cassandra
 * connector the merge/swap collapses to native per-row upserts carrying
 * `USING TIMESTAMP` (writes are idempotent at the cell level), and the
 * same foreachBatch shape just issues them.
 */
object StreamingMigrate {

  def start(incoming: DataFrame, targetDir: String, table: String, pkCols: Seq[String],
      writetimeCol: String, checkpointDir: String): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val path = new Path(s"$targetDir/$table.parquet")
        // Crash recovery BEFORE reading: a finished-but-unrenamed staging
        // is the last durable state (the checkpoint then replays the batch
        // onto it; LWW makes that a no-op).
        TableIO.recoverSwap(spark, targetDir, table)
        val current =
          if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
            TableIO.read(spark, path.toString)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        TableIO.swap(Upsert.lastWriterWins(current, batch, pkCols, writetimeCol), targetDir, table)
      }
      .start()
}
