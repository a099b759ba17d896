package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.CdmConfig
import graft.io.TableIO
import graft.jobs.Migrate

/**
 * J1 + S5/S6/E1 — resumable, run-tracked migration.
 *
 * The reference records per-token-range status rows (`cdm_run_info` /
 * `cdm_run_details`, `[upstream] job/TrackRun.java`) so a rerun with
 * `spark.cdm.trackRun.previousRunId` re-processes only ranges that did
 * not PASS. The Spark-native analog keeps the ranges **stable across
 * runs** by bucketing rows on the ring-token hash
 * (`pmod(token(pk), numParts)` — the same identity the reference's
 * SplitPartitions slices have), writes the target
 * `partitionBy(bucket)` with dynamic partition overwrite (a re-run
 * replaces exactly the buckets it processed, never the whole table), and
 * appends PASS rows to the run ledger only after the write commits.
 *
 * Scale: resume filters the origin rows by pending bucket. Against a live
 * cluster the bucket predicate IS a set of ring-token ranges, which the
 * connector pushes into the CQL scan — a 99%-complete migrate re-reads
 * ~1% of the data. In the parquet harness the bucket is a derived column,
 * so the scan still reads rows and the filter drops them before any
 * shuffle/write — the expensive phases stay proportional to the missing
 * work in both backends; only the live backend also prunes the read.
 */
object TrackedMigrate {

  val BucketCol = "__part"

  /** The ring-bucket count when `spark.cdm.perfops.numParts` is unset.
   * The migrate, the validate's diff partition file and its autocorrect
   * rewrite all bucket with it, so their bucket ids agree. */
  val DefaultNumParts = 32

  def bucketOf(pkCol: String, numParts: Int) =
    pmod(TableIO.tokenOf(col(pkCol)), lit(numParts.toLong)).cast("int")

  /** Run (or resume) a tracked migrate. Returns the bucket ids processed
   * in this run. */
  def run(spark: SparkSession, cfg: CdmConfig, runId: String): Seq[Int] = {
    val numParts = cfg.perf.numParts.getOrElse(DefaultNumParts)
    val ledgerDir = cfg.trackRun.ledgerDir.getOrElse(cfg.target.path)
    val pk = cfg.schema.primaryKey.headOption
      .getOrElse(throw new IllegalArgumentException("trackRun requires a primary key"))

    val pending: Seq[Int] = (cfg.trackRun.previousRunId, cfg.partitionFile.input) match {
      case (Some(prev), _) =>
        val all = spark.range(numParts).select(col("id").cast("int").as("part_id"))
        RunLedger.pendingParts(all, RunLedger.load(spark, ledgerDir), prev)
          .collect().map(_.getInt(0)).toSeq.sorted
      // S5: a partition FILE seeds the retry set directly (the reference's
      // tokenrange.partitionFile.input text file of failed ranges)
      case (None, Some(pf)) =>
        RunLedger.readPartitionFile(spark, pf)
          .collect().map(_.getInt(0)).toSeq.sorted
      case _ => 0 until numParts
    }
    // the output partition file must reflect THIS run's outcome even when
    // nothing is pending — a stale failed-ranges file from a prior run
    // would otherwise re-seed ranges that are already done
    def writeEmptyFailedFile(): Unit = {
      import spark.implicits._
      cfg.partitionFile.output.foreach { out =>
        RunLedger.writePartitionFile(Seq.empty[Int].toDF("part_id"), out)
      }
    }
    if (pending.isEmpty) { writeEmptyFailedFile(); return Nil }

    val planned = Migrate.plan(spark, cfg)
    val pkAfterRename = cfg.schema.renameMap.getOrElse(pk, pk)
    val bucketed = planned.withColumn(BucketCol, bucketOf(pkAfterRename, numParts))
      .filter(col(BucketCol).isin(pending: _*))

    val targetTable = cfg.schema.targetTable.getOrElse(cfg.schema.table)
    bucketed.write
      .mode("overwrite")
      // writer-level option, NOT spark.conf.set: a session-wide dynamic
      // overwrite default would silently change the semantics of every
      // later partitioned overwrite in the same session
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BucketCol)
      .parquet(s"${cfg.target.path}/$targetTable.parquet")

    // PASS is recorded only after the write above committed.
    import spark.implicits._
    RunLedger.record(spark, ledgerDir, runId,
      pending.toDF("part_id").withColumn("status", lit(RunLedger.Pass)))
    // S5: a configured output partition file records the ranges STILL
    // failed after this run — empty here, because a Spark write that
    // commits has processed every pending bucket (a failed write throws
    // before the ledger/file are touched, so the previous file stands).
    writeEmptyFailedFile()
    pending
  }
}
