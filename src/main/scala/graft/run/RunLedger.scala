package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableIO

/**
 * S5/S6/E1 — run tracking and resumable retries.
 *
 * The reference records failed token ranges to a partition file
 * (`spark.cdm.tokenrange.partitionFile.*`, `[upstream]
 * job/SplitPartitions.java` file I/O) and per-range status rows to
 * `cdm_run_info` / `cdm_run_details` tables
 * (`spark.cdm.trackRun`, `[upstream] job/TrackRun.java` +
 * `cql/statement/TargetUpsertRunDetailsStatement.java`), so a rerun with
 * `spark.cdm.trackRun.previousRunId` processes only ranges that did not
 * PASS.
 *
 * Spark-native: the ledger is a parquet table of
 * (run_id, part_id, status); resume = anti-join of the full range set
 * against the previous run's PASSed ranges — a broadcast anti-join in
 * practice (the ledger is tiny relative to the data).
 */
object RunLedger {

  val Pass = "PASS"
  val Fail = "FAIL"
  val Diff = "DIFF"

  def ledgerPath(dir: String): String = s"$dir/run_ledger.parquet"

  /** Append per-partition statuses for a run. */
  def record(spark: SparkSession, dir: String, runId: String, statuses: DataFrame): Unit =
    statuses
      .withColumn("run_id", lit(runId))
      .select("run_id", "part_id", "status")
      .write.mode("append").parquet(ledgerPath(dir))

  def load(spark: SparkSession, dir: String): DataFrame =
    TableIO.read(spark, ledgerPath(dir))

  /** S5 — the reference's failed-range partition FILE
   * (`spark.cdm.tokenrange.partitionFile.input/.output`: a text file,
   * one range per line, `[upstream] job/SplitPartitions.java` file I/O).
   * Harness analog: one part id per line — readable/writable as text so
   * an operator can hand-edit it exactly like the reference's. */
  def readPartitionFile(spark: SparkSession, path: String): DataFrame = {
    // the file is operator-hand-editable by contract, so validate eagerly
    // with a clear error naming the bad lines — a permissive cast would
    // surface later as a bare NullPointerException in the resume path.
    // text(), NOT csv(): the csv reader would silently truncate a line
    // like "3,4" to its first token, validating a malformed file and
    // resuming the wrong bucket.
    val raw = spark.read.text(path).select(col("value").as("raw"))
    // digits-only AND int-range: "4294967296" matches a digits regex but
    // casts to null, which is the same downstream NPE with extra steps
    val parsed = raw.withColumn("part_id", col("raw").cast("int"))
    val bad = parsed
      .filter(!col("raw").rlike("^\\s*-?\\d+\\s*$") || col("part_id").isNull)
      .limit(5).collect().map(_.getString(0))
    require(bad.isEmpty,
      s"partition file $path contains non-numeric or out-of-range lines: ${bad.mkString("'", "', '", "'")}")
    parsed.select("part_id")
  }

  def writePartitionFile(parts: DataFrame, path: String): Unit =
    parts.select(col("part_id").cast("string"))
      .coalesce(1) // operator-editable single file; the id list is tiny
      .write.mode("overwrite").text(path)

  /** Append semantics for the failed-range file: the reference's
   * appendOnDiff APPENDS mismatched ranges to the existing file — a
   * validate run must not clobber ranges recorded by a prior migrate.
   * The existing ids are materialized up front (the list is ≤ numParts by
   * construction) because text overwrite deletes the path before a lazy
   * read of the same path would execute. */
  def appendPartitionFile(spark: SparkSession, parts: DataFrame, path: String): Unit = {
    // Hadoop FileSystem, NOT java.io.File: on hdfs://-/s3a://-style paths
    // a local-file existence check is always false, so a prior migrate's
    // recorded ranges would be silently clobbered instead of appended —
    // the exact contract violation the doc above forbids.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: Seq[Int] =
      if (fs.exists(hPath))
        readPartitionFile(spark, path).collect().map(_.getInt(0)).toIndexedSeq
      else Seq.empty
    import spark.implicits._
    val merged = parts.select(col("part_id").cast("int"))
      .union(existing.toDF("part_id"))
      .distinct()
    writePartitionFile(merged, path)
  }

  /**
   * Partitions still owed work given a previous run: the full range set
   * minus ranges the previous run PASSed. Mirrors the reference's
   * resume-from-`previousRunId` semantics (only non-PASS ranges rerun).
   */
  def pendingParts(allParts: DataFrame, ledger: DataFrame, previousRunId: String): DataFrame = {
    val passed = ledger
      .filter(col("run_id") === previousRunId && col("status") === Pass)
      .select("part_id")
    allParts.join(broadcast(passed), Seq("part_id"), "left_anti")
  }
}
