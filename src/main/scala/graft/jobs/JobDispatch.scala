package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.CdmConfig
import graft.io.{CassandraTableIO, TableIO}
import graft.run.TrackedMigrate

/**
 * The wrapper's job dispatch, modeled exactly
 * (`/root/reference/entrypoint.sh:228-242`, re-dispatched identically by
 * `/root/reference/spark-submit-cdm:10-26`): the case-INSENSITIVE job name
 * maps `migrate` → Migrate, `validate|diffdata` → DiffData,
 * `guardrail|guardrailcheck` → GuardrailCheck, and anything else is a hard
 * error with the reference's message shape. These three are the only entry
 * points (SURVEY §2.1).
 */
object JobDispatch {

  val Migrate = "Migrate"
  val DiffData = "DiffData"
  val GuardrailCheck = "GuardrailCheck"

  /** `CDM_JOB_NAME` → canonical job class name (entrypoint.sh:230-242). */
  def resolve(jobName: String): String = jobName.toLowerCase match {
    case "migrate" => Migrate
    case "validate" | "diffdata" => DiffData
    case "guardrail" | "guardrailcheck" => GuardrailCheck
    case other => throw new IllegalArgumentException(
      s"Unrecognised job name '$other'. Valid job names are: 'migrate', 'validate', or 'guardrail'.")
  }

  /** Run the named job end-to-end against the configured clusters.
   * Returns the job's report frame (written rows / diff report / guardrail
   * violations) for callers that want to inspect it. */
  def run(spark: SparkSession, jobName: String, cfg: CdmConfig, runId: String = "run-1"): DataFrame =
    resolve(jobName) match {
      case Migrate =>
        if (cfg.trackRun.enabled) TrackedMigrate.run(spark, cfg, runId)
        else graft.jobs.Migrate.run(spark, cfg)
        TableIO.read(spark, cfg.target, cfg.schema.targetTable.getOrElse(cfg.schema.table), Some(cfg.perf))

      case DiffData =>
        val table = cfg.schema.table
        val targetTable = cfg.schema.targetTable.getOrElse(table)
        val liveTarget = cfg.target.host.nonEmpty || cfg.target.scb.nonEmpty
        // Upstream validate drives the SAME origin select pipeline as
        // Migrate (filters, renames, skip list, transforms) — a raw scan
        // would mis-classify filtered-out rows as MISSING and reference
        // pre-rename column names the target does not have. The PK is the
        // post-rename (+ explode-key) effective PK for the same reason.
        val origin = graft.jobs.Migrate.plan(spark, cfg)
        val pk = cfg.effectivePrimaryKey
        // a parquet target swap that a crash interrupted is finished or
        // discarded before the target is read (TableIO.recoverSwap)
        if (!liveTarget) TableIO.recoverSwap(spark, cfg.target.path, targetTable)
        val rawTarget = TableIO.read(spark, cfg.target, targetTable, Some(cfg.perf))
        // a TrackedMigrate-written target carries its bucket column — an
        // engine artifact, not data; never part of the comparison. Its
        // PRESENCE is remembered: the autocorrect rewrite below must
        // restore the partition layout, not flatten it.
        val bucketPartitioned = rawTarget.columns.contains(graft.run.TrackedMigrate.BucketCol)
        val target = rawTarget.drop(graft.run.TrackedMigrate.BucketCol)
        // Parquet target: persist the report FIRST (upstream logs every
        // diff row) so downstream reads are decoupled from the target
        // files the autocorrect pass may overwrite below. A live target is
        // never overwritten file-wise, but its report feeds up to three
        // actions (partition file, autocorrect, the returned frame) —
        // snapshot it so the full reconciliation join runs once, and so the
        // autocorrect write cannot reclassify rows a LATER recomputation
        // would see post-correction (report/partition-file consistency).
        // This is clause (c) of the staging rule (README): a snapshot of
        // data that a later write of the same job replaces.
        // Checkpoint, not persist(): a persisted frame is pinned by
        // the session's CacheManager forever (each dispatched validate
        // would leak storage for the session lifetime), while checkpoint
        // blocks are released by the ContextCleaner once the report frame
        // is unreachable — and the returned frame still reads the
        // materialized snapshot, never a post-correction recompute.
        // RELIABLE checkpoint when the session has a checkpoint dir (the
        // production posture: localCheckpoint blocks die with their
        // executor — dynamic allocation or one decommission between
        // classify and the autocorrect actions would kill the job);
        // localCheckpoint only as the dir-less fallback.
        // persist-then-checkpoint: an unpersisted reliable checkpoint
        // runs TWO jobs (compute + a full recompute to write the files —
        // documented Spark behavior), which would both double the
        // classify cost and read the live target twice (a concurrent
        // writer could then change which snapshot lands). The transient
        // cache feeds the checkpoint writer and is dropped right after.
        // Checkpoint FILES outlive the frame unless the operator sets
        // spark.cleaner.referenceTracking.cleanCheckpoints=true — the
        // documented knob for long-lived multi-validate sessions.
        def snapshot(df: DataFrame): DataFrame =
          if (spark.sparkContext.getCheckpointDir.isDefined) {
            val cached = df.persist()
            try cached.checkpoint() finally cached.unpersist()
          } else df.localCheckpoint()
        val classified =
          if (liveTarget) snapshot(graft.jobs.DiffData.classify(origin, target, pk))
          else {
            val reportTable = s"${targetTable}_diff_report"
            val report = graft.jobs.DiffData.classify(origin, target, pk)
            TableIO.write(report, cfg.target.path, reportTable)
            // read back with the schema just written: inference would cost
            // a Spark job of its own
            spark.read.schema(report.schema).parquet(s"${cfg.target.path}/$reportTable.parquet")
          }
        // S5 appendOnDiff: record the ring buckets holding non-VALID rows
        // to the partition file, seeding a targeted re-validate/re-migrate
        // (the reference appends DIFF ranges to its token-range file).
        if (cfg.partitionFile.appendOnDiff) cfg.partitionFile.output.foreach { out =>
          val numParts = cfg.perf.numParts.getOrElse(TrackedMigrate.DefaultNumParts)
          val diffParts = classified
            .filter(col("diff_class") =!= graft.jobs.DiffData.Valid)
            .select(TrackedMigrate.bucketOf(pk.head, numParts).as("part_id"))
            .distinct()
          graft.run.RunLedger.appendPartitionFile(spark, diffParts, out)
        }
        // A5: autocorrect — MISSING re-inserted / MISMATCH overwritten per
        // flags. Live cluster: CQL upserts are in-place by PK, so the
        // corrections write directly through the connector. Parquet
        // stand-in: the target with the corrections merged in
        // (DiffData.mergeCorrections) is written once to staging and
        // renamed into place (TableIO.swap). Corrections win without a
        // window or writetime contest: each is the origin value the target
        // must take, and a CDM table holds one row per key.
        if (cfg.autocorrect.missing || cfg.autocorrect.mismatch) {
          val corrections = graft.jobs.DiffData
            .autocorrectRows(classified, cfg.autocorrect.missing, cfg.autocorrect.mismatch)
            .drop("diff_class", "diff_cols")
            // align to the target's schema: the origin pipeline may carry
            // derived columns (row_writetime, wt_* companions) the target
            // table does not store; a target column absent from the
            // pipeline output fails fast here by name
            .select(target.columns.map(col).toIndexedSeq: _*)
          if (liveTarget) {
            CassandraTableIO.write(corrections, cfg.target, targetTable, Some(cfg.perf))
          } else {
            // merge on the EFFECTIVE PK (post-rename + explode key): the
            // base PK alone would replace every exploded row sharing it
            val merged = graft.jobs.DiffData.mergeCorrections(target, corrections, pk)
            // A TrackedMigrate-written target keeps its __part layout: a
            // flat rewrite would leave stale files that a later tracked
            // run's DYNAMIC partition overwrite never deletes —
            // double-counting every row on the next read. The
            // bucket is recomputed with this run's numParts (must match
            // the migrate's, as the run ledger's bucket ids already do).
            if (bucketPartitioned) {
              val numParts = cfg.perf.numParts.getOrElse(TrackedMigrate.DefaultNumParts)
              TableIO.swap(
                merged.withColumn(TrackedMigrate.BucketCol, TrackedMigrate.bucketOf(pk.head, numParts)),
                cfg.target.path, targetTable, Seq(TrackedMigrate.BucketCol))
            } else TableIO.swap(merged, cfg.target.path, targetTable)
          }
        }
        classified

      case GuardrailCheck =>
        Guardrail.check(
          TableIO.read(spark, cfg.origin, cfg.schema.table, Some(cfg.perf)),
          cfg.schema.primaryKey,
          // colSizeInKB=0 means "report nothing" upstream; model as no threshold hit
          if (cfg.guardrail.colSizeInKB <= 0) Long.MaxValue
          else cfg.guardrail.colSizeInKB.toLong * 1024L)
    }
}
