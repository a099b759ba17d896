package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.config.CdmConfig
import graft.io.TableIO
import graft.ops.{Filters, Projection, Transforms, WritetimeTtl}

/**
 * J1 — Migrate: full-table copy origin→target.
 *
 * Reference entry point: `CDM_JOB_NAME=migrate` dispatches
 * `com.datastax.cdm.job.Migrate` (`/root/reference/entrypoint.sh:230-233`,
 * `/root/reference/spark-submit-cdm:12-14`); `[upstream]
 * job/CopyJobSession.java` runs token-range slices row-at-a-time through
 * the feature pipeline and batches writes.
 *
 * Spark-native shape (SURVEY.md §3.1): one declarative lineage
 * `scan → writetime companions → filters → projection/rename → transforms`,
 * materialized by a single `write`. Catalyst owns pushdown/pruning; the
 * whole row pipeline fuses into one whole-stage-codegen span; parallelism
 * is input-split driven (the connector's token ranges in production,
 * parquet row groups in the harness) instead of hand-built
 * `SplitPartitions` slices.
 */
object Migrate {

  /** Build the migrate lineage without materializing it. */
  def plan(spark: SparkSession, cfg: CdmConfig): DataFrame = {
    // backend-dispatching read: live connector (with perfops knobs) when
    // the config names a contact point / SCB, parquet harness otherwise
    var df = TableIO.read(spark, cfg.origin, cfg.schema.table, Some(cfg.perf))

    // T9: materialize the row writetime (max across companion columns)
    // before filters — P5 windows on it, and the write path persists it
    // (the parquet stand-in for `USING TIMESTAMP ?`).
    val wtCol =
      if (cfg.schema.writetimeCols.nonEmpty) {
        df = WritetimeTtl.withRowWritetime(df, cfg.schema.writetimeCols)
        Some(col(WritetimeTtl.RowWritetimeCol))
      } else None

    df = Filters.applyAll(df, cfg.filters, cfg.schema.primaryKey, wtCol)
    df = Projection(df, cfg.schema)
    // Transforms see the POST-rename primary key; after explodeMap the
    // key column joins it (SURVEY §7.5.6 — upstream ExplodeMap makes the
    // map key a clustering column on the target table).
    df = Transforms.applyAll(df, cfg.transform, cfg.effectivePrimaryKey)

    // perfops.numParts drives scan parallelism in the reference
    // ([upstream] SplitPartitions). Spark sizes splits itself; only
    // repartition when the user explicitly asks, and do it by PK so the
    // target write preserves partition-key locality (S3 batching).
    cfg.perf.numParts match {
      case Some(n) if cfg.effectivePrimaryKey.nonEmpty =>
        val pk = cfg.effectivePrimaryKey
        // sortWithinPartitions gives the sink runs of identical partition
        // keys, so the connector's unlogged batches (grouped by PK — S3)
        // fill without buffering; a local sort, no extra shuffle.
        df.repartition(n, pk.map(col): _*)
          .sortWithinPartitions(pk.map(col): _*)
      case Some(n) => df.repartition(n)
      case None    => df
    }
  }

  /** Execute: write the planned lineage to the target cluster (live
   * connector or parquet stand-in, per the target config). */
  def run(spark: SparkSession, cfg: CdmConfig): Unit =
    TableIO.write(plan(spark, cfg), cfg.target,
      cfg.schema.targetTable.getOrElse(cfg.schema.table), Some(cfg.perf))
}
