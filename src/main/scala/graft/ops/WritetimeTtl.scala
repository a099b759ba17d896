package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * T9/A2 — automatic writetime/TTL propagation, the most Cassandra-specific
 * operator in the reference (`[upstream] feature/WritetimeTTL.java`,
 * SURVEY.md §2.4 T9): read per-cell `WRITETIME(col)` / `TTL(col)` for every
 * eligible non-PK column, take the max across columns (a horizontal,
 * row-wise aggregate — not a groupBy), and write rows
 * `USING TTL ? AND TIMESTAMP ?`.
 *
 * Harness convention: companion columns `wt_<c>` / `ttl_<c>`
 * (SURVEY.md §7.5.1); with the Cassandra connector these are real
 * `writetime(c)`/`ttl(c)` scan projections. `greatest(...)` is a single
 * codegen'd expression — no shuffle, no UDF.
 */
object WritetimeTtl {

  def greatestOf(cols: Seq[String]): Column = cols match {
    case Seq(only) => col(only)
    case many      => greatest(many.map(col): _*)
  }

  /** The columns [[withRowWritetime]] and [[withRowTtl]] append. */
  val RowWritetimeCol = "row_writetime"
  val RowTtlCol = "row_ttl"

  /** Append the row-level effective writetime (max across companion
   * columns), used by the P5 incremental window filter and the write path. */
  def withRowWritetime(df: DataFrame, wtCols: Seq[String]): DataFrame =
    df.withColumn(RowWritetimeCol, greatestOf(wtCols))

  def withRowTtl(df: DataFrame, ttlCols: Seq[String]): DataFrame =
    df.withColumn(RowTtlCol, greatestOf(ttlCols))
}
