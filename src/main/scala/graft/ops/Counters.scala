package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * S4/A3 — counter-column semantics.
 *
 * Cassandra counter columns cannot be INSERTed; the reference issues
 * `UPDATE ... SET c = c + ?` deltas (`[upstream]` counter branch in
 * `cql/statement/TargetUpdateStatement.java`). The reference gates
 * autocorrect of counters behind `spark.cdm.autocorrect.missing.counter`
 * because a re-applied delta would double-count (SURVEY.md §7.5.4); this
 * port accepts that key but does not apply it (see
 * [[graft.config.AutocorrectConfig]]).
 *
 * Spark-native: additive merge = partial aggregation. `groupBy(pk).sum`
 * gets map-side combine from Spark automatically, so the shuffle carries
 * one pre-summed delta per (task, key) — the same wire-cost profile as
 * CDM's batched counter updates, but parallel and spill-safe.
 *
 * Determinism: deltas accumulate through DECIMAL (exact, associative) and
 * only the final merged value is cast back to double, so results are
 * bit-identical regardless of partitioning or the DuckDB oracle's
 * summation order (SURVEY.md §7.5.5).
 */
object Counters {

  /** [[mergeDeltas]]' accumulator: headroom to ~1e32 before a non-ANSI
   * overflow nulls a sum (the old (18,2) rounded sub-cent deltas and
   * dropped |delta| ≥ 1e16); finer than 6 decimal places still rounds. */
  val DeltaDecimal = "decimal(38,6)"

  def mergeDeltas(df: DataFrame, pkCols: Seq[String], deltaCol: String): DataFrame =
    df.groupBy(pkCols.map(col): _*)
      .agg(sum(col(deltaCol).cast(DeltaDecimal)).cast("double").as("counter_value"))
}
