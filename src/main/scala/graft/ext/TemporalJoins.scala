package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal join operators the reference lacks (SURVEY.md §2.5 notes the
 * reference has only PK equi-joins) but a time-series/training-data
 * pipeline needs constantly: as-of ("latest right row at or before each
 * left row") and bounded range ("right rows inside a window after each
 * left row"). Both are built so the physical plan is an equi-shuffle —
 * never a BroadcastNestedLoopJoin, which is what a naive `l.ts >= r.ts`
 * join condition degenerates to and what dies first at 100 TB.
 */
object TemporalJoins {

  /**
   * Backward as-of join: for every left row, the greatest right `tsCol`
   * <= the left row's `tsCol`, within the same `keyCols` group (DuckDB
   * `ASOF JOIN ... ON l.key = r.key AND l.ts >= r.ts` semantics; the
   * oracle runs exactly that).
   *
   * Implementation is the union-tag trick, not a join: tag right rows 0
   * and left rows 1, union, then one window per key ordered by (ts, tag)
   * carries `max(ts of tag-0 rows so far)` forward onto each left row.
   * Cost = ONE shuffle on `keyCols` and no join at all — the classic
   * sort-merge-as-of without the merge: at 1000 executors this is a
   * single exchange of both inputs, and the per-key sort is exactly what
   * a range-interval as-of join would have needed anyway. `max` (not
   * `last`) keeps the result independent of intra-tie row order.
   *
   * Returns the left rows plus `asofCol` (timestamp of the matched right
   * row, null when no right row precedes).
   */
  def asofBackward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, asofCol: String): DataFrame =
    asof(left, right, keyCols, tsCol, asofCol, backward = true)

  /** FORWARD as-of: earliest right `tsCol` >= the left row's, within the
   * key group (DuckDB `ASOF ... ON l.ts <= r.ts`) — the mirror of
   * [[asofBackward]] with `min` carried over the FOLLOWING frame; same
   * one-shuffle union-tag shape, left rows sort before right at equal ts
   * so the match is inclusive. */
  def asofForward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, asofCol: String): DataFrame =
    asof(left, right, keyCols, tsCol, asofCol, backward = false)

  /** The union-tag shape of both as-of directions. */
  private def asof(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, asofCol: String, backward: Boolean): DataFrame = {
    requireFreeColumns(left, Seq("__side", asofCol))
    requireFreeColumns(right, Seq("__side"))
    val lCols = left.columns
    val l = left.withColumn("__side", lit(1))
    val r = right.select((keyCols :+ tsCol).map(col): _*).withColumn("__side", lit(0))
    val u = l.unionByName(r, allowMissingColumns = true)
    val byKey = Window.partitionBy(keyCols.map(col): _*)
    val rightTs = when(col("__side") === 0, col(tsCol))
    val matched =
      // backward: right rows sort before left at equal ts => inclusive (<=)
      if (backward) max(rightTs).over(byKey.orderBy(col(tsCol).asc, col("__side").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      // forward: left rows sort before right at equal ts => inclusive (>=)
      else min(rightTs).over(byKey.orderBy(col(tsCol).asc, col("__side").desc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    u.withColumn(asofCol, matched)
      .filter(col("__side") === 1)
      .select((lCols.map(col) :+ col(asofCol)).toIndexedSeq: _*)
  }

  /**
   * Bounded range join: pairs (left, right) with equal `keyCols` and
   * right.ts in [left.ts, left.ts + windowMicros). The inequality is
   * decomposed into an EQUI-join on (key, coarse time bucket) plus a
   * residual filter: bucket width = the window length, so a right row
   * landing in [l, l+d) lives in the left row's bucket k or k+1 — the
   * left side explodes to those two candidate buckets and everything
   * else is a hash join. Work is O(|l| + |r| + |matches|) with one
   * shuffle per side; a naive `r.ts between l.ts and l.ts + d` condition
   * instead plans a nested-loop join that is quadratic per key.
   *
   * Right columns are returned suffixed `_r` (key columns and ts
   * included) so callers can aggregate matches per left row.
   */
  /** `joinType` "inner" for match pairs, "left_outer" for true row-level
   * left-outer semantics: every zero-match left row appears exactly once
   * (null-extended), matched rows carry no spurious null companion. The
   * exploded candidate buckets are collapsed per left row before
   * returning, which costs one extra shuffle on an opaque per-row
   * surrogate — cheap relative to the join itself, and the result is safe
   * for any caller, not just aggregating ones. */
  def rangeJoinBucketed(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, windowMicros: Long, joinType: String = "inner"): DataFrame = {
    require(windowMicros > 0, s"window must be positive, got $windowMicros")
    require(joinType == "inner" || joinType == "left_outer",
      s"rangeJoinBucketed supports inner and left_outer, got $joinType")
    requireFreeColumns(left, Seq("__bucket_l", "__bucket_r", "__lid"))
    requireFreeColumns(right, Seq("__bucket_l", "__bucket_r"))
    // the left_outer collapse references the suffixed right ts and its
    // helper columns by BARE name over the joined frame — a left input
    // already carrying them (e.g. the output of a previous range join)
    // would make those references ambiguous at analysis
    if (joinType == "left_outer") {
      requireFreeColumns(left, Seq(s"${tsCol}_r", "__matches", "__rn"))
    }
    val bucket = (c: Column) => floor(unix_micros(c) / lit(windowMicros))
    // The surrogate is only a grouping key for collapsing the two candidate
    // buckets of the same left row; its values never reach the output, so
    // monotonically_increasing_id's partitioning-dependence is harmless.
    val lRaw =
      if (joinType == "inner") left
      else left.withColumn("__lid", monotonically_increasing_id())
    val l = lRaw
      .withColumn("__bucket_l", explode(array(bucket(col(tsCol)), bucket(col(tsCol)) + 1)))
    val r = right
      .select(right.columns.map(c => col(c).as(s"${c}_r")).toIndexedSeq: _*)
      .withColumn("__bucket_r", bucket(col(s"${tsCol}_r")))
    val keyCond = keyCols.map(k => l(k) === r(s"${k}_r")).reduce(_ && _)
    val joined = l.join(r, keyCond && l("__bucket_l") === r("__bucket_r")
        && r(s"${tsCol}_r") >= l(tsCol)
        && unix_micros(r(s"${tsCol}_r")) < unix_micros(l(tsCol)) + lit(windowMicros),
        joinType)
      .drop("__bucket_l", "__bucket_r")
    if (joinType == "inner") joined
    else {
      // Collapse the candidate-bucket explosion: a matched right row
      // always has a non-null ts (the >= residual can only pass on one),
      // so rows with null ts_r are exactly the null-extended candidates.
      // Keep all matches; keep ONE null row iff the left row matched
      // nothing in either bucket.
      val w = Window.partitionBy("__lid")
      val wOrd = w.orderBy(col(s"${tsCol}_r").asc_nulls_last)
      joined
        .withColumn("__matches", count(col(s"${tsCol}_r")).over(w))
        .withColumn("__rn", row_number().over(wOrd))
        .filter(col(s"${tsCol}_r").isNotNull || (col("__matches") === 0 && col("__rn") === 1))
        .drop("__lid", "__matches", "__rn")
    }
  }

  /** Shared fail-fast collision guard — see SqlTypes.requireFreeColumns. */
  private def requireFreeColumns(df: DataFrame, names: Seq[String]): Unit =
    graft.ops.SqlTypes.requireFreeColumns(df, names)
}
