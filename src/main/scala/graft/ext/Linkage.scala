package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * X29 — blocked fuzzy record linkage (entity resolution) over a string
 * column (SURVEY.md §2.11). The reference has no analog; this is the
 * "find each record's best fuzzy match" primitive of dedupe/linkage
 * pipelines (catalog reconciliation, name matching), built scale-first:
 *
 *  - candidate pairs come ONLY from an equi-join on a caller-chosen
 *    blocking key (brand, zip, sorted-token prefix, …) — the all-pairs
 *    O(n²) comparison never happens;
 *  - a per-block size cap (window count over the block key) bounds the
 *    quadratic blowup of a degenerate block, exactly like the LSH
 *    bucket caps in Dedup.minhashPairsBanded;
 *  - |len(a) − len(b)| ≤ maxDist prefilters candidates before the
 *    Levenshtein kernel runs (length difference lower-bounds edit
 *    distance), and the kernel itself is THRESHOLDED — it abandons a
 *    pair the moment its running minimum exceeds maxDist;
 *  - output is the best match PER PROBE RECORD (min distance, then
 *    lowest match id — a total order), not the pair list: bounded at
 *    one row per record regardless of block density, the shape a
 *    downstream merge step actually consumes.
 *
 * Levenshtein is Spark's builtin codegen'd expression (unit-cost edit
 * distance) — cross-engine exact, integer result.
 */
object Linkage {

  /** Salt fan-out of the comparison join: each block spreads over this
   * many (block, fan) join keys. */
  val Fanout = 16

  /**
   * Link two record sets: for every probe row, the nearest `matchSide`
   * row (by edit distance on `strCol`) sharing its blocking key, at
   * distance ≤ maxDist. Both frames must carry `idCol`, `strCol` and
   * `blockCols` under the same names (rename upstream — linkage is a
   * schema-alignment consumer, not an aligner). Blocks larger than
   * `blockCap` are dropped from EITHER side (degenerate blocks — empty
   * key, boilerplate value — would emit O(block²) comparisons; the cap
   * is the documented recall/cost lever).
   *
   * Output: (idCol, strCol, match_id, match_str, dist), one row per
   * probe record with ≥1 in-range candidate, dist ∈ [0, maxDist].
   * `excludeSameId` suppresses identical-id pairs (the self-linkage
   * case, where every record would otherwise match itself at 0).
   */
  def nearestAcross(probe: DataFrame, matchSide: DataFrame, idCol: String, strCol: String,
      blockCols: Seq[String], maxDist: Int, blockCap: Long = 10000L,
      excludeSameId: Boolean = false): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    require(blockCap >= 1, s"blockCap must be positive, got $blockCap")
    require(blockCols.nonEmpty, "need at least one blocking column")
    Seq(probe, matchSide).foreach(graft.ops.SqlTypes.requireFreeColumns(_,
      Seq("__bsize", "__fan", "__rk", "dist", "match_id", "match_str")))
    val cols = (Seq(idCol, strCol) ++ blockCols).distinct.map(col)
    // hot-key-safe block cap (HotKeys doc): a degenerate block's rows are
    // dropped map-side by the broadcast anti-join instead of all funneling
    // through the one reducer that owned it under count-over-Window; the
    // slim (id, str, blockCols) projection is staged once inside
    // dropOverCap so the cap count does not re-scan the input
    def capped(df: DataFrame): DataFrame =
      HotKeys.dropOverCap(df.select(cols: _*), blockCols, blockCap)

    // FAN-OUT: blocking keys are low-cardinality by design (that is what
    // makes them blocks), so the comparison join would otherwise run on
    // ≤|blocks| tasks — 25 brands means 25 cores no matter the cluster.
    // Salt the probe side by a DETERMINISTIC hash of the id (rerun- and
    // retry-stable, same discipline as ops/Salting) and replicate the
    // match side [[Fanout]]-fold; the join key (block, fan) then has
    // |blocks|·Fanout values and every O(block²) comparison batch spreads.
    // Cost: the match side is carried Fanout× (explode before the join) —
    // the standard skew-vs-volume trade.
    //
    // The repartition pins an EXPLICIT partition count: the probe side is
    // small in BYTES (ids + short strings), so AQE's size-based coalesce
    // would fold it to one partition and run the O(Σ block²) comparison
    // join on ONE core — the join's expansion is invisible to a byte
    // heuristic (measured 8× on the part-name bench). An explicit count
    // (REPARTITION_BY_NUM) is exempt from coalescing.
    val spark = probe.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism * 2,
      spark.sessionState.conf.numShufflePartitions)
    val a = capped(probe)
      .withColumn("__fan", pmod(xxhash64(col(idCol)), lit(Fanout.toLong)).cast("int"))
      .repartition(parts, (blockCols :+ "__fan").map(col): _*)
    val b = blockCols.foldLeft(
        capped(matchSide).withColumnRenamed(idCol, "match_id").withColumnRenamed(strCol, "match_str")) {
      (d, c) => d.withColumnRenamed(c, s"__b_$c")
    }.withColumn("__fan", explode(array((0 until Fanout).map(lit): _*)))
    val equiCond = blockCols.map(c => a(c) === b(s"__b_$c")).reduce(_ && _) &&
      a("__fan") === b("__fan") &&
      abs(length(a(strCol)) - length(b("match_str"))) <= maxDist
    val joinCond = if (excludeSameId) equiCond && a(idCol) =!= b("match_id") else equiCond
    // thresholded kernel returns -1 past maxDist; -1 never passes the
    // between filter, so the result equals the unbounded form the oracle
    // runs (O(maxDist·len) vs O(len²) — 6× on the part-name bench)
    val cand = a.join(b, joinCond)
      .withColumn("dist", levenshtein(col(strCol), col("match_str"), maxDist))
      .filter(col("dist").between(0, maxDist))
    // best match per record: min distance, ties to the lowest match id —
    // a total order, so the survivor is partitioning-independent
    cand
      .withColumn("__rk", row_number().over(
        Window.partitionBy(idCol).orderBy(col("dist"), col("match_id"))))
      .filter(col("__rk") === 1)
      .select(col(idCol), col(strCol), col("match_id"), col("match_str"), col("dist"))
  }

  /**
   * The observability companion of the `blockCap` recall lever: per side,
   * how many blocks — and how many ROWS — [[nearestAcross]] will silently
   * drop at a given cap. A degenerate blocking key (empty string,
   * boilerplate value) quietly removes its whole block from linkage
   * eligibility; this audit makes that recall cost a number the caller
   * checks BEFORE committing to a cap, the same role
   * `Salting.keySkewAudit` plays for join salting.
   *
   * Output: one row per side (`side`, `blocks`, `n_rows`,
   * `dropped_blocks`, `dropped_rows`, `largest_block`). Cost: one
   * map-side-combined groupBy per side over the block key — safe at full
   * input scale, no collect.
   */
  def blockCapAudit(probe: DataFrame, matchSide: DataFrame,
      blockCols: Seq[String], blockCap: Long): DataFrame = {
    require(blockCols.nonEmpty, "need at least one blocking column")
    require(blockCap >= 1, s"blockCap must be positive, got $blockCap")
    def side(df: DataFrame, name: String): DataFrame =
      df.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("__n"))
        .agg(
          lit(name).as("side"),
          count(lit(1)).as("blocks"),
          // coalesce: sum/max over an EMPTY side are NULL, but the audit
          // contract is counts — an empty probe set has zero of everything
          coalesce(sum("__n"), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("__n") > blockCap, 1L).otherwise(0L)), lit(0L)).as("dropped_blocks"),
          coalesce(sum(when(col("__n") > blockCap, col("__n")).otherwise(0L)), lit(0L)).as("dropped_rows"),
          coalesce(max("__n"), lit(0L)).as("largest_block"))
    side(probe, "probe").unionAll(side(matchSide, "match"))
  }

  /** Self-linkage: every record's nearest OTHER record in its block —
   * the near-duplicate detection face of [[nearestAcross]]. */
  def nearestInBlock(df: DataFrame, idCol: String, strCol: String,
      blockCols: Seq[String], maxDist: Int, blockCap: Long = 10000L): DataFrame =
    nearestAcross(df, df, idCol, strCol, blockCols, maxDist, blockCap,
      excludeSameId = true)
}
