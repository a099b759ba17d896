package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Hot-key-safe per-key size caps / document-frequency ceilings — the one
 * enforcement shape shared by every bucketed candidate generator in this
 * library (LSH band buckets, simhash pigeonhole blocks, linkage blocks,
 * shingle/term df ceilings, chunk df).
 *
 * Why not `count(*).over(Window.partitionBy(key))`: a window cannot
 * partially aggregate OR be split across tasks, so a Zipfian-hot key (a
 * stop shingle, a boilerplate chunk, a dense LSH bucket — exactly the
 * keys the caps exist to drop) funnels ALL of its rows through the one
 * reducer that owns it, pays a per-partition sort, and only THEN gets
 * dropped. Invisible at sf0.1; a straggler/spill at 100 TB when one key
 * carries 1 % of corpus mass (measured in the `hotkey_megabucket`
 * ScaleBench family: the window form's reducer time grows with the hot
 * key's mass; this shape's stays flat).
 *
 * The safe shape:
 *  1. STAGE the input once (lazy `localCheckpoint` — the
 *     [[TextOps.bigramSurprisal]] idiom): the count branch and the
 *     filter/join-back branch both consume `df`, and without staging
 *     Catalyst re-executes the caller's whole lineage — for the LSH/
 *     simhash/chunk callers that is a second full pass of the signature
 *     kernels over the corpus (the round-12 regression: every touched
 *     query slowed 1.6–2.6×): clause (a) of the README staging rule.
 *     Callers whose frame is already staged or is a cheap pruned scan
 *     pass `stage = false`.
 *  2. `groupBy(key).count()` — map-side combined, so a hot key collapses
 *     to ONE row per map task before its (tiny) count shuffle;
 *  3. keep only keys with count > cap — by construction there are at
 *     most `totalRows / cap` of them, and in practice a handful (they
 *     are the pathological mass concentrations the cap targets);
 *  4. broadcast that over-cap key list and LEFT ANTI join it map-side —
 *     the hot key's instance rows then never shuffle at all. The
 *     broadcast is GATED (SURVEY §7.5 rule 8: broadcast only behind size
 *     checks) on BOTH dimensions: the over-cap key count AND an
 *     estimated byte size (per-key serialized width + hash-relation
 *     overhead — a 4M-row gate alone would still admit a multi-hundred-
 *     MB broadcast of wide string keys). Above `maxBroadcastKeys` rows
 *     or `maxBroadcastBytes` estimated bytes the anti-join falls back
 *     to a SHUFFLE_HASH join — still AQE-skew-splittable, never a
 *     driver OOM. Hitting the gate means pathological mass at
 *     `maxBroadcastKeys × cap` row scale — a data-quality fire worth
 *     surfacing, which is why the fallback shows in `explain` (the join
 *     strategy is visible) rather than being silently absorbed.
 *
 * Adaptive shape (the decision the round-13 review asked for): the gate
 * aggregate already measures the over-cap key count before a plan is
 * chosen, so when NOTHING exceeds the cap the join is skipped entirely
 * and the staged input is returned as-is — cheaper than both the
 * anti-join and the window form. When something does exceed it, the
 * anti-join shape is kept UNCONDITIONALLY (never the window form): the
 * window's only advantage is avoiding the count shuffle, which the gate
 * has already paid, and its reducer time grows with the hot key's mass
 * (the `hotkey_megabucket` ScaleBench measurement) — exactly the case
 * where a cap exists to begin with.
 *
 * Storage lifetime: with `stage = true` the lazy `localCheckpoint` of
 * the input stays pinned in executor storage for the lifetime of the
 * returned DataFrame's plan (Spark has no reliable "after last consumer"
 * hook for a lazily-materialized checkpoint). Batch jobs — every caller
 * in this library — release it with the session. A long-lived session
 * issuing many capped frames should pass an already-staged input with
 * `stage = false` and manage its own persistence scope.
 *
 * Null keys match the window semantics exactly: the anti-join condition
 * uses null-safe equality (`<=>`), so an over-cap null-key group is
 * dropped just as `Window.partitionBy` (which groups nulls together)
 * would have dropped it.
 */
object HotKeys {

  /**
   * Drop every row whose key combination appears more than `cap` times
   * in `df`. Bit-equivalent to
   * `withColumn(n, count(*).over(Window.partitionBy(keys))).filter(n <= cap)`
   * but the hot keys' rows never shuffle (see object doc).
   *
   * Runs one small job at CONSTRUCTION time (the over-cap key count that
   * gates the broadcast); with `stage = true` that job also materializes
   * the staged input, which every downstream consumer then reuses.
   *
   * @param stage stage `df` once (lazy localCheckpoint) so the count
   *              branch does not re-execute the caller's lineage. Set
   *              false only when `df` is already staged/cached or its
   *              lineage is a cheap pruned scan.
   * @param maxBroadcastKeys gate on the broadcast anti-join: above this
   *              many over-cap key rows, fall back to SHUFFLE_HASH.
   * @param maxBroadcastBytes second gate dimension: above this many
   *              ESTIMATED bytes of over-cap keys (serialized key width
   *              plus ~48 B/row hash-relation overhead), fall back to
   *              SHUFFLE_HASH even when the row gate would admit them —
   *              4M rows of wide string keys is still a driver hazard.
   */
  def dropOverCap(df: DataFrame, keyCols: Seq[String], cap: Long,
      stage: Boolean = true, maxBroadcastKeys: Int = 4000000,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(cap >= 1, s"cap must be positive, got $cap")
    require(maxBroadcastKeys >= 0 && maxBroadcastKeys < Int.MaxValue,
      s"maxBroadcastKeys out of range: $maxBroadcastKeys")
    require(maxBroadcastBytes >= 0L, s"maxBroadcastBytes must be >= 0: $maxBroadcastBytes")
    val src = if (stage) df.localCheckpoint(eager = false) else df // (a): gate, result
    val over = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__hk_n"))
      .filter(col("__hk_n") > cap)
      .select(keyCols.map(k => col(k).as(s"__hk_$k")): _*)
    val cond = keyCols.map(k => col(k) <=> col(s"__hk_$k")).reduce(_ && _)
    // the gate is an agg over the staged input — it materializes the
    // checkpoint (paying the caller's lineage exactly once) and touches
    // at most maxBroadcastKeys+1 over-cap key rows beyond it. Key width
    // is estimated from the string rendering (exact for strings, a sane
    // proxy for numerics/structs) plus per-row hash-relation overhead.
    val rowWidth = keyCols.map(k =>
        coalesce(octet_length(col(s"__hk_$k").cast("string")).cast("long"), lit(8L)))
      .reduce(_ + _) + lit(48L)
    val gate = over.limit(maxBroadcastKeys + 1)
      .agg(count(lit(1)).as("n"), coalesce(sum(rowWidth), lit(0L)).as("bytes"))
      .head()
    val nOver = gate.getLong(0)
    val estBytes = gate.getLong(1)
    if (nOver == 0L) src // nothing over cap: no join needed at all
    else if (nOver <= maxBroadcastKeys && estBytes <= maxBroadcastBytes)
      src.join(broadcast(over), cond, "left_anti")
    else src.join(over.hint("SHUFFLE_HASH"), cond, "left_anti")
  }

  /**
   * Attach the per-key row count as `countCol` — for callers that need
   * the count as a VALUE (df-weighted flags, boilerplate ratios), not
   * just a cap filter. Map-side-combined `groupBy` count table joined
   * back SHUFFLE_HASH (a sort-merge join would re-sort the full instance
   * stream; a hash build of the tiny count side costs neither sort), and
   * the join — unlike a window — is AQE-skew-splittable: a hot key's
   * instance rows divide across tasks with the one matching count row
   * replicated. Inner join on a null-safe key equality so null-key rows
   * keep their group count, matching `Window.partitionBy` semantics.
   * `df` is staged (clause (a)): the count table and the join-back read it.
   */
  def withKeyCounts(df: DataFrame, keyCols: Seq[String], countCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val src = df.localCheckpoint(eager = false)
    val counts = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as(countCol))
      .select(col(countCol) +: keyCols.map(k => col(k).as(s"__hk_$k")): _*)
    val cond = keyCols.map(k => col(k) <=> col(s"__hk_$k")).reduce(_ && _)
    src.join(counts.hint("SHUFFLE_HASH"), cond)
      .drop(keyCols.map(k => s"__hk_$k"): _*)
  }
}
