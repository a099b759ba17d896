package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for training-data pipelines (extension
 * surface, SURVEY.md §2.11): group-wise top-k selection, deterministic
 * stratified sampling, priority-ordered cross-source survivor selection,
 * and fixed-width histograms. The reference has no analog (its surface is
 * migration-shaped); these are the selection/mixing steps that sit between
 * dedup (ext/Dedup) and shard packing (TextQueries.shard_packing) in a
 * real 100 TB curation run.
 *
 * Scale posture: every operator is one shuffle (or zero), never a global
 * sort, never a collect; sampling and survivor choice are deterministic
 * functions of the data (multiplicative hashes / total-order windows), so
 * reruns and retries reproduce byte-identical outputs.
 */
object Curation {

  /** Shared fail-fast collision guard — see SqlTypes.requireFreeColumns. */
  private def requireFreeColumns(df: DataFrame, names: Seq[String]): Unit =
    graft.ops.SqlTypes.requireFreeColumns(df, names)

  /**
   * Group-wise top-k by an explicit total order — the "best k documents
   * per domain/language" curation primitive. One row_number window:
   * Spark's WindowGroupLimit rule plants a PARTIAL per-partition top-k
   * before the single exchange, so a group with millions of rows never
   * funnels them all through one reducer (the planner-native form of
   * the manual spark_partition_id two-phase this replaced in r15).
   * `orderCols` must define a total order within each group (end it
   * with a unique id) or survivors are partitioning-dependent.
   * Precondition (guarded): k below
   * `spark.sql.optimizer.windowGroupLimitThreshold`, or the partial
   * top-k never plants and the no-hot-reducer posture silently breaks.
   * The 1-based position lands in a `rank` column.
   */
  def topkPerGroup(df: DataFrame, groupCols: Seq[String], orderCols: Seq[Column],
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    graft.ops.SqlTypes.requireWindowGroupLimit(df, k)
    requireFreeColumns(df, Seq("rank"))
    df
      .withColumn("rank", row_number().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)))
      .filter(col("rank") <= k)
  }

  /**
   * Deterministic stratified sampling: keep a row iff
   * `((id mod 2³¹) * 2654435761) mod 100 < pct(stratum)`. The
   * multiplicative hash (Knuth's 2654435761) makes the decision a pure
   * function of the row's id — reproducible across reruns, partitionings,
   * and engines, unlike `df.sample` / rand() (SURVEY.md §7.5.7). The 31-bit
   * pre-mask keeps the product inside int64 for EVERY long id (a raw
   * `id * 2654435761` overflows past id ≈ 3.47e9 — silent wraparound in
   * Spark, a BIGINT overflow error in the DuckDB mirror). Zero shuffle:
   * the predicate fuses into the scan.
   */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: Column,
      rates: Map[String, Int], defaultPct: Int): DataFrame = {
    (rates.values.toSeq :+ defaultPct).foreach(p =>
      require(p >= 0 && p <= 100, s"rate must be in [0,100], got $p"))
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(col(strataCol) === k, lit(p)).otherwise(acc)
    }
    df.filter(
      pmod(pmod(idCol.cast("long"), lit(2147483648L)) * lit(2654435761L), lit(100L)) < pct)
  }

  /**
   * Priority-ordered survivor per key: keeps exactly the first row of
   * `orderCols` within each `keyCols` group — the cross-source dedup
   * step ("same content from a curated source beats the same content
   * from a crawl"). Generalizes Dedup.exactKeep to a caller-supplied
   * multi-column order; `orderCols` must end in a unique column for a
   * total order. One key shuffle.
   */
  def keepByPriority(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    requireFreeColumns(df, Seq("__rn"))
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Hash buckets of the DSIR importance-weight table. */
  val ImportanceBuckets = 64

  /**
   * DSIR-style IMPORTANCE WEIGHTING (Xie et al. 2023, public
   * arXiv:2302.03169, "Data Selection for Language Models via Importance
   * Resampling"): score each document by how much its hashed-token
   * distribution looks like a TARGET slice relative to the RAW corpus.
   * Token → bucket = tokenHash mod [[ImportanceBuckets]]; bucket importance ratio =
   * (target bucket share) / (raw bucket share), kept in exact integer
   * fixed point: `floor(1e6 · n_target[b] · T_raw / (n_raw[b] · T_target))`
   * so both engines (and every partitioning) agree bit-for-bit — the
   * published method's log-likelihood ratio is replaced by the rational
   * ratio purely for cross-engine exactness; the ranking it induces is
   * the same monotone family. A document's score sums its tokens' bucket
   * ratios; `score_us > n_tokens·1e6` means "more target-like than
   * average".
   *
   * Shape at scale: two map-side-combined aggregations build the
   * [[ImportanceBuckets]]-row weight table (broadcast), then one (doc, bucket) explode
   * joins it and rolls up per doc — no shuffle ever carries text, and the
   * weight table is O(buckets), independent of corpus size. The two int64
   * products bound the corpus at roughly 10^10 tokens (the constraint is
   * `1e6·n_target[b]·T_raw ≤ 2^63` and `n_raw[b]·T_target ≤ 2^63`);
   * each weight row CHECKS those bounds and raises rather than silently
   * wrapping — production beyond the bound switches the two products to
   * DECIMAL(38,0) in place. An empty target slice has no defined
   * distribution and likewise raises instead of returning all-null
   * scores.
   */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    // hash in one codegen pass over the token ARRAY, then explode the
    // hashes: the per-exploded-row Column-form hash allocated ~10
    // single-char strings per token (same arithmetic, spec-pinned)
    val tok = df
      .select(col(idCol), isTarget.as("__is_t"),
        explode_outer(org.apache.spark.sql.graft.SignatureKernels.tokenHashes(
          split(col(textCol), " "), graft.ext.Dedup.P)).as("__th"))
      .filter(col("__th").isNotNull)
      .withColumn("__b", pmod(col("__th"), lit(ImportanceBuckets.toLong)))
    val counts = tok.groupBy("__b").agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("__is_t"), 1L).otherwise(0L)).as("n_target"))
    val totals = counts.agg(
      sum("n_raw").as("t_raw"), sum("n_target").as("t_target"))
    // integer `div`, never `/`: long / long is a double in Spark, and the
    // claim above is exactness — floor(a/b) on doubles drifts past 2^53.
    // Guards run per weight row (64 rows): numerator fits iff
    // t_raw <= (Long.Max div 1e6) div n_target; denominator iff
    // t_target <= Long.Max div n_raw; empty target iff t_target = 0.
    val maxL = Long.MaxValue
    val weights = counts.crossJoin(broadcast(totals))
      .withColumn("w_us",
        when(col("t_target") === 0L,
          expr(s"raise_error('importanceWeights: target slice is empty — no target distribution to weight against')"))
        .when(col("n_target") > 0L &&
            col("t_raw") > expr(s"($maxL div 1000000) div n_target"),
          expr(s"raise_error('importanceWeights: 1e6 * n_target * t_raw exceeds int64 — switch the products to DECIMAL(38,0)')"))
        .when(col("t_target") > expr(s"$maxL div n_raw"),
          expr(s"raise_error('importanceWeights: n_raw * t_target exceeds int64 — switch the products to DECIMAL(38,0)')"))
        .otherwise(expr("(1000000 * n_target * t_raw) div (n_raw * t_target)")))
      .select(col("__b"), col("w_us"))
    val scored = tok.join(broadcast(weights), "__b")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("w_us").as("score_us"))
    // full-coverage contract (same as chunkBoilerplate): a null-text
    // document has zero tokens and silently vanishing from the output
    // would make a downstream inner join drop the doc — emit it with a
    // zero score instead
    df.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score_us"), lit(0L)).as("score_us"))
      .withColumn("target_like", (col("score_us") > col("n_tokens") * lit(1000000L)).cast("int"))
  }

  /**
   * DSIR resampling — the second half of the published method
   * (arXiv:2302.03169 §2: compute importance weights, then SAMPLE the
   * raw corpus with probability proportional to them). Input is
   * [[importanceWeights]] output (`idCol`, `n_tokens`, `score_us`).
   *
   * Acceptance is `min(w̄, cap) / cap` where w̄ = score_us div n_tokens
   * (per-token average weight in µ-units) and `capUs` is the weight at
   * which acceptance saturates at 1 — the proportional-sampling knob
   * expressed in the same exact integer fixed point as the weights.
   * The per-doc uniform draw is a Knuth-style mixed hash of the id
   * (xxhash prime3 multiplier — distinct from both the token-ring and
   * token-percent mixers, so composing this sampler with them never
   * correlates), reduced to ppm by taking the HIGH bits, exactly the
   * [[graft.io.TableIO.tokenPercentBucket]] lattice-avoidance argument.
   * Fully deterministic → both engines and any partitioning agree on the
   * exact kept set; every row is returned with its `kept` verdict so the
   * sampling rate itself is auditable downstream.
   *
   * Scale: pure per-row column arithmetic over the weight table — no
   * shuffle, no text, nothing driver-side.
   */
  def dsirResample(weights: DataFrame, idCol: String, capUs: Long): DataFrame = {
    require(capUs > 0 && capUs <= 1000000000000L,
      s"capUs must be in (0, 1e12] (int64 headroom for capUs * 1e6): $capUs")
    requireFreeColumns(weights, Seq("w_avg_us", "accept_ppm", "u_ppm", "kept"))
    val M = 1L << 31
    weights
      .withColumn("w_avg_us",
        when(col("n_tokens") > 0L, expr("score_us div n_tokens")).otherwise(0L))
      .withColumn("accept_ppm", expr(s"(least(w_avg_us, ${capUs}L) * 1000000L) div ${capUs}L"))
      .withColumn("u_ppm",
        shiftright(pmod(pmod(col(idCol).cast("long"), lit(M)) * lit(3266489917L), lit(M)) * lit(1000000L), 31))
      .withColumn("kept", (col("u_ppm") < col("accept_ppm")).cast("int"))
  }

  /**
   * Fixed-width histogram of a numeric column (negatives included):
   * bucket `floor(v / width)`, per-bucket count and min/max envelope. One
   * map-side-combined groupBy — the corpus length-distribution audit
   * (quality filters are tuned against exactly this table).
   */
  def histogram(df: DataFrame, valueCol: Column, width: Long): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    // TRUE floor division, exact over the full long domain (never double
    // `/` + cast — drifts past 2^53). Bare `div` truncates toward zero
    // (as does DuckDB's `//`), which would give bucket 0 DOUBLE width —
    // spanning (-width, width) and mixing signs — on negative-valued
    // columns (deltas, balances); the correction shifts negative
    // non-multiples down one bucket so every bucket is [k·w, (k+1)·w).
    df.select(valueCol.cast("long").as("__v"))
      .groupBy(expr(
        s"CASE WHEN __v >= 0 OR __v % $width = 0 THEN __v div $width ELSE __v div $width - 1 END")
        .as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min("__v").as("min_v"),
        max("__v").as("max_v"))
  }

  /**
   * X30 — GPT-style sequence packing: concatenate each group's documents
   * in id order into one virtual token stream and cut it into fixed
   * `seqLen`-token training sequences; report, per document, where it
   * lands (first sequence, offset) and how many sequence boundaries it
   * straddles. This is the batch-assembly step after curation and shard
   * packing (TextQueries.shard_packing bins whole docs under a budget;
   * this is the exact-fill form where documents SPAN sequences, the way a
   * causal-LM dataloader actually packs).
   *
   * The running sum is a TWO-LEVEL cumsum, not one window per group: a
   * single `Window.partitionBy(groupCol)` serializes each group through
   * one partition, and a skewed shard (one language at 40% of the
   * corpus) is exactly the failure a 100 TB run hits. Instead the rows
   * are range-partitioned on (group, id) — so each group's id order
   * splits into contiguous, SIZE-BALANCED chunks regardless of group
   * skew — then (1) a local cumsum runs per (group, chunk) in parallel,
   * (2) per-chunk totals (≤ one row per chunk per group — tiny) get a
   * chunk-level cumsum, and (3) the chunk offsets broadcast-join back:
   * start = chunk offset + local cumsum − n. Any monotone contiguous
   * chunking yields the identical global cumsum (property-tested against
   * the single-window form), so the range sampler's boundary choice
   * never shows in the output. All arithmetic is exact int64; no global
   * sort, no collect.
   */
  def packSequences(df: DataFrame, idCol: String, groupCol: String,
      nTokens: Column, seqLen: Long, chunkParts: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    requireFreeColumns(df, Seq("n_tokens", "start_tok", "first_seq", "offset_in_seq",
      "n_seqs", "__chunk", "__local", "__coff", "__og", "__oc"))
    val spark = df.sparkSession
    val parts = if (chunkParts > 0) chunkParts
      else math.max(spark.sparkContext.defaultParallelism * 2,
        spark.sessionState.conf.numShufflePartitions)
    // chunk = physical range partition: contiguous in (group, id) order by
    // construction, balanced by row count by the range partitioner. The
    // lazy PRE-exchange localCheckpoint, clause (a) of the staging rule,
    // makes the token-count projection run exactly once: the
    // partitioner's sampling pass and the exchange
    // both read the materialized 3-column RDD instead of re-tokenizing
    // the text (measured: sampling re-ran the tokenize and doubled the
    // query's scan cost without it).
    // EAGER post-exchange checkpoint, (a) (one construction-time job, the
    // HotKeys gate convention): pins the chunk ASSIGNMENT itself, so the
    // range exchange executes exactly once and both branches below read
    // the same materialized (row -> chunk) mapping. This is load-bearing
    // for correctness, not just latency: the range partitioner's sample
    // seed derives from the RDD id of the exchange's input wrapper, so a
    // SECOND execution of the exchange (e.g. the offsets subplan built
    // in its own job) can draw different boundaries and silently
    // disagree with the local-cumsum branch on chunk membership
    // (spec-pinned by the giant-group test). It also removes the driver
    // bench's cold-run spread (r14 probe_sp: 5.8 s first-run with the
    // whole subplan in the broadcast-build thread; ~1 s with the
    // exchange pre-materialized).
    val chunked = df.select(col(groupCol), col(idCol), nTokens.cast("long").as("n_tokens"))
      .localCheckpoint(false)
      .repartitionByRange(parts, col(groupCol), col(idCol))
      .withColumn("__chunk", spark_partition_id())
      .localCheckpoint(eager = true)
    val wLocal = Window.partitionBy(groupCol, "__chunk").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = chunked.withColumn("__local", sum("n_tokens").over(wLocal))
    // per-chunk totals: at most `parts` + |groups| rows — the chunk-level
    // cumsum window runs over a table that fits one partition no matter
    // how large or skewed the input is
    val wChunk = Window.partitionBy(groupCol).orderBy("__chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = chunked.groupBy(groupCol, "__chunk")
      .agg(sum("n_tokens").as("__ct"))
      .withColumn("__coff", coalesce(sum("__ct").over(wChunk), lit(0L)))
      .drop("__ct")
      .withColumnRenamed(groupCol, "__og").withColumnRenamed("__chunk", "__oc")
    // NULL-SAFE group equality: a NULL group is a legitimate window
    // partition (the old single-window form packed it), so a plain
    // using-join would silently drop every NULL-group row here
    local.join(broadcast(offsets),
        local(groupCol) <=> offsets("__og") && local("__chunk") === offsets("__oc"))
      .drop("__og", "__oc")
      .withColumn("start_tok", col("__coff") + col("__local") - col("n_tokens"))
      .withColumn("first_seq", expr(s"start_tok div $seqLen"))
      // an empty document occupies no tokens: it "lands" at its start
      // boundary and spans exactly one sequence by convention
      .withColumn("n_seqs",
        when(col("n_tokens") > 0,
          expr(s"(start_tok + n_tokens - 1) div $seqLen") - col("first_seq") + 1L)
          .otherwise(1L))
      .withColumn("offset_in_seq", expr(s"start_tok % $seqLen"))
      .drop("__chunk", "__local", "__coff")
  }

  /**
   * X31 — cross-source duplication overlap matrix: for every pair of
   * sources, how many distinct content keys they share. The audit a
   * curation run does before setting source mixing weights — two crawls
   * with 40% content overlap should not both count at full weight
   * (near-dup weighting per Dedup; this is the exact-key census).
   *
   * The pair generation is the inverted-index idiom (self-join through
   * the content key, never source × source × corpus): one distinct
   * collapse to (key, source), then pairs only THROUGH shared keys. A
   * key carried by s sources emits O(s²) rows with s ≤ |sources| (tiny);
   * the text itself never shuffles — callers pass a digest (md5/xxhash)
   * as the key for long content.
   */
  def crossSourceOverlap(df: DataFrame, keyCol: Column, srcCol: String): DataFrame = {
    val ks = df.select(keyCol.as("__k"), col(srcCol).as("__s")).distinct()
    ks.withColumnRenamed("__s", "src_a")
      .join(ks.withColumnRenamed("__s", "src_b"), "__k")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /**
   * Temperature-scaled source sampling (the multinomial mixture rule of
   * multilingual/multi-source training runs — public in the mBERT /
   * XLM-R exponential-smoothing recipe, arXiv:1901.07291 §3.1): sample
   * strata so the kept counts follow n_s^α instead of n_s, boosting
   * small strata relative to large ones. For the default α = 1/2 the
   * per-stratum keep probability normalized so the SMALLEST stratum is
   * fully kept is √(n_min/n_s), carried as an integer ppm threshold
   * `floor((10⁶·√n_min)/√n_s)` — two exactly-rounded IEEE sqrt's, one
   * multiply, one divide, so both engines (and any partitioning) agree
   * bit-for-bit. The per-row draw is the repo's standard multiplicative
   * Knuth hash of the id (deterministic, no rand()).
   *
   * Shape at scale: one map-side-combined count by stratum (output
   * O(|strata|), broadcast back), then a shuffle-free filter scan —
   * sampling 100 TB is a pure map after a tiny aggregate. `annotate`
   * returns every row with (n_strata, keep_ppm, u_ppm, keep) for audit;
   * [[temperatureSample]] is the filtering face.
   */
  def temperatureAnnotate(df: DataFrame, strataCol: String, idCol: Column): DataFrame = {
    requireFreeColumns(df, Seq("n_strata", "keep_ppm", "u_ppm", "keep"))
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_strata"))
    val nMin = counts.agg(min("n_strata").as("__nmin"))
    val ppm = counts.crossJoin(broadcast(nMin))
      .select(col(strataCol), col("n_strata"),
        floor(lit(1000000.0) * sqrt(col("__nmin").cast("double")) /
          sqrt(col("n_strata").cast("double"))).cast("long").as("keep_ppm"))
    df.join(broadcast(ppm), strataCol)
      .withColumn("u_ppm",
        pmod(pmod(idCol.cast("long"), lit(2147483648L)) * lit(2654435761L), lit(1000000L)))
      .withColumn("keep", col("u_ppm") < col("keep_ppm"))
  }

  /** Filtering face of [[temperatureAnnotate]]: the surviving rows with
   * the audit columns dropped. */
  /**
   * X41 — data-mixture / epoch planner: the per-source sampling table a
   * training run is launched with (the Llama/GPT "data mixture" table).
   * Given per-source token inventories, temperature-smoothed weights
   * w_s ∝ √n_s (the X12t exponential-smoothing face, α = ½) allocate a
   * token BUDGET across sources; a source whose allocation exceeds its
   * inventory is repeated over multiple epochs (data-constrained
   * scaling, Muennighoff et al. 2023 — up-sampling small high-quality
   * sources is the standard mixture move), with the final partial
   * epoch's keep rate in ppm.
   *
   * Integer-exactness: s_s = floor(√n_s) (one exactly-rounded IEEE sqrt
   * + floor — bit-deterministic in both engines, the X12t device),
   * W = Σ s_s, and the budget share uses the floor-division identity
   *   (B·s_s) div W = (B div W)·s_s + ((B mod W)·s_s) div W
   * which is EXACT (B = qW + r ⇒ the qW·s term is a multiple of W) and
   * int64-overflow-safe where the naive product is not: at 100 TB-corpus
   * scale B·s_s can exceed 2⁶³ (B ≈ 10¹³ tokens × s_s ≈ 5·10⁶), while
   * the identity's largest intermediate is r·s_s < W·s_s — bounded by
   * sources · s_max², far inside int64 for any real source census.
   * epochs = ceil(target/n_s) and the last-epoch ppm keep rate follow in
   * integer div/mod.
   *
   * Shape: ONE map-side-combined groupBy(source) over the corpus (the
   * only corpus-sized work — counting), then O(|sources|) arithmetic on
   * the driver-tiny plan table. Composes with [[temperatureSample]] /
   * [[stratifiedSample]] as the execution face of the plan.
   */
  def mixtureEpochPlan(df: DataFrame, sourceCol: String, tokensPerRow: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be non-negative, got $budgetTokens")
    val inv = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"), sum(tokensPerRow).cast("long").as("n_tokens"))
      .withColumn("s_w", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = inv.agg(sum("s_w").as("w_total"))
    inv.crossJoin(broadcast(tot))
      .withColumn("weight_ppm", expr("(s_w * 1000000) div w_total"))
      .withColumn("target_tokens",
        expr(s"($budgetTokens div w_total) * s_w + (($budgetTokens % w_total) * s_w) div w_total"))
      .withColumn("epochs", expr("(target_tokens + n_tokens - 1) div n_tokens"))
      .withColumn("last_epoch_keep_ppm",
        // (r·10⁶) with r up to a 100 TB source's token count exceeds
        // int64 — this one term goes through an exact DECIMAL(38,0)
        // intermediate (HUGEINT in the oracle), floor-div back to int64
        expr("CASE WHEN target_tokens = 0 THEN CAST(0 AS BIGINT) " +
          "WHEN target_tokens % n_tokens = 0 THEN CAST(1000000 AS BIGINT) " +
          "ELSE CAST((CAST(target_tokens % n_tokens AS DECIMAL(38,0)) * 1000000) " +
          "div n_tokens AS BIGINT) END"))
      .select("source", "n_docs", "n_tokens", "weight_ppm", "target_tokens",
        "epochs", "last_epoch_keep_ppm")
  }

  def temperatureSample(df: DataFrame, strataCol: String, idCol: Column): DataFrame =
    temperatureAnnotate(df, strataCol, idCol)
      .filter(col("keep"))
      .drop("n_strata", "keep_ppm", "u_ppm", "keep")

  /**
   * X41-exec — the EXECUTION face of [[mixtureEpochPlan]]: realize the
   * plan as the actual training-row stream. Each source runs
   * `epochs − 1` FULL repetitions of its corpus plus one partial epoch
   * that keeps rows by the standard deterministic ppm draw at
   * `last_epoch_keep_ppm` — so the realized token count meets the
   * plan's target up to the granularity of the sampled documents
   * (Muennighoff-style data-constrained repetition; the draw is the
   * repo's multiplicative id hash, rerun-stable, never rand()).
   *
   * Output: one row per (input row, epoch) kept — (`sourceCol`, `__id`,
   * `epoch`, `__tok`). Shape at scale: the plan is O(|sources|) and
   * broadcasts; the explode emits each row `epochs` times and filters
   * map-side — realizing the mixture is a pure map over the corpus, no
   * shuffle. A source with target 0 (epochs 0) emits nothing (the
   * explicit epochs > 0 guard also avoids `sequence(0, -1)`, which is a
   * DESCENDING two-element array in Spark, not empty).
   */
  def mixtureExecute(df: DataFrame, idCol: Column, sourceCol: String,
      tokensPerRow: Column, plan: DataFrame): DataFrame = {
    requireFreeColumns(df, Seq("__id", "__tok", "epoch", "epochs", "last_epoch_keep_ppm") ++
      (if (sourceCol != "source") Seq("source") else Nil))
    df.select(col(sourceCol).as("source"), idCol.cast("long").as("__id"),
        tokensPerRow.cast("long").as("__tok"))
      .join(broadcast(plan.select(col("source"), col("epochs"),
        col("last_epoch_keep_ppm"))), "source")
      .filter(col("epochs") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("epochs") - 1)))
      .filter(col("epoch") < col("epochs") - 1 ||
        pmod(pmod(col("__id"), lit(2147483648L)) * lit(2654435761L), lit(1000000L))
          < col("last_epoch_keep_ppm"))
      .select(col("source").as(sourceCol), col("__id"), col("epoch"), col("__tok"))
  }
}
