package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * X3/X5 — similarity search over embedding columns (`Array[Float]`,
 * modeling CQL `vector<float, n>` — SURVEY.md §1.3, §2.11).
 *
 * v1 ships brute-force cosine top-k (the exact baseline) plus a
 * label-blocked variant that models IVF coarse quantization: candidates
 * are restricted to the query's cell, turning the O(N·Q) scan into
 * O(N·Q / cells) — the standard ANN scale path (PAPERS.md block/LSH
 * literature). Top-k selection is two-phase: per-shuffle-partition
 * row_number first (bounds every partition's output at k·queries rows),
 * then a global rank over the tiny survivor set — the all-pairs stream
 * never converges on one reducer.
 *
 * Determinism: dot products fold left in array order with double
 * arithmetic in both Spark and the DuckDB oracle; ranking uses the
 * 6-decimal-rounded score with the neighbor id as total tiebreak
 * (SURVEY.md §7.5.5).
 */
object Similarity {

  /** Widen a too-narrow corpus frame to the session's parallelism before
   * a broadcast-joined kernel stage. A broadcast pair join runs in its
   * STREAM side's stage — no exchange, so AQE cannot split it and the
   * stage inherits the scan's partition count. A fixture/small-table
   * scan arrives in 1–2 partitions (one parquet row-group), which put
   * the ENTIRE banded pair scoring + partial heaps on one core (r17
   * measured: 3.4 s single-core vs ~1 s after widening at sf0.1). At
   * production scale a 100 TB scan carries thousands of partitions and
   * the gate never fires; when it does fire the cost is one linear
   * round-robin shuffle of the frame.
   *
   * EMBEDDING frames only, deliberately: text-side pipelines measured
   * FASTER unwidened (BenchAB probe_pwide — the repartition would
   * shuffle the text bytes themselves, which outweighs the kernel
   * parallelism it buys), so no text frame is ever routed through here.
   *
   * Exact cosines and deterministic tie-breaks make the RANKED outputs
   * partition-independent; a downstream float-AVERAGING consumer
   * (k-means centroid updates) does see a different summation order, and
   * relies on the round-6 integer-exact absorption to stay oracle-equal.
   *
   * The gate reads [[probePartitions]] — a logical-plan walk, NOT
   * `df.rdd` (r17: building the RDD forced a full extra physical
   * planning of the child per call, once per k-means iteration). An
   * un-probeable plan (any shuffle boundary) already runs at
   * `spark.sql.shuffle.partitions`, which every supported conf sets at
   * or above the session parallelism — never widened. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (probePartitions(df).exists(_ < want)) df.repartition(want) else df
  }

  /** Estimated physical partition count of a NARROW plan (scans,
   * projections, filters, generators, unions), without triggering
   * physical planning: file-relation leaves replicate Spark's own
   * file-split arithmetic (`maxSplitBytes` = min(maxPartitionBytes,
   * max(openCost, totalBytes/minPartitionNum)), partitions ≈
   * ⌈totalBytes/maxSplitBytes⌉ with per-file open costs), RDD-backed
   * leaves (localCheckpoint) report their real count, and any
   * shuffle-inducing node returns None — the frame's parallelism is
   * then the session's shuffle partitioning, not a scan artifact, so
   * the widen gate must not fire. The ±1-partition slack vs Spark's
   * bin-packing only matters near the parallelism boundary, where a
   * spurious round-robin of an already-parallel frame is harmless
   * (NarrowStageSpec pins fired/not-fired on the real shapes). */
  private[graft] def probePartitions(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    def walk(p: LogicalPlan): Option[Long] = p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val conf = spark.sessionState.conf
          val open = conf.filesOpenCostInBytes
          val nFiles = fs.location.inputFiles.length.toLong
          val total = fs.location.sizeInBytes + nFiles * open
          val minParts = conf.filesMinPartitionNum
            .getOrElse(spark.sparkContext.defaultParallelism).toLong.max(1L)
          val maxSplit = math.min(conf.filesMaxPartitionBytes,
            math.max(open, total / minParts)).max(1L)
          Some(math.max(1L, (total + maxSplit - 1) / maxSplit))
        case _ => None
      }
      case r: LogicalRDD => Some(r.rdd.getNumPartitions.toLong)
      case r: Range =>
        Some(r.numSlices.getOrElse(spark.sparkContext.defaultParallelism).toLong)
      case _: LocalRelation | _: OneRowRelation => Some(1L)
      case u: Union =>
        val counts = u.children.map(walk)
        if (counts.forall(_.isDefined)) Some(counts.flatMap(identity).sum) else None
      case r: Repartition =>
        if (r.shuffle) Some(r.numPartitions.toLong) // repartition(n): exact
        else walk(r.child).map(math.min(_, r.numPartitions.toLong)) // coalesce
      case r: RepartitionByExpression =>
        Some(r.optNumPartitions.getOrElse(
          spark.sessionState.conf.numShufflePartitions).toLong)
      case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
           _: LocalLimit | _: Expand =>
        walk(p.children.head)
      case _ => None // shuffle boundary or unknown: runs at shuffle.partitions
    }
    walk(df.queryExecution.analyzed)
  }

  /** Left-fold dot product with per-element double cast — bit-identical
   * to the oracle's list_reduce mirror. Backed by the codegen'd
   * FloatVectorDot kernel; [[dotHof]] keeps the declarative formulation
   * for cross-checking. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.FloatVectorDot.dot(a, b)

  /** Reference higher-order-function formulation of [[dot]] (same fold
   * order, same bits; ~8× slower per pair — kept for equivalence tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with a zero-norm guard: an all-zero vector has no direction,
   * and the unguarded 0/0 = NaN is WORSE than undefined under Spark's
   * ordering (NaN sorts above every double, so a zero vector would rank
   * as everyone's nearest neighbor, and NaN > threshold is TRUE, so
   * semanticDedup/nearDupPairs would silently drop real documents as
   * "duplicates" of a zero vector). Null instead: filters drop it, desc
   * ordering puts it last. */
  def cosine(a: Column, b: Column): Column =
    cosineFrom(dot(a, b), norm(a), norm(b))

  /** Same guard over a precomputed dot and per-side norms (the join paths
   * stage norms once per row, so only the cross dot is per-pair). */
  def cosineFrom(d: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom =!= 0.0, d / denom)
  }

  /** The ranking score of a scored pair: the 6-decimal guarded cosine of
   * the query side (q_emb, q_norm) against the candidate side
   * (embedding, c_norm) — the one spelling every pair scorer uses. */
  private def cos6: Column =
    round(cosineFrom(dot(col("q_emb"), col("embedding")), col("q_norm"), col("c_norm")), 6)

  /** A query frame as the scorers read it — query_id, q_emb, q_norm —
   * plus any `extra` per-query columns. */
  private def queryVecs(queries: DataFrame, extra: Column*): DataFrame =
    queries.select(Seq(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm")) ++ extra: _*)

  /** The broadcast exact-pair stage of the brute-force scorers: the small
   * query side `q` is broadcast against the widened candidate stream `c`
   * (which carries c_norm), joined on `keys` minus self-matches, and
   * scored with [[cos6]]. Norms are per-row, so each side computes them
   * once — per pair only the single cross dot product remains. */
  private def exactPairs(c: DataFrame, q: DataFrame, keys: Column*): DataFrame =
    c.join(broadcast(q), (keys :+ (col("vec_id") =!= col("query_id"))).reduce(_ && _))
      .withColumn("cos6", cos6)

  /** The candidate side of [[exactPairs]]: the widened stream with its
   * per-row norm. */
  private def normed(candidates: DataFrame): DataFrame =
    widen(candidates).withColumn("c_norm", norm(col("embedding")))

  /**
   * Brute-force exact top-k: every query vector against every candidate.
   * `queries` must be small (it is broadcast); candidates stream at full
   * scan parallelism. Output: query_id, rank (1..k), neighbor_id, cos6.
   */
  def topK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    rankTopK(exactPairs(normed(candidates), queryVecs(queries)), k)

  /** IVF-style blocked top-k: candidates restricted to the query's coarse
   * cell (here the `label` column stands in for the centroid id). */
  def topKBlocked(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("label").as("q_label"), norm(col("embedding")).as("q_norm"))
    rankTopK(exactPairs(normed(candidates), q, col("label") === col("q_label"))
      .drop("q_label"), k)
  }

  /** The first `n` rows per query_id under `order`, numbered in column
   * `as` — one row_number window, for which Spark's WindowGroupLimit rule
   * plants a PARTIAL per-partition top-n pass before the single exchange
   * when n is below `spark.sql.optimizer.windowGroupLimitThreshold`. */
  private def firstN(df: DataFrame, n: Int, as: String, order: Column*): DataFrame =
    df.withColumn(as, row_number().over(Window.partitionBy("query_id").orderBy(order: _*)))
      .filter(col(as) <= n)

  /** Top-k by (cos6 desc, vec_id) through [[firstN]], so no hot reducer
   * ever sees more than k rows per (query, upstream partition). This
   * replaced the manual spark_partition_id local/global two-phase, which
   * expressed the same bound but paid a second exchange and two extra
   * sorts (plan-verified, r15). Guarded: the partial needs k below the
   * threshold. */
  private[graft] def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    graft.ops.SqlTypes.requireWindowGroupLimit(pairs, k)
    firstN(pairs, k, "rank", col("cos6").desc, col("vec_id"))
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos6"))
  }

  /**
   * X3 scale path 2 — random-hyperplane LSH bucketing (sign-of-projection
   * sketch): 8 deterministic pseudo-random planes → 256 buckets; top-k
   * search then touches only the query's bucket, ~1/256 of the corpus.
   * Plane components are generated by the same arithmetic in Spark and
   * the DuckDB oracle ((j*64+i)*2654435761 mod 2039 − 1019), and each
   * projection runs through the codegen FloatVectorDot kernel.
   */
  val LshPlanes = 8

  /** Default kNN bucket cap: a bigger bucket drops whole ([[knnDirected]]). */
  val KnnBucketCap = 10000L

  val VecDim = org.apache.spark.sql.graft.LshProbeKernel.VecDim

  /** Delegates to the kernel's single source of the plane formula —
   * [[org.apache.spark.sql.graft.LshProbeKernel.planeComponent]]. */
  def planeComponent(j: Int, i: Int): Float =
    org.apache.spark.sql.graft.LshProbeKernel.planeComponent(j, i)

  def lshBucket(emb: Column): Column =
    (0 until LshPlanes).map { j =>
      val plane = array((0 until VecDim).map(i => lit(planeComponent(j, i))): _*)
      when(dot(emb, plane) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The candidate side of the LSH scorers: [[normed]] plus its bucket. */
  private def lshCandidates(candidates: DataFrame): DataFrame =
    normed(candidates).withColumn("c_bucket", lshBucket(col("embedding")))

  /** LSH-bucketed approximate top-k: brute force within the query's
   * bucket only. Same output shape as [[topK]]; recall < 1 by design. */
  def topKLsh(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queryVecs(queries, lshBucket(col("embedding")).as("q_bucket"))
    rankTopK(exactPairs(lshCandidates(candidates), q, col("c_bucket") === col("q_bucket")), k)
  }

  /**
   * Multi-probe LSH top-k: each query also probes every bucket at Hamming
   * distance 1 from its own (flip one of the 8 sign bits) — the standard
   * recall lever (multi-probe LSH, Lv et al., VLDB'07) WITHOUT abandoning
   * the bucketed equi-join: the query side explodes into its 1+8 probe
   * buckets (small side, broadcast), candidates still join on their single
   * bucket key. Search cost ≈ 9/256 of the corpus per query instead of
   * 1/256, recall strictly ≥ single-probe.
   */
  def topKLshMultiProbe(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val probes = (0 until LshPlanes).foldLeft(array(col("q_bucket")))(
      (acc, j) => array_append(acc, col("q_bucket").bitwiseXOR(lit(1 << j))))
    val q = queryVecs(queries, lshBucket(col("embedding")).as("q_bucket"))
      .withColumn("probe", explode(probes))
      .drop("q_bucket")
    rankTopK(exactPairs(lshCandidates(candidates), q, col("c_bucket") === col("probe")), k)
  }

  /**
   * Int8 scalar quantization of an embedding column — the storage-scale
   * lever of a vector pipeline (4× smaller than float32, distance error
   * bounded by scale/254 per component). Per row: symmetric scale
   * max|v|/127, q_i = floor(v_i·127/max|v| + 0.5). Everything is built
   * from codegen'd higher-order expressions with explicit floor-rounding
   * so both engines (and reruns) agree bit-for-bit; [[dequantize]] is the
   * inverse map used for error accounting.
   */
  def quantizeInt8(emb: Column): (Column, Column) = {
    val scale = aggregate(emb, lit(0.0), (acc, x) =>
      greatest(acc, abs(x.cast("double"))))
    // scale==0 (all-zero embedding) quantizes to all-zero codes — same
    // contract as the QuantizeInt8Stats kernel; unguarded, 0.0/0.0 is NaN
    // and floor(NaN).cast(int) is null (or an ANSI error), not 0.
    val q = transform(emb, v =>
      when(scale > lit(0.0),
        floor(v.cast("double") * lit(127.0) / scale + lit(0.5)).cast("int"))
        .otherwise(lit(0)))
    (scale, q)
  }

  def dequantize(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") * scale / lit(127.0))

  /**
   * X3 scale path 4 — SQ8 serving: symmetric int8 scalar-quantized
   * shortlist + exact float re-rank. The stored tier holds
   * struct(scale, codes) per vector (4× smaller than float32; the
   * [[org.apache.spark.sql.graft.QuantizeInt8Codes]] kernel, one pass per
   * row), the per-pair hot loop is the codegen'd INTEGER dot
   * ([[org.apache.spark.sql.graft.IntVectorDot]] — exact int64, ¼ the
   * memory traffic of the float dot), and only the shortlist
   * (`shortlistFactor`·k rows per query) ever touches float embeddings
   * again. approx_cos = ((scale_q·scale_c)·idot / 127²) / (norm_q·norm_c)
   * with this exact association order in both engines, so the double
   * ranking key is bit-identical to the DuckDB mirror; shortlist and
   * final rank both tie-break on neighbor_id. The re-rank join streams
   * the embeddings table once against the broadcast shortlist — codes in
   * RAM, floats on disk, the production SQ8 memory story.
   * Output: query_id, rank, neighbor_id, cos6 (exact), approx6 (the SQ8
   * score that built the shortlist — proof the compressed path ranked).
   */
  def topKSq8(queries: DataFrame, candidates: DataFrame, k: Int,
      shortlistFactor: Int = 4): DataFrame =
    topKSq8Coded(queries, sq8Coded(candidates), candidates, k, shortlistFactor)

  /** The SQ8 STORED tier of a float table: (vec_id, scale, codes, nrm) —
   * what a production vector store materializes once at ingest (the
   * one-pass [[org.apache.spark.sql.graft.QuantizeInt8Codes]] kernel)
   * and serves every query from. */
  def sq8Coded(df: DataFrame): DataFrame = sq8Tier(df, None)

  /** [[sq8Coded]], carrying `cellCol` as `__cell` when routed. */
  private def sq8Tier(df: DataFrame, cellCol: Option[String]): DataFrame = df
    .select(Seq(col("vec_id"),
      org.apache.spark.sql.graft.FloatVectorDot.quantizeInt8Codes(col("embedding")).as("sq"),
      norm(col("embedding")).as("nrm")) ++ cellCol.map(col(_).as("__cell")): _*)
    .select(Seq(col("vec_id"), col("sq.scale").as("scale"), col("sq.codes").as("codes"),
      col("nrm")) ++ cellCol.map(_ => col("__cell")): _*)

  /** [[topKSq8]] over a PRE-CODED candidate tier: `coded` is the stored
   * [[sq8Coded]] table (scanned for the shortlist — the ¼-width integer
   * pass), `floats` the full-precision table touched only by the
   * broadcast-shortlist re-rank join. */
  def topKSq8Coded(queries: DataFrame, coded: DataFrame, floats: DataFrame,
      k: Int, shortlistFactor: Int = 4): DataFrame =
    sq8Rerank(queries, floats,
      sq8Shortlist(sq8Coded(queries), coded, routed = false, shortlistFactor * k), k)

  /** The SQ8 shortlist stage: the integer-dot approx score of every
   * (query, candidate) pair of the coded tiers, cut to the best `m` per
   * query. `routed` tiers carry `__cell` and the cell equality is the
   * join key, so cross-cell pairs never reach the integer dot. */
  private def sq8Shortlist(qCoded: DataFrame, coded: DataFrame, routed: Boolean,
      m: Int): DataFrame = {
    import org.apache.spark.sql.graft.FloatVectorDot.intVectorDot
    val cell = if (routed) Seq("__cell") else Nil
    val c = widen(coded)
    val q = qCoded.select(Seq(
      col("vec_id").as("query_id"), col("scale").as("q_scale"),
      col("codes").as("q_codes"), col("nrm").as("q_norm")) ++ cell.map(col): _*)
    val denom = col("q_norm") * col("nrm")
    val approx = ((col("q_scale") * col("scale")) *
        intVectorDot(col("q_codes"), col("codes")).cast("double") / lit(16129.0)) / denom
    val selfless = col("vec_id") =!= col("query_id")
    val joined =
      if (routed) c.join(broadcast(q), cell).filter(selfless)
      else c.join(broadcast(q), selfless)
    // project to (ids, approx) BEFORE the rank: the shortlist sort must
    // move 3 slim columns per pair, not the 64-int code arrays
    val pairs = joined
      .select(col("query_id"), col("vec_id"), when(denom =!= 0.0, approx).as("approx"))
    // only ≤ m rows per (query, input partition) shuffle, through
    // firstN's partial — guarded, since both factors are caller-supplied
    graft.ops.SqlTypes.requireWindowGroupLimit(pairs, m)
    firstN(pairs, m, "__sr", col("approx").desc, col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("approx"), 6).as("approx6"))
  }

  /** The SQ8 exact re-rank: floats are read only for shortlist members
   * (and the query anchors); the shortlist is ≤ m rows per query —
   * broadcast it. The float store STREAMS (norm kernel per row + probe) —
   * widened, or a narrow fixture scan single-threads the whole re-rank
   * stage (the r18 NarrowStageSpec door). */
  private def sq8Rerank(queries: DataFrame, floats: DataFrame, short: DataFrame,
      k: Int): DataFrame = {
    val reranked = widen(floats)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("c_norm"))
      .join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queryVecs(queries)), "query_id")
      .withColumn("cos6", cos6)
    firstN(reranked, k, "rank", col("cos6").desc, col("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos6"), col("approx6"))
  }

  /**
   * IVF-training E-step: assign every embedding to its nearest centroid
   * by squared L2, computed via the three-dot identity
   * |v−c|² = v·v − 2·v·c + c·c so each term is one fixed-order
   * [[dot]] fold (deterministic, oracle-mirrored). Centroids broadcast —
   * the N×K pair stream never shuffles; the argmin is a groupBy
   * [[org.apache.spark.sql.graft.ArgMinPair]] with map-side combine
   * (ties break on centroid id), NOT a window sort over N×K rows. The
   * r17 form aggregated `min(struct(dist, c_id))`, which is the same
   * lexicographic minimum but plans as SortAggregate (struct buffers are
   * not hash-aggregable): partial sort + final sort outside codegen —
   * the kernel's primitive (dist, id) buffer restores the HashAggregate
   * path (r18, BenchAB probe_argmin: 0.91 s → 0.40 s at sf0.1).
   */
  def assignToCentroids(df: DataFrame, centroids: DataFrame): DataFrame = {
    val c = centroids.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      .withColumn("c_sq", dot(col("c_emb"), col("c_emb")))
    widen(df).withColumn("v_sq", dot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(c))
      .withColumn("dist6",
        round(col("v_sq") - lit(2.0) * dot(col("embedding"), col("c_emb")) + col("c_sq"), 6))
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.graft.ArgMinPair.argmin(col("dist6"), col("c_id")).as("m"))
      .select(col("vec_id"), col("m.id").as("centroid_id"), col("m.dist").as("dist6"))
  }

  /**
   * X3+ — PRODUCT QUANTIZATION (Jégou et al., "Product Quantization for
   * Nearest Neighbor Search", TPAMI 2011): the 64-dim vector is cut into
   * [[PqSubspaces]] sub-vectors of [[PqSubDim]] dims; each sub-vector is
   * quantized to its nearest sub-centroid, so a vector stores as 8 small
   * codes (8 bytes at k=256) instead of 256 bytes of float32 — the
   * compression lever a 100 TB vector store actually ships. Distances are
   * per-subspace squared L2 via the three-dot identity, every dot a
   * fixed-order [[dot]] fold; the argmin is a map-side-combined
   * `min(struct)` (ties on centroid id), mirroring [[assignToCentroids]].
   */
  val PqSubspaces = 8
  val PqSubDim = 8

  /** Explode (id, embedding) into one row per subspace with the sliced
   * sub-vector, plus any `carry` columns passed through per row. Pure
   * per-row generate — no shuffle. */
  def pqSubVectors(df: DataFrame, idCol: String, carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: carry.map(col) :+ explode(array((0 until PqSubspaces).map(m =>
        struct(lit(m.toLong).as("sub"), slice(col("embedding"), m * PqSubDim + 1, PqSubDim).as("svec"))): _*)).as("e"): _*)
      .select(col(idCol) +: carry.map(col) :+ col("e.sub").as("sub") :+ col("e.svec").as("svec"): _*)

  /** PQ encoding: per (vector, subspace), the id of the nearest
   * sub-centroid plus the rounded quantization error. Centroid sub-vector
   * table broadcasts; the N×[[PqSubspaces]] stream never shuffles until the tiny
   * per-(vec, sub) argmin. `carry` columns of `df` (per-vector constants,
   * e.g. the IVF cell) ride through the encoding as extra group keys, so
   * a caller never has to join the corpus-sized code table back against
   * the corpus to recover them (r18: that join broadcast a corpus-sized
   * (vec_id, cell) side locally and degrades to a corpus×corpus shuffle
   * join at scale — guide §3). */
  def pqCodes(df: DataFrame, centroids: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val v = pqSubVectors(widen(df), "vec_id", carry)
    val c = pqSubVectors(centroids.select(col("vec_id").as("c_id"), col("embedding")), "c_id")
      .withColumnRenamed("svec", "cvec")
    v.join(broadcast(c), "sub")
      .withColumn("dist6", round(
        dot(col("svec"), col("svec")) - lit(2.0) * dot(col("svec"), col("cvec"))
          + dot(col("cvec"), col("cvec")), 6))
      .groupBy(col("vec_id") +: carry.map(col) :+ col("sub"): _*)
      .agg(org.apache.spark.sql.graft.ArgMinPair.argmin(col("dist6"), col("c_id")).as("m"))
      .select(col("vec_id") +: carry.map(col) :+ col("sub") :+
        col("m.id").as("code") :+ col("m.dist").as("dist6"): _*)
  }

  /**
   * PQ ASYMMETRIC DISTANCE (ADC) top-k: the query precomputes a lookup
   * table of per-subspace distances to every sub-centroid ([[PqSubspaces]] × k
   * entries, broadcast); each candidate's approximate distance is then
   * just the SUM of table entries selected by its stored codes — no
   * full-dimension dot per pair, which is the whole point of PQ at scale.
   * Table entries are fixed-point (floor(dist·1e6) as int64) so the
   * 8-term sum is exact and order-independent; rank ties break on
   * neighbor id. Self-matches are excluded.
   */
  def pqAdcTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame, k: Int): DataFrame = {
    val pairs = adcPairs(queries, candidates, centroids, None)
    // ascending rank, same WindowGroupLimit-partial shape as rankTopK
    graft.ops.SqlTypes.requireWindowGroupLimit(pairs, k)
    firstN(pairs, k, "rank", col("adc_us").asc, col("vec_id"))
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("adc_us"))
  }

  /** The ADC stages of [[pqAdcTopK]] — candidate codes, the query LUT,
   * the per-pair 8-term sum — returning (query_id, vec_id, adc_us).
   * With `cellCol` the query's IVF cell rides the LUT and the candidate's
   * rides the encoding (pqCodes carry), so the join key (sub, code, cell)
   * prunes cross-cell pairs BEFORE the sum. */
  private def adcPairs(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
      cellCol: Option[String]): DataFrame = {
    val cell = cellCol.toSeq.map(_ => "__cell")
    val codes = pqCodes(
        cellCol.fold(candidates)(cc =>
          candidates.select(col("vec_id"), col("embedding"), col(cc).as("__cell"))),
        centroids, carry = cell)
      .select((Seq("vec_id", "sub", "code") ++ cell).map(col): _*)
    val q = pqSubVectors(queries.select(col("vec_id").as("query_id"), col("embedding")),
        "query_id")
      .withColumnRenamed("svec", "qvec")
    val c = pqSubVectors(centroids.select(col("vec_id").as("c_id"), col("embedding")), "c_id")
      .withColumnRenamed("svec", "cvec")
    val dists = q.join(c, "sub")
      .withColumn("pdist_us", floor((
        dot(col("qvec"), col("qvec")) - lit(2.0) * dot(col("qvec"), col("cvec"))
          + dot(col("cvec"), col("cvec"))) * lit(1000000.0)).cast("long"))
    val lut = cellCol.fold(dists)(cc =>
        dists.join(queries.select(col("vec_id").as("query_id"), col(cc).as("__cell")), "query_id"))
      .select(Seq(col("query_id"), col("sub"), col("c_id").as("code")) ++ cell.map(col) :+
        col("pdist_us"): _*)
    codes.join(broadcast(lut), Seq("sub", "code") ++ cell)
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pdist_us").as("adc_us"))
  }

  /**
   * TWO-STAGE retrieval (Jégou et al. 2011 §V, the production ANN
   * pattern): the cheap ADC pass shortlists `shortlist` candidates per
   * query, then ONLY those pairs pay an exact full-dimension cosine and
   * re-rank to the final k. At 100 TB the exact pass is a join of
   * (queries × shortlist) ids — thousands of rows — against the vector
   * store (id-keyed point lookups with a connector; broadcast of the tiny
   * query side here), never a second full scan. Recall comes from
   * `shortlist` ≫ k absorbing ADC's quantization error; precision from
   * the exact re-rank.
   */
  def pqRerankTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
      k: Int, shortlist: Int): DataFrame =
    pqRerank(queries, candidates,
      pqAdcTopK(queries, candidates, centroids, shortlist)
        .select(col("query_id"), col("neighbor_id")), k)

  /** The exact re-rank of a (query_id, neighbor_id) shortlist. The
   * shortlist (≤ queries × shortlist rows) broadcasts; the vector store
   * streams (widened — a narrow fixture scan would single-thread the
   * re-rank stage) — without the hint this would shuffle every candidate
   * embedding for a thousand-row id lookup. */
  private def pqRerank(queries: DataFrame, candidates: DataFrame, short: DataFrame,
      k: Int): DataFrame = {
    val nv = widen(candidates)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("__n_emb"))
    val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("__q_emb"))
    val scored = nv.join(broadcast(short), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cos6", round(cosine(col("__q_emb"), col("__n_emb")), 6))
    firstN(scored, k, "rank", col("cos6").desc, col("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos6"))
  }

  /**
   * X3++ — the END-TO-END ANN SERVING composition (IVF-PQ, Jégou et al.
   * 2011): coarse ROUTING to the query's IVF cell, the PQ ADC pass
   * shortlisting within the cell, and the exact full-dimension re-rank
   * of the shortlist — the three already-verified primitives
   * ([[topKBlocked]]'s cell restriction, [[pqAdcTopK]]'s ADC stages, the
   * [[pqRerankTopK]] tail) chained the way a production vector-serving
   * path chains them. The `ann_serve_e2e` oracle is the chained CTE
   * mirror, so the hash match proves the COMPOSITION (the X42 pattern).
   *
   * Routing is IN the ADC join key: the broadcast LUT carries each
   * query's cell and the code stream carries each candidate's, so the
   * join key (sub, code, cell) prunes cross-cell pairs BEFORE the
   * 8-term sum — at 100 TB the code table is stored partitioned by
   * cell and the scan itself prunes to the probed cells; the join-key
   * form is the single-table-harness equivalent (no post-hoc filter
   * over an all-cells pair stream), and the cell rides THROUGH the
   * encoding (pqCodes carry), never a re-join against the corpus.
   */
  def ivfPqServeTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val pairs = adcPairs(queries, candidates, centroids, Some(IvfCellCol))
    pqRerank(queries, candidates,
      firstN(pairs, shortlist, "__sr", col("adc_us").asc, col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id")), k)
  }

  /**
   * X3sq8+ — END-TO-END ANN SERVING over the SQ8 tier: coarse ROUTE to
   * the query's IVF cell, SQ8 integer-dot shortlist WITHIN the cell,
   * exact full-dimension re-rank — the composition a production store
   * often serves for small cells instead of PQ-ADC (one int8 code block
   * per vector beats a per-query LUT when the cell fits the shortlist
   * scan). The cell equality lives IN the shortlist join key, so
   * cross-cell pairs never reach the integer dot — at 100 TB the SQ8
   * code table is stored partitioned by cell and the scan itself prunes
   * to the probed cells; the join-key form is the single-table-harness
   * equivalent. Shortlist and re-rank are [[topKSq8Coded]]'s stages with
   * the route added; the `ann_serve_sq8` oracle chains the verified SQ8
   * mirrors with the same route so the hash match proves the
   * composition (the X42 pattern).
   */
  def ivfSq8ServeTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    sq8Rerank(queries, candidates,
      sq8Shortlist(sq8Tier(queries, Some(IvfCellCol)), sq8Tier(candidates, Some(IvfCellCol)),
        routed = true, Sq8ServeShortlistFactor * k), k)

  /** The serving compositions' IVF cell column, and [[ivfSq8ServeTopK]]'s
   * shortlist per query in multiples of k. */
  val IvfCellCol = "label"
  val Sq8ServeShortlistFactor = 4

  /**
   * X2d+ — SemDeDup-style semantic dedup (Abbas et al. 2023, public
   * arXiv:2303.09540): cluster embeddings to centroids (the IVF E-step,
   * [[assignToCentroids]]), compare pairs ONLY within a cluster, and drop
   * every vector that has a lower-id cluster-mate with cosine above
   * `threshold`. The deterministic keep-lowest-id rule replaces the
   * paper's arbitrary representative; pair cost is Σ cluster² — the
   * centroid count is the scale lever (K clusters cut the all-pairs
   * stream by ~K×), exactly the knob production semantic dedup turns.
   * Returns the SURVIVORS (vec_id, centroid_id, dist6).
   */
  def semanticDedup(df: DataFrame, centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = assignToCentroids(df, centroids)
    val emb = df.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("__nrm"))
    val withEmb = assigned.join(emb, "vec_id")
    val a = withEmb.select(col("centroid_id"), col("vec_id").as("id_a"),
      col("embedding").as("__emb_a"), col("__nrm").as("__norm_a"))
    val b = withEmb.select(col("centroid_id"), col("vec_id").as("id_b"),
      col("embedding").as("__emb_b"), col("__nrm").as("__norm_b"))
    val drops = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos6",
        round(cosineFrom(dot(col("__emb_a"), col("__emb_b")), col("__norm_a"), col("__norm_b")), 6))
      .filter(col("cos6") > threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(drops, Seq("vec_id"), "left_anti")
  }

  /**
   * X3+ — INTEGER-EXACT LLOYD STEP (k-means training for the IVF/PQ
   * coarse quantizer). Float means are partitioning-dependent (summation
   * order), so the whole round runs in µ-quantized integer space:
   * components become `floor(v·1e6)` int64, distances are exact integer
   * squared L2, and the M-step centroid is the exact integer mean
   * `sum div n` (both engines truncate integer division toward zero —
   * verified). Every rerun, partitioning, and the oracle produce
   * bit-identical centroids — the property float k-means can't give.
   *
   * [[kmeansUpdate]]: E-step against `centroids`, then the M-step table
   * (centroid_id, dim, c_us, n) — per-dimension new centroids. Shapes:
   * assignment = broadcast K centroids against the vector stream (one
   * groupBy on vec_id with min(struct) argmin); M-step = posexplode to
   * (centroid, dim) pairs, one map-side-combined groupBy.
   *
   * [[kmeansReassign]]: E-step against an UPDATED (centroid_id, dim,
   * c_us) table — the dims join broadcast, distances accumulate with a
   * map-side-combined sum, argmin as above. Chaining
   * update → reassign is one full Lloyd round.
   */
  def quantizeMicros(emb: Column): Column =
    transform(emb, v => floor(v.cast("double") * lit(1000000.0)).cast("long"))

  def kmeansUpdate(df: DataFrame, centroids: DataFrame): DataFrame = {
    val v = df.select(col("vec_id"), quantizeMicros(col("embedding")).as("q"))
    val c = centroids.select(col("vec_id").as("c_id"), quantizeMicros(col("embedding")).as("cq"))
    val assigned = v.crossJoin(broadcast(c))
      .withColumn("dist_q",
        expr("aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, d) -> acc + d)"))
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.graft.ArgMinPair.argmin(col("dist_q"), col("c_id")).as("m"))
      .select(col("vec_id"), col("m.id").as("c_id"))
    v.join(assigned, "vec_id")
      .select(col("c_id"), posexplode(col("q")).as(Seq("dim", "vq")))
      .groupBy("c_id", "dim")
      .agg(count(lit(1)).as("n"), sum("vq").as("s"))
      .select(col("c_id").as("centroid_id"), col("dim").cast("long").as("dim"),
        expr("s div n").as("c_us"), col("n"))
  }

  def kmeansReassign(df: DataFrame, newCentroids: DataFrame): DataFrame = {
    val vd = df.select(col("vec_id"), posexplode(quantizeMicros(col("embedding"))).as(Seq("dim", "vq")))
      .withColumn("dim", col("dim").cast("long"))
    vd.join(broadcast(newCentroids.select("centroid_id", "dim", "c_us")), "dim")
      .withColumn("d", (col("vq") - col("c_us")) * (col("vq") - col("c_us")))
      .groupBy("vec_id", "centroid_id")
      .agg(sum("d").as("dist_q"))
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.graft.ArgMinPair.argmin(col("dist_q"), col("centroid_id")).as("m"))
      .select(col("vec_id"), col("m.id").as("centroid_id"), col("m.dist").as("dist_q"))
  }

  /** X2d — embedding-cosine near-duplicate pairs within a blocking cell:
   * the LSH/IVF-blocked formulation of semantic dedup. */
  def nearDupPairs(df: DataFrame, threshold: Double): DataFrame = {
    val a = df.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      norm(col("embedding")).as("norm_a"))
    val b = df.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("norm_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos6", round(cosineFrom(dot(col("emb_a"), col("emb_b")), col("norm_a"), col("norm_b")), 6))
      .filter(col("cos6") > threshold)
      .select("label", "id_a", "id_b", "cos6")
  }

  /**
   * Mutual k-NN GRAPH over the whole embedding corpus — the standard
   * precursor to graph-based clustering and duplicate-community
   * detection (mutual-kNN edges feed connected components / community
   * detection; one-directional kNN edges from hub points create false
   * bridges, which the mutuality filter removes).
   *
   * Shape at scale, unlike [[topKLsh]] (which broadcasts a small query
   * set): the whole corpus is on BOTH sides, so candidates come from an
   * LSH-bucket SELF-join — a key-partitioned shuffle join on the bucket
   * id, never broadcast, never all-pairs. Per-node top-k uses the same
   * two-phase rank (partition-local cap then global window) as the top-k
   * ladder, so the shuffle after candidate generation is bounded at
   * k·partitions rows per node. The mutuality check is one self-join of
   * the directed edge list on the reversed pair — edge-keyed, O(N·k)
   * rows. At production bucket sizes the per-bucket quadratic term is
   * the cost lever, controlled exactly like the LSH dedup family (more
   * planes → smaller buckets → lower recall; multi-probe wins it back).
   */
  def knnGraphMutual(emb: DataFrame, k: Int, planes: Int = LshPlanes,
      bucketCap: Long = KnnBucketCap): DataFrame =
    mutualEdges(knnDirected(emb, k, planes, bucketCap))

  /** The mutuality filter of every kNN graph: one self-join of the
   * directed (src, dst, cos6) edge list on the reversed pair, keeping
   * each mutual edge once as (id_a < id_b, cos6). The second read of
   * `directed` reuses its top-k exchange; callers stage it where the
   * unstaged form measured ≥ 15 % more task CPU or would stream a narrow
   * stored scan into a broadcast join (clause (a)). */
  private[graft] def mutualEdges(directed: DataFrame): DataFrame =
    directed.as("a")
      .join(directed.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .filter(col("a.src") < col("a.dst"))
      .select(col("a.src").as("id_a"), col("a.dst").as("id_b"), col("a.cos6").as("cos6"))

  /** The DIRECTED top-k stage of [[knnGraphMutual]] (every node's k
   * best bucket-mates, before the mutuality filter): (src, dst, cos6).
   * Exposed because it is the unit the recall audit measures — the
   * mutuality join is a deliberate filter, not an approximation. */
  def knnDirected(emb: DataFrame, k: Int, planes: Int = LshPlanes,
      bucketCap: Long = KnnBucketCap): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(planes >= 1 && planes <= 62, s"planes must be in [1,62], got $planes")
    // The quadratic term lives per bucket: with P planes, expected bucket
    // size is N/2^P, so P must GROW with the corpus (the harness uses
    // P ≈ log2(N/32)); `bucketCap` then bounds the damage from a dense
    // region that defeats the hashing (a mass-duplicated embedding
    // cluster) by dropping oversized buckets whole — the same robustness
    // convention as Dedup.minhashPairsBanded. The recall trade is TOTAL
    // for the dropped rows: all P planes fold into a single bucket id
    // per vector, so a dropped bucket's members generate zero candidates
    // and get NO edges at all (unlike the banded minhash scheme, where a
    // row keeps its other bands). When that loss matters, measure it —
    // knnRecallAudit reports recall on a deterministic sample, and a
    // banded multi-bucket variant is the structural fix.
    // hot-key-safe cap (HotKeys doc): the count branch map-side-combines,
    // so only (bucket, n) rows ever shuffle — the 256-byte embedding rows
    // of a dense bucket never ride the hot key the way the previous
    // count-over-Window shipped them (all to one reducer, sorted, then
    // dropped). dropOverCap stages the bucketed frame once; the pair
    // self-join reads the same staged frame twice instead of re-scanning
    // parquet and re-hashing the planes per side.
    bucketTopK(HotKeys.dropOverCap(bucketed(emb, planes), Seq("bucket"), bucketCap), k)
  }

  /** (vec_id, embedding, nrm, bucket) of the single-bucket kNN family,
   * widened: the bucket pair join runs in this frame's own stage (see
   * [[widen]]). */
  private def bucketed(df: DataFrame, planes: Int): DataFrame =
    widen(df).select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      lshBucketPlanes(col("embedding"), planes).as("bucket"))

  /** Every vector's k best bucket-mates over a [[bucketed]] frame: the
   * embedding-carrying bucket self-join, scored with [[cos6]]. */
  private def bucketTopK(b: DataFrame, k: Int): DataFrame = {
    val pairs = b.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), col("bucket"))
      .join(b.select(col("vec_id"), col("embedding"), col("nrm").as("c_norm"), col("bucket")),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos6", cos6)
    directedTopK(pairs.select("query_id", "vec_id", "cos6"), k)
  }

  /** (src, dst, cos6): the k best (query_id, vec_id, cos6) rows per query
   * under (cos6 desc, vec_id asc). Native GroupTopK, not the two-phase
   * window rank: the bounded per-partition heaps cap output at k rows per
   * query BEFORE any exchange, so the candidate-pair stream never
   * shuffles. */
  private def directedTopK(pairs: DataFrame, k: Int): DataFrame =
    org.apache.spark.sql.graft.plans.GroupTopK
      .topkPerKey(pairs, Seq("query_id"), Seq(col("cos6").desc, col("vec_id").asc), k)
      .select(col("query_id").as("src"), col("vec_id").as("dst"), col("cos6"))

  /**
   * BANDED multi-bucket kNN candidates — the recall fix the single-bucket
   * scheme structurally can't reach (all P planes fold into ONE bucket
   * id, so two vectors disagreeing on ANY plane never meet; the audit
   * measured ~3 % directed recall at P=8 on near-random vectors). Same
   * idea as the minhash b×r banding: `bands` independent groups of
   * `bandPlanes` planes each (plane j of band b is global plane
   * b·bandPlanes+j — disjoint, deterministic), a pair is a candidate if
   * it shares a bucket in ANY band. Per-pair probability rises from
   * p^P to 1−(1−p^P)^B.
   *
   * Shape: per band, an embedding-carrying bucket self-join exactly like
   * the single-bucket path (so per-band cost ≈ the single-bucket
   * candidate volume), cosine computed IN the band join; the union then
   * dedups on the SLIM (query, candidate, cos6) stream — a pair
   * co-occurring in several bands pays a duplicate 64-mul dot product
   * (cheap) but the dedup/rank shuffles carry 24-byte rows, never
   * embeddings. The first cut did the opposite — slim id-pairs deduped
   * before the cosine, embeddings re-attached via two equi-joins — and
   * shuffled the whole multi-million-pair stream twice with 256-byte
   * embedding payloads: 14× CPU per 10× rows at ScaleBench sizes. The
   * per-band `bucketCap` bounds dense regions exactly as before.
   *
   * BANDED PLANE-GROWTH CONTRACT: at corpus scale use `bandPlanes` =
   * log₂(N/32) + ⌈log₂(bands)⌉ — the +⌈log₂ B⌉ keeps the TOTAL
   * candidate volume (B · N²/2^P′) equal to the single-bucket budget
   * while the any-band-agrees rule still raises recall (measured in
   * ScaleBench: without the correction the tripled pair stream spilled
   * ~97 GB through the dedup/rank stages at 500 k rows; with it the
   * family is linear and spill-free).
   *
   * WITHIN-BAND MULTI-PROBE (`probes` ∈ {1, 2, 4} — Lv et al. 2007,
   * "Multi-Probe LSH"): a true neighbor lost to a band usually disagrees
   * on the band's LOWEST-|margin| plane (the projection closest to the
   * hyperplane — exactly the sign most likely to flip between near
   * vectors). Each QUERY vector therefore also probes the bucket with
   * its lowest-|margin| bit flipped (probes = 2), or all four patterns
   * over its two lowest-margin bits (probes = 4); the INDEX side is
   * unchanged (vectors live in their one true bucket, caps and all).
   * Candidate volume scales by ≤ probes× per band while recall rises
   * the way only extra bands otherwise could — probes are the cheap
   * recall lever because they reuse the same index. The margin argmin is
   * deterministic cross-engine: the plane dots are the bit-identical
   * double fold both engines compute, ties break to the lowest plane
   * index on both.
   *
   * NULL-EMBEDDING SEMANTICS (intentional): a SQL-NULL embedding yields
   * a NULL probe array from the LshBandProbes kernel, and posexplode
   * drops the row — the vector joins the banded graph as neither query
   * nor candidate. (The legacy column form `lshBucketBand` would bucket
   * it at 0 via `NULL > 0 = false`; LshBandProbesSpec pins the
   * divergence.) A corpus with null embeddings must filter or impute
   * them upstream if it wants them represented; the oracle CTE mirrors
   * operate on the fixtures' non-null embeddings, where the two
   * semantics coincide.
   */
  def knnDirectedBanded(emb: DataFrame, k: Int, bands: Int = 4, bandPlanes: Int = LshPlanes,
      bucketCap: Long = KnnBucketCap, probes: Int = 1, symmetric: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    rankBandPairs(bandPairs(emb, bands, bandPlanes, bucketCap, probes), k, symmetric)
  }

  /** The banded discovery stages of [[knnDirectedBanded]] — kernel melt,
   * hot-key-safe cap, (band, bucket) probe join, cosine — returning the
   * scored (query_id, band, vec_id, cos6) pair stream the rank tail
   * consumes. Shared with [[bandSurvivors]]; PlanSpec pins its partitioning. */
  private[graft] def bandPairs(emb: DataFrame, bands: Int, bandPlanes: Int,
      bucketCap: Long, probes: Int): DataFrame = {
    require(bands >= 1 && bandPlanes >= 1 && bands * bandPlanes <= 62,
      s"bands >= 1, bandPlanes >= 1, bands*bandPlanes <= 62 required, " +
        s"got bands=$bands bandPlanes=$bandPlanes")
    require(Set(1, 2, 4).contains(probes), s"probes must be 1, 2 or 4, got $probes")
    require(probes == 1 || bandPlanes >= 2, "multi-probe needs at least 2 planes per band")
    // ONE melted pipeline — one cap gate, one (band, bucket) join, one
    // native-GroupTopK rank — not a per-band loop (the loop form ran
    // `bands` gate jobs and `bands` separate join stages). Staged ONCE
    // at one row per vector AFTER the probe kernel: every consumer below
    // (the cap gate, both join sides) re-derives only the cheap melt
    // from this cache, so the dot products run exactly one pass over
    // the corpus.
    val staged = probeVectors(emb, bands, bandPlanes, probes)
      .localCheckpoint(eager = false) // (a): cap gate, both join sides
    // the cap is ONE hot-key-safe gate on the composite (band, bucket)
    // key — identical semantics to a per-band cap on bucket. stage =
    // false: the pre-melt frame is already checkpointed above.
    val capped = HotKeys.dropOverCap(meltProbes(staged), Seq("band", "bucket"), bucketCap,
      stage = false)
    probeJoin(capped, capped)
  }

  /** (vec_id, embedding, nrm, __pbs): every band's bucket + multi-probe
   * set in ONE codegen kernel pass (LshBandProbes). The per-plane column
   * formulation it replaces ran bands·bandPlanes separate FloatVectorDot
   * projections — ~60 columns whose ~4k literal plane nodes dominated
   * Catalyst analysis time and whose fold exceeded the whole-stage-codegen
   * method budget. The kernel is equivalence-pinned (bit-identical
   * buckets, probes, and null/corrupt semantics) in LshBandProbesSpec.
   * Widened FIRST: everything above a checkpoint of this frame — the
   * (band, bucket) join, the cosines, the GroupTopK partial heaps — runs
   * at its partition count (see [[widen]]). */
  private def probeVectors(df: DataFrame, bands: Int, bandPlanes: Int,
      probes: Int): DataFrame =
    widen(df).select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      org.apache.spark.sql.graft.FloatVectorDot.lshBandProbes(
        col("embedding"), bands, bandPlanes, probes).as("__pbs"))

  /** Melt [[probeVectors]] to (vec_id, embedding, nrm, band, __pb,
   * bucket): probe element 0 is the band's TRUE bucket. */
  private def meltProbes(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(col("__pbs")).as(Seq("band", "__pb")))
      .withColumn("bucket", element_at(col("__pb"), 1))

  /** The banded (band, bucket) probe join: each `queries` row probes
   * every bucket of its probe set against the capped `index`, scored with
   * [[cos6]] — (query_id, band, vec_id, cos6). */
  private def probeJoin(queries: DataFrame, index: DataFrame): DataFrame = {
    val qry = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_norm"), col("band"), explode(col("__pb")).as("bucket"))
    val idx = index.select(col("vec_id"), col("embedding"), col("nrm").as("c_norm"),
      col("band"), col("bucket"))
    qry.join(idx, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("band"), col("vec_id"), cos6.as("cos6"))
  }

  /** The banded family's rank tail: optional SYMMETRIZED discovery, then
   * the per-band native-GroupTopK merge.
   *
   * `symmetric = true` makes each SURVIVING discovery count for BOTH
   * endpoints' top-k — NN-descent's published neighbor-LIST reversal
   * (Dong et al. 2011): the asymmetric form loses a true edge a→b
   * whenever no bucket a PROBES holds b — even though b may well probe
   * a's bucket — and mutual-edge recall pays that loss in both
   * directions. The symmetrization is POST-HEAP: per-band forward top-k
   * survivor lists are computed first ([[bandSurvivors]] — the
   * asymmetric cost, and the persisted state of the incremental fold),
   * then the SLIM survivor rows (N·k·bands, ids + cos6, no embeddings)
   * are reversed and merged ([[directedFromSurvivors]]).
   *
   * r15 symmetrized the scored stream BEFORE the heaps (2× rows through
   * 2k-wide heaps). The r16 A/B (BenchAB probe_postheap, sf0.1, 2 000
   * vectors, min-of-5) measured the post-heap form at the SAME mutual
   * recall — 761 744 ppm vs exact truth, identical hit set — for 4.4 s
   * vs the pre-heap form's 9.7 s (the asymmetric form: 4.6 s at
   * 604 026 ppm). Reversing survivor LISTS instead of candidate streams
   * keeps the whole symmetrization in slim-row land, which is also what
   * makes the incremental fold's reverse face a table join instead of a
   * gated 944 MB embedding-melt broadcast (see
   * [[bandSurvivorsIncremental]]).
   *
   * NATIVE GroupTopK keyed (query, band) == the per-band top-k: bounded
   * partial heaps cap output BEFORE any exchange — the massive pair
   * stream never shuffles unranked. Within one band a (query, candidate)
   * pair occurs at most once (a candidate lives in exactly one bucket
   * per band), so heapK = k is exact. */
  private def rankBandPairs(pairs: DataFrame, k: Int, symmetric: Boolean): DataFrame =
    if (!symmetric) rankBandTail(pairs, k)
    else
      // (a): a recall audit's two reads of the graph reuse no exchange
      // (unstaged, knn_recall_banded ran 1.9× the task CPU)
      directedFromSurvivors(
        bandSurvivorsOf(pairs, k).localCheckpoint(eager = false), k)

  /** Per-band forward top-k SURVIVOR lists over a scored pair stream:
   * (query_id, band, vec_id, cos6), ≤ k rows per (query, band). This is
   * the symmetric family's persisted state — slim (ids + cos6, never
   * embeddings), recomputable per affected query, and sufficient to
   * derive the directed graph ([[directedFromSurvivors]]) because the
   * reversal face only ever reads survivor lists. */
  private[graft] def bandSurvivorsOf(pairs: DataFrame, k: Int): DataFrame =
    org.apache.spark.sql.graft.plans.GroupTopK
      .topkPerKey(pairs, Seq("query_id", "band"),
        Seq(col("cos6").desc, col("vec_id").asc), k)
      .select(col("query_id"), col("band"), col("vec_id"), col("cos6"))

  /** [[bandSurvivorsOf]] over the full banded discovery pipeline — the
   * state-building entry point ([[graft.run.StreamingKnn]],
   * StateStore-backed registrations). */
  def bandSurvivors(emb: DataFrame, k: Int, bands: Int = 4,
      bandPlanes: Int = LshPlanes, bucketCap: Long = KnnBucketCap,
      probes: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    bandSurvivorsOf(bandPairs(emb, bands, bandPlanes, bucketCap, probes), k)
  }

  /** The symmetric merge over a survivor table: forward survivor rows ∪
   * their reversals (both carry the already-computed cosine), distinct
   * per (query, candidate), global native-GroupTopK to the final k. All
   * slim rows — the reversal never touches embeddings. */
  def directedFromSurvivors(survivors: DataFrame, k: Int): DataFrame = {
    val fwd = survivors.select(col("query_id"), col("vec_id"), col("cos6"))
    val rev = survivors.select(col("vec_id").as("query_id"),
      col("query_id").as("vec_id"), col("cos6"))
    directedTopK(fwd.union(rev).groupBy("query_id", "vec_id").agg(max("cos6").as("cos6")), k)
  }

  /** The per-band heap merge over a scored forward stream — the
   * asymmetric rank tail, shared by the batch generator and the
   * incremental's recompute. */
  private def rankBandTail(stream: DataFrame, k: Int): DataFrame =
    directedTopK(bandSurvivorsOf(stream, k)
      .groupBy("query_id", "vec_id").agg(max("cos6").as("cos6")), k)

  /** Banded-candidate mutual kNN graph: [[knnDirectedBanded]] +
   * the same reversed-pair mutuality join as [[knnGraphMutual]]. */
  def knnGraphBanded(emb: DataFrame, k: Int, bands: Int = 4, bandPlanes: Int = LshPlanes,
      bucketCap: Long = KnnBucketCap, probes: Int = 1, symmetric: Boolean = false): DataFrame =
    mutualEdges(knnDirectedBanded(emb, k, bands, bandPlanes, bucketCap, probes, symmetric)
      .localCheckpoint(eager = false)) // (a): see mutualEdges

  /** [[knnRecallAudit]] against the BANDED candidate generator — the
   * measured half of the recall story: same sample, same exact truth,
   * candidates from [[knnDirectedBanded]]. */
  def knnRecallAuditBanded(emb: DataFrame, k: Int, bands: Int = 4,
      bandPlanes: Int = LshPlanes, probes: Int = 1, symmetric: Boolean = false): DataFrame =
    directedRecallAudit(emb, k, RecallSampleMod,
      knnDirectedBanded(emb, k, bands, bandPlanes, KnnBucketCap, probes, symmetric))

  /** Scores a DIRECTED candidate graph (src, dst, cos6) against the exact
   * top-k of the sample `vec_id % sampleMod = 0`. */
  private def directedRecallAudit(emb: DataFrame, k: Int, sampleMod: Long,
      directed: DataFrame): DataFrame =
    recallPpm(topK(emb.filter(col("vec_id") % sampleMod === 0), emb, k)
        .select(col("query_id"), col("neighbor_id")),
      directed.filter(col("src") % sampleMod === 0)
        .select(col("src").as("query_id"), col("dst").as("neighbor_id")),
      Seq("query_id", "neighbor_id"))

  /** The one-row ppm scorer of every recall audit: true-edge count,
   * candidate count, hits (the candidates found in `truth` on `keys`),
   * precision and recall in integer ppm (exact `div`). */
  private[graft] def recallPpm(truth: DataFrame, cand: DataFrame,
      keys: Seq[String]): DataFrame = {
    val hits = cand.join(truth, keys)
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_true"), col("n_candidates"), col("n_hits"),
        expr("(n_hits * 1000000) div greatest(n_candidates, 1)").as("precision_ppm"),
        expr("(n_hits * 1000000) div greatest(n_true, 1)").as("recall_ppm"))
  }

  /**
   * MUTUAL-edge recall audit — the missing half of the banded recall
   * story: [[knnRecallAuditBanded]] measures DIRECTED recall, but the
   * communities pipeline consumes MUTUAL edges, whose per-pair recall is
   * roughly the square of directed (both directed edges must survive the
   * hashing). This audit makes that a measured number, not an estimate.
   *
   * Sample-bounded truth: exact top-k over the full corpus for the
   * deterministic anchors (vec_id % sampleMod = 0) AND for the anchors'
   * true neighbors — at most (1+k)·|S| broadcast queries, so the truth
   * side stays two broadcast corpus streams at any scale (never an
   * all-pairs join). A TRUE mutual edge is (a, b) with a an anchor,
   * b ∈ topk(a) and a ∈ topk(b), oriented at the anchor (a pair with
   * both ends anchored contributes both orientations — the candidate
   * side orients identically, so the ppm is consistent). Candidates are
   * [[knnGraphBanded]]'s mutual edges with an anchored endpoint.
   */
  def knnRecallAuditMutual(emb: DataFrame, k: Int, bands: Int = 4,
      bandPlanes: Int = LshPlanes, probes: Int = 1, symmetric: Boolean = false): DataFrame =
    mutualRecallAudit(emb,
      knnGraphBanded(emb, k, bands, bandPlanes, KnnBucketCap, probes, symmetric),
      k, RecallSampleMod)

  /** The measurement half of [[knnRecallAuditMutual]]: scores a SUPPLIED
   * mutual graph (id_a, id_b) against the sample-bounded exact truth —
   * the sampled queries' brute-force cosine top-k, their broadcast joined
   * against the widened corpus. */
  private def mutualRecallAudit(emb: DataFrame, mutualIn: DataFrame,
      k: Int, sampleMod: Long): DataFrame = {
    val topS = topK(emb.filter(col("vec_id") % sampleMod === 0), emb, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = false) // (a): the neighbor-id pull, the truth join
    val nbrIds = topS.select(col("neighbor_id").as("vec_id")).distinct()
    val topB = topK(emb.join(broadcast(nbrIds), Seq("vec_id")), emb, k)
      .select(col("query_id"), col("neighbor_id"))
    val truth = topS.join(topB,
      topS("query_id") === topB("neighbor_id") && topS("neighbor_id") === topB("query_id"))
      .select(topS("query_id"), topS("neighbor_id"))
    val mutual = mutualIn
      .localCheckpoint(eager = false) // (a): both orientation filters below
    val cand = mutual.filter(col("id_a") % sampleMod === 0)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      .union(mutual.filter(col("id_b") % sampleMod === 0)
        .select(col("id_b").as("query_id"), col("id_a").as("neighbor_id")))
    recallPpm(truth, cand, Seq("query_id", "neighbor_id"))
  }

  /** Bucket id of band `b`: `bandPlanes` planes starting at global plane
   * b·bandPlanes (disjoint across bands, same deterministic component
   * arithmetic as [[lshBucket]]). */
  def lshBucketBand(emb: Column, band: Int, bandPlanes: Int): Column =
    (0 until bandPlanes).map { j =>
      val plane = array((0 until VecDim).map(i =>
        lit(planeComponent(band * bandPlanes + j, i))): _*)
      when(dot(emb, plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * INCREMENTAL kNN-graph maintenance — the batch-vs-corpus face of X36,
   * mirroring the minhash family's incremental pair stage: a production
   * pipeline ingests embedding batches continuously and must NOT re-run
   * the corpus-wide bucket self-join per batch. Exactness argument, per
   * bucket (a vector belongs to exactly ONE bucket, a pure function of
   * its embedding): a bucket receiving no delta rows has identical
   * membership, size, and cap status as at base-build time, so its
   * members' directed top-k edges are preserved VERBATIM from
   * `baseDirected` (the stored [[knnDirected]] state); a bucket touched
   * by the delta is recomputed whole from the union index — which also
   * handles cap FLIPS exactly (a bucket pushed over `bucketCap` by the
   * delta is dropped whole, members' edges vanish, just as a full
   * rebuild would). The result is spec-pinned equal to
   * [[knnGraphMutual]] over the unioned corpus.
   *
   * Scale shape: the quadratic, embedding-carrying candidate join runs
   * ONLY over touched buckets (expected delta-proportional: |delta| ·
   * avg bucket size); untouched-bucket work is one anti-join of the
   * O(N·k) slim edge state against the O(touched) bucket list. The
   * final mutuality self-join is over the slim int edge list (linear,
   * no embeddings) — at extreme N even that can be restricted to edges
   * touching recomputed nodes and merged with stored mutual edges, a
   * further state trade documented rather than taken here. `planes` and
   * `bucketCap` must match the base build (they are operator contract,
   * like the P ≈ log₂(N/32) growth rule — grow planes by REBUILDING,
   * not mid-stream).
   */
  def knnGraphIncremental(base: DataFrame, delta: DataFrame, baseDirected: DataFrame,
      k: Int, planes: Int = LshPlanes, bucketCap: Long = KnnBucketCap): DataFrame =
    mutualEdges(knnDirectedIncremental(base, delta, baseDirected, k, planes, bucketCap)
      .localCheckpoint(eager = false)) // (a): see mutualEdges

  /** The updated DIRECTED edge state after ingesting `delta` — what a
   * continuous-ingest loop carries batch to batch (fold: state′ =
   * knnDirectedIncremental(corpus, batch, state); corpus′ = corpus ∪
   * batch). Spec-pinned equal to [[knnDirected]] over the union after
   * every batch of a multi-batch fold. [[knnGraphIncremental]] is this
   * plus the mutuality join. */
  def knnDirectedIncremental(base: DataFrame, delta: DataFrame, baseDirected: DataFrame,
      k: Int, planes: Int = LshPlanes, bucketCap: Long = KnnBucketCap): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // widen (in bucketed): the affected-bucket pair join runs in the
    // union's own stage via the broadcast touchedSizes join
    val bb = bucketed(base, planes)
    val bd = bucketed(delta, planes)
    val touched = bd.select("bucket").distinct()
    val u = bb.union(bd)
    // bucket sizes over the UNION: cap semantics identical to a rebuild
    val sizes = u.groupBy("bucket").agg(count(lit(1)).as("__bsize"))
    val touchedSizes = sizes.join(touched, Seq("bucket"))
    val affected = u.join(broadcast(touchedSizes), Seq("bucket"))
      .filter(col("__bsize") <= bucketCap)
      .drop("__bsize")
    // the touched buckets' pairs, ranked as knnDirected ranks them
    val recomputed = bucketTopK(affected, k)
    // untouched-bucket members: edge state carried over unchanged
    val preservedSrc = bb.join(broadcast(touched), Seq("bucket"), "left_anti")
      .select(col("vec_id").as("src"))
    baseDirected.join(preservedSrc, "src")
      .select(col("src"), col("dst"), col("cos6"))
      .union(recomputed)
  }

  /** Banded-candidate mutual kNN graph maintained INCREMENTALLY —
   * [[knnDirectedBandedIncremental]] + the standard mutuality join.
   * Bit-equal to `knnGraphBanded(base ∪ delta, …)` (oracle-matched). */
  def knnGraphBandedIncremental(base: DataFrame, delta: DataFrame,
      baseDirected: DataFrame, k: Int, bands: Int = 4,
      bandPlanes: Int = LshPlanes, bucketCap: Long = KnnBucketCap,
      probes: Int = 1, symmetric: Boolean = false): DataFrame =
    mutualEdges(knnDirectedBandedIncremental(base, delta, baseDirected,
        k, bands, bandPlanes, bucketCap, probes, symmetric)
      .localCheckpoint(eager = false)) // (a): see mutualEdges

  /**
   * X36e(d) — INCREMENTAL maintenance of the BANDED multi-probe kNN
   * state (the production face of the graph `knn_communities`
   * consumes): ingest `delta` against the stored state without
   * re-running the quadratic candidate stage over the whole corpus.
   *
   * The STATE depends on the face: the asymmetric fold stores the
   * directed edges themselves (`state` = `knnDirectedBanded(base, …,
   * symmetric = false)`); the symmetric fold stores the per-band
   * forward SURVIVOR lists (`state` = [[bandSurvivors]](base, …)) —
   * the reversal face is a pure slim-row derivation over survivors
   * ([[directedFromSurvivors]]), so survivors are the minimal foldable
   * state. Exactness argument, banded edition of the X36d per-bucket
   * contract (identical for both faces, because survivor lists and
   * directed top-k are both pure functions of a query's FORWARD
   * candidate multiset):
   *
   *  - index membership changes ONLY in the delta's TRUE buckets
   *    (append-only ingest; probes are query-side, a pure function of
   *    each embedding, so no base vector's keys move);
   *  - a base query's candidate multiset — and its own per-band qry
   *    rows, since its true bucket is always in its probe set — is a
   *    function of the buckets it PROBES: if none is touched, every one
   *    of those buckets has identical membership and therefore identical
   *    union-level cap status, so the query's rows are carried VERBATIM
   *    from state;
   *  - queries probing ≥1 touched bucket (plus every delta query) are
   *    recomputed whole against the union's capped index — which handles
   *    cap FLIPS exactly (a bucket pushed over `bucketCap` drops whole,
   *    and rows a state query drew from it vanish because that query is
   *    affected by definition).
   *
   * Until r15 the symmetric fold symmetrized the SCORED STREAM, which
   * forced a reverse-discovery pass joining the full embedding-carrying
   * probe melt against the affected index slice (the gated 944 MB
   * broadcast in SCALING.md). The post-heap survivor state retires that
   * machinery: the reverse face never touches embeddings, and the
   * regime audit's forward affected count is now EXACT for both faces.
   *
   * Cost: one linear union re-bucketing pass (the kernel + cap count —
   * production stores the bucket index and counts as tables and skips
   * it) plus the quadratic stage over the affected queries' bucket
   * footprint only. Returns the updated DIRECTED edges; the symmetric
   * FOLDABLE state is produced by [[bandSurvivorsIncremental]] (state′ =
   * that(corpus, batch, state); spec-pinned equal to a rebuild after
   * every batch of a multi-batch fold).
   */
  def knnDirectedBandedIncremental(base: DataFrame, delta: DataFrame,
      state: DataFrame, k: Int, bands: Int = 4,
      bandPlanes: Int = LshPlanes, bucketCap: Long = KnnBucketCap,
      probes: Int = 1, symmetric: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    if (symmetric)
      // (a): forward and reversal faces read the stored survivors' scan
      directedFromSurvivors(
        bandSurvivorsIncremental(base, delta, state, k, bands, bandPlanes,
          bucketCap, probes).localCheckpoint(eager = false), k)
    else {
      val (affIds, fwd) = affectedForwardPairs(base, delta, bands, bandPlanes,
        bucketCap, probes)
      val recomputed = rankBandTail(fwd, k)
      state.join(affIds.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
        .select(col("src"), col("dst"), col("cos6"))
        .union(recomputed)
    }
  }

  /** The symmetric fold: updated per-band survivor state for
   * `base ∪ delta` from the stored `baseSurvivors` =
   * [[bandSurvivors]](base, same params) — affected queries' lists
   * recomputed against the union's capped index, every other list
   * carried verbatim (see [[knnDirectedBandedIncremental]] for the
   * exactness argument). Foldable batch to batch. */
  def bandSurvivorsIncremental(base: DataFrame, delta: DataFrame,
      baseSurvivors: DataFrame, k: Int, bands: Int = 4,
      bandPlanes: Int = LshPlanes, bucketCap: Long = KnnBucketCap,
      probes: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (affIds, fwd) = affectedForwardPairs(base, delta, bands, bandPlanes,
      bucketCap, probes)
    val recomputed = bandSurvivorsOf(fwd, k)
    baseSurvivors.join(affIds.withColumnRenamed("vec_id", "query_id"),
        Seq("query_id"), "left_anti")
      .select(col("query_id"), col("band"), col("vec_id"), col("cos6"))
      .union(recomputed)
  }

  /** Shared incremental prefix: the affected-query id set (base queries
   * probing a delta-touched bucket, plus every delta id) and their
   * scored FORWARD pair stream against the union's capped index.
   *
   * SIDE EFFECT (r17 ADVICE): this runs a Spark job DURING plan
   * construction — the affected-id set's `count()` materializes the id
   * checkpoint so its REAL size can gate the join role before the
   * caller ever executes the returned frame (the HotKeys discipline:
   * size gates need sizes). Callers pay it once per invocation; bench
   * prepare hooks stage state so the cost is the operator's own, and
   * every downstream consumer reuses the materialized checkpoint.
   *
   * The broadcast cap reads `spark.graft.incremental.broadcastIdCap`
   * (default 4,000,000 ids ≈ tens of MB of driver hash relation — the
   * localized-regime win). It deliberately bypasses
   * autoBroadcastJoinThreshold: the gate has the EXACT cardinality in
   * hand, which the planner's byte estimate does not. Size it to the
   * driver: a small-driver deployment sets the conf down and the id set
   * falls back to a SHUFFLE_HASH build, never an OOM. */
  private def affectedForwardPairs(base: DataFrame, delta: DataFrame,
      bands: Int, bandPlanes: Int, bucketCap: Long,
      probes: Int): (DataFrame, DataFrame) = {
    // widen (in probeVectors): the union index feeds a broadcast-affIds
    // join + the pair scoring in ITS OWN stage — a fixture scan's 1-2
    // partitions would single-thread the kernel work
    def melted(df: DataFrame) = meltProbes(probeVectors(df, bands, bandPlanes, probes))
    val mb = melted(base).localCheckpoint(eager = false) // (a): affected probe, index
    val md = melted(delta).localCheckpoint(eager = false) // (a): touched, ids, index
    val touched = md.select("band", "bucket").distinct()
    // affected base queries: ANY probed bucket (incl. the true bucket,
    // whose cap status may flip) is touched
    val affectedFwd = mb.select(col("vec_id"), col("band"),
        explode(col("__pb")).as("bucket"))
      .join(touched, Seq("band", "bucket"))
      .select("vec_id").distinct()
    val affIdsRaw = affectedFwd.union(md.select("vec_id").distinct()).distinct()
      .localCheckpoint(eager = false)
    // gate the id set's join role by its REAL size (the HotKeys
    // discipline): small → broadcast build (the localized win regime);
    // corpus-sized (the uniform regime) → SHUFFLE_HASH build, never a
    // driver-side broadcast of every id. The count materializes the
    // checkpoint once — every consumer below reuses it (clause (a)). Cap is
    // driver-sizeable via conf (see scaladoc above).
    val idCap = base.sparkSession.conf
      .getOption("spark.graft.incremental.broadcastIdCap")
      .map(_.toLong).getOrElse(4000000L)
    val affIds =
      if (affIdsRaw.count() <= idCap) broadcast(affIdsRaw)
      else affIdsRaw.hint("SHUFFLE_HASH")
    // union index under UNION-level caps — rebuild-identical semantics
    // (production: stored index + stored counts; here one linear pass)
    val capped = HotKeys.dropOverCap(mb.union(md), Seq("band", "bucket"), bucketCap,
      stage = false)
    // LEFT SEMI, not inner (r17): affIds is a filter, and the join's
    // build side must be the id set — an inner join let the planner
    // build-left the (small-stats) embedding melt and STREAM the
    // affIds checkpoint, so the whole pair scoring below ran at the
    // slim checkpoint's parallelism (the widen disease through a second
    // door). Semi + the gated broadcast above pins the hash build to
    // the id set and streams the widened melt: same-JVM min-of-3 at
    // sf0.1 measured inner 5.0 / ungated semi 3.9 / gated-broadcast
    // semi 2.0 s.
    (affIds, probeJoin(capped.join(affIds, Seq("vec_id"), "left_semi"), capped))
  }

  /**
   * X36e(f) — delta-REGIME audit for the banded incremental state (the
   * kNN twin of the curation side's X42d `deltaRegimeAudit`): one row a
   * continuous-ingest loop reads BEFORE choosing
   * [[knnDirectedBandedIncremental]] over a rebuild. The incremental's
   * cost is driven by the AFFECTED-query footprint (every affected query
   * re-enters the quadratic stage), and SCALING.md measures the boundary
   * — a LOCALIZED batch touches few buckets and runs 4–8× under rebuild,
   * a UNIFORM batch's touched set covers most of the index and costs ≈
   * rebuild. This surfaces that fraction as numbers, not a footnote:
   *
   *   n_delta, n_touched (delta TRUE (band, bucket) keys — where index
   *   membership changes), n_total (union index bucket count), n_aff
   *   (base queries probing ≥1 touched bucket — the FORWARD affected
   *   set, which since the r16 post-heap survivor state IS the exact
   *   recompute set of BOTH folds: the symmetric reversal face is a
   *   slim derivation, not extra recompute),
   *   affected_ppm = n_aff·10⁶ div n_base, advise_rebuild.
   *
   * Cost: the linear probe-melt passes the incremental pays anyway
   * (kernel + two slim distinct/join aggregates) — auditing-then-folding
   * re-spends only this prefix, never the quadratic stage.
   */
  def knnDeltaRegimeAudit(base: DataFrame, delta: DataFrame, bands: Int = 4,
      bandPlanes: Int = LshPlanes, probes: Int = 1,
      adviseAbovePpm: Long = 300000L): DataFrame = {
    def melt(df: DataFrame) = df.select(col("vec_id"),
        posexplode(org.apache.spark.sql.graft.FloatVectorDot.lshBandProbes(
          col("embedding"), bands, bandPlanes, probes)).as(Seq("band", "__pb")))
      .withColumn("bucket", element_at(col("__pb"), 1))
    val mb = melt(base).localCheckpoint(eager = false) // (a): nTotal, nAff
    val md = melt(delta)
    val touched = md.select("band", "bucket").distinct()
      .localCheckpoint(eager = false) // (a): nTouched, nAff; no exchange reuse
    val nDelta = delta.agg(count(lit(1)).as("n_delta"))
    val nTouched = touched.agg(count(lit(1)).as("n_touched"))
    val nTotal = mb.select("band", "bucket").union(md.select("band", "bucket"))
      .distinct().agg(count(lit(1)).as("n_total"))
    val nAff = mb.select(col("vec_id"), col("band"), explode(col("__pb")).as("bucket"))
      .join(broadcast(touched), Seq("band", "bucket"))
      .agg(countDistinct(col("vec_id")).as("n_aff"))
    val nBase = base.agg(count(lit(1)).as("n_base"))
    nDelta.crossJoin(broadcast(nTouched)).crossJoin(broadcast(nTotal))
      .crossJoin(broadcast(nAff)).crossJoin(broadcast(nBase))
      .select(col("n_delta"), col("n_touched"), col("n_total"), col("n_aff"),
        expr("n_aff * 1000000 div n_base").as("affected_ppm"))
      .withColumn("advise_rebuild", col("affected_ppm") > adviseAbovePpm)
  }

  /**
   * kNN-GRAPH QUALITY AUDIT — the X36 mirror of the text-LSH side's
   * `lshRecallAudit`: over a deterministic query sample (`vec_id mod
   * sampleMod = 0` — hash-free, reproducible, never rand()), compare the
   * bucketed [[knnDirected]] candidates against EXACT brute-force top-k
   * truth over the full corpus, and report one row: true-edge count,
   * candidate count, hits, precision and recall in integer ppm (exact
   * `div`). The plane-scaling rule P ≈ log₂(N/32) and the bucketCap are
   * operator contract; this turns their recall cost into a measured
   * number on REAL data, run periodically in production. The truth side
   * is sample-bounded by construction (the sample broadcasts; the corpus
   * streams once at full scan parallelism — cost N·|sample| dot
   * products, the same budget as the registered brute-force topk).
   *
   * Both sides rank with the identical (cos6 desc, vec_id) tie-break, so
   * a perfect bucket assignment audits at exactly 10⁶ ppm.
   */
  def knnRecallAudit(emb: DataFrame, k: Int, planes: Int = LshPlanes,
      sampleMod: Long = RecallSampleMod): DataFrame =
    directedRecallAudit(emb, k, sampleMod, knnDirected(emb, k, planes, KnnBucketCap))

  /** The recall audits' query sample: `vec_id % RecallSampleMod = 0`. */
  val RecallSampleMod = 20L

  /** [[lshBucket]] generalized to an arbitrary plane count (long-domain
   * bucket ids; plane j reuses the same deterministic component
   * arithmetic, so planes ≤ 8 agree with the 8-plane oracle mirror):
   * band 0 of [[lshBucketBand]]. */
  def lshBucketPlanes(emb: Column, planes: Int): Column = lshBucketBand(emb, 0, planes)
}
