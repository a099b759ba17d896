package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * X1/X2 — deduplication for training-data pipelines (SURVEY.md §2.11):
 * exact key dedup, MinHash-LSH near-dup, SimHash, and n-gram Jaccard.
 *
 * Scale design (100 TB posture):
 *  - exact dedup is one hash-shuffle on the key with map-side combine;
 *  - minhash/simhash signatures are per-row expressions (no shuffle),
 *    staged so each intermediate array (tokens → token hashes → shingle
 *    hashes) is computed once per row — naively nesting the shingle
 *    expression inside each signature lambda re-splits the text per
 *    element and turned out ~50× slower at sf0.1;
 *  - LSH candidate pairs shuffle only on (band/signature) buckets, never
 *    all-pairs — the crossJoin never happens;
 *  - the deterministic row_number tiebreak (not dropDuplicates) makes
 *    reruns and oracle comparison stable (SURVEY.md §2.11 X1).
 */
object Dedup {

  /** Modulus for all signature hashing: 2^31 − 1 (Mersenne prime M31).
   *
   * Widened from 2^20 in round 9 after the scale harness caught the
   * domain saturating: a 500 k-doc corpus carries ~19 M distinct
   * shingles, so at P ≈ 10^6 every hash value held ~19 UNRELATED
   * documents and the df-based operators blew up (sparse-cosine shuffle
   * grew 55× for a 10× row step; at larger corpora the df ceiling would
   * instead drop EVERY shingle — silent recall collapse). At 2^31 the
   * domain supports billions of distinct shingles with birthday noise
   * « 1 per value.
   *
   * Bound audit at P = 2^31 − 1 (every product must stay int64-exact in
   * BOTH engines): minhash (s·9001 ≈ 2e13), shingle (h·10007 ≈ 2e13),
   * chunk fold (acc·131 ≈ 3e11), band pack (c0·P + c1 < P² + P ≈
   * 4.6e18 — which caps the injective pack at r = 2 components, see
   * withBandKeys), simhash mixes (s·2654435761 ≈ 5.7e18 — inside int64,
   * see SimhashWide), CMS probe (a·x ≈ 1.0e18). */
  val P = 2147483647L

  /** X1 — exact dedup, deterministic variant: keep the lowest-id row per
   * key. A window with row_number (not dropDuplicates, whose survivor is
   * partitioning-dependent). The sort extends past the tiebreak to every
   * remaining column, so the order is total whenever full rows are
   * distinct — a duplicated tiebreak value alone cannot reintroduce
   * partitioning-dependent survivors. */
  def exactKeep(df: DataFrame, keyCols: Seq[String], tiebreak: String): DataFrame = {
    // Only orderable columns may join the sort (shared rule:
    // graft.ops.SqlTypes.orderable — MapType at any nesting depth is
    // rejected by Spark's window ORDER BY). Rows identical on key +
    // tiebreak + every orderable column but differing inside a map
    // remain partition-order dependent — documented residual.
    val totalOrder = col(tiebreak) +: df.schema.fields
      .filter(f => f.name != tiebreak && !keyCols.contains(f.name) &&
        graft.ops.SqlTypes.orderable(f.dataType))
      .map(f => col(f.name)).toSeq
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(keyCols.map(col): _*).orderBy(totalOrder: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** X1 — cluster summary: representative id + duplicate count per key
   * (groupBy with map-side combine — one shuffle of pre-aggregated pairs). */
  def representatives(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Internal staging column name for per-row 3-gram shingle hashes. */
  val ShinglesCol = "__shingles"

  /**
   * Stage the 3-gram shingle hash array for a text column, computing each
   * intermediate exactly once per row:
   * tokens = split(text), th = tokenHash(token),
   * shingle_i = (th_i*10007 + th_{i+1}*131 + th_{i+2}) mod P, i=1..n-2.
   */
  def withShingleHashes(df: DataFrame, textCol: String): DataFrame =
    // Codegen kernels, not the HOF formulation (kept as SQL in
    // TextOps.tokenHashSql/OracleSql for the oracle): ArrayTransform is
    // CodegenFallback — interpreted per element — and the 8-char hash as
    // SQL text allocates ~10 single-char strings per token. The kernels
    // do one primitive loop per row (equivalence to the SQL spec'd in
    // ExtSpec, their two code paths in SignatureKernelsSpec; the < 3-token
    // empty-shingles guard lives inside ShingleHashes3, matching DuckDB's
    // empty range(1, len-1)).
    df.withColumn("__thashes",
        org.apache.spark.sql.graft.SignatureKernels.tokenHashes(
          org.apache.spark.sql.functions.split(col(textCol), " "), P))
      .withColumn(ShinglesCol,
        org.apache.spark.sql.graft.SignatureKernels.shingleHashes3(col("__thashes"), P))
      .drop("__thashes")

  /** X2 — one minhash signature component: min over shingles of the
   * universal hash (a*s + b) mod P. k components (distinct a,b) form the
   * signature; docs sharing the full signature are LSH candidates.
   *
   * The coalesce is load-bearing for performance, not correctness: it
   * makes the column non-nullable so the LSH self-join emits no
   * isnotnull(sig) predicates — those get pushed below the staged
   * projections, where predicate-pushdown substitution re-inlines the
   * full unstaged signature expression into the Filter (measured 130s at
   * sf0.1 vs 2s without).
   *
   * The sentinel for <3-token documents (empty shingle set) is
   * PER-DOCUMENT unique (`-id-2`, always negative — real signatures are
   * in [0, P)): short docs therefore can never agree on a signature, so
   * [[minhashPairs]] needs no sentinel filter — an explicit filter on a
   * computed sig column would itself be pushed below the staging and
   * re-inline the signature into a Filter (measured: it brought the 59s
   * pathology back). */
  def minhash(shingles: Column, idCol: Column, a: Long, b: Long): Column =
    // the trailing non-nullable literal keeps the WHOLE coalesce
    // non-nullable (a nullable id would otherwise resurrect the
    // isnotnull pushdown pathology above); it is unreachable for any
    // row with a non-null id
    coalesce(org.apache.spark.sql.graft.SignatureKernels.minhashComponent(shingles, a, b, P),
      sentinel(idCol), lit(-1L))

  /** Short-doc sentinel: masked to the low 62 bits so it is in
   * [-(2^62-1)-2, -2] — never in the real signature range [0, P) and
   * never overflowing int64 — for EVERY long id, including negative ones:
   * a raw `-id-2` would map id = -5 to 3 ∈ [0, P), and a 63-bit mask
   * would overflow `-x-2` for ids with all low bits set (-1,
   * Long.MaxValue) under ANSI arithmetic. Unique per document over ids
   * sharing their top two bits (ids differing only there share a
   * sentinel — documented residual, no such id domain exists in
   * practice). */
  val SentinelMask: Long = Long.MaxValue >>> 1 // low 62 bits

  def sentinel(idCol: Column): Column =
    -(idCol.cast("long").bitwiseAND(lit(SentinelMask))) - lit(2L)

  /** HOF reference formulation of [[minhash]] (same arithmetic; kept for
   * kernel equivalence tests). */
  def minhashHof(shingles: Column, idCol: Column, a: Long, b: Long): Column =
    coalesce(array_min(transform(shingles, s => (s * lit(a) + lit(b)) % lit(P))),
      sentinel(idCol), lit(-1L))

  /** Default 4-component signature (calibrated on the fixtures: ~26
   * candidate pairs per 500 docs). */
  val MinhashSeeds: Seq[(Long, Long)] = Seq((7L, 13L), (31L, 101L), (131L, 17L), (1009L, 3L))

  /** Signature columns `sig0..`; short-doc sentinels key on `doc_id`. */
  def withMinhashSignature(df: DataFrame, textCol: String): DataFrame = {
    val staged = withShingleHashes(df, textCol)
    MinhashSeeds.zipWithIndex.foldLeft(staged) { case (d, ((a, b), i)) =>
      d.withColumn(s"sig$i", minhash(col(ShinglesCol), col("doc_id"), a, b))
    }.drop(ShinglesCol)
  }

  /** X2 — LSH candidate pairs: docs agreeing on the whole signature.
   * The self-join shuffles on the signature (band bucket), so candidate
   * generation is O(bucket²) per bucket, never all-pairs. */
  def minhashPairs(sigs: DataFrame, idCol: String): DataFrame = {
    val sigCols = MinhashSeeds.indices.map(i => s"sig$i")
    // No sentinel filter needed: short-doc sentinels are per-document
    // unique (see minhash), so they never agree across documents.
    val left = sigs.select((idCol +: sigCols).map(col): _*)
    val right = left.withColumnRenamed(idCol, s"${idCol}_b")
    left.join(right, sigCols.toSeq, "inner")
      .filter(col(idCol) < col(s"${idCol}_b"))
      .select(col(idCol), col(s"${idCol}_b"))
  }

  /** Banded LSH geometry: b bands × r rows. One AND-of-all-components
   * band (round 1) trades recall away — standard practice (MMDS ch. 3) is
   * b bands of r minhashes each, candidates = pairs agreeing on ANY band
   * (OR across bands). 4×2 is calibrated to the fixtures; at 100 TB,
   * production b×r (e.g. 16×8) additionally swaps the injective band
   * pack for a mixing hash (the pack is int64-safe only to r = 3 —
   * guarded in withBandKeys). */
  val LshBands = 4
  val LshRowsPerBand = 2

  /** b·r seed pairs for the banded signature (first 4 shared with
   * [[MinhashSeeds]] so the single-band path stays comparable). */
  val BandedSeeds: Seq[(Long, Long)] = Seq(
    (7L, 13L), (31L, 101L), (131L, 17L), (1009L, 3L),
    (503L, 11L), (2003L, 29L), (4999L, 5L), (9001L, 47L))

  /**
   * X2 — banded signature: band j's bucket key packs its r minhash
   * components injectively (`c0·P + c1`, components ∈ [0, P)). Short-doc
   * sentinel components are equal and negative, so a packed sentinel key
   * stays negative and per-document unique — short docs can never collide.
   * Every band key is non-nullable end-to-end (same pushdown discipline as
   * [[minhash]]); signatures are per-row codegen kernels, zero shuffle.
   */
  def withBandKeys(df: DataFrame, textCol: String, idCol: String = "doc_id"): DataFrame = {
    // the injective pack c0*P + c1 (+ ...) reaches P^r: at P = 2^31 − 1
    // only r <= 2 stays under 2^63 (P² ≈ 4.6e18); production geometries
    // with wider bands (e.g. 16x8) must swap the pack for a mixing hash
    // of the components instead of extending the seed list alone
    require(LshRowsPerBand <= 2,
      s"band pack overflows int64 for r=$LshRowsPerBand > 2 at P=$P — use a mixing hash for wide bands")
    val staged = withShingleHashes(df, textCol)
    (0 until LshBands).foldLeft(staged) { (d, j) =>
      // pack the RAW kernel outputs (null for empty shingle sets) and only
      // then coalesce to the sentinel: packing the sentinel itself would
      // multiply a ~2^63-magnitude value by P and overflow under ANSI mode
      val rawKey = (0 until LshRowsPerBand)
        .map { r =>
          val (a, b) = BandedSeeds(j * LshRowsPerBand + r)
          org.apache.spark.sql.graft.SignatureKernels.minhashComponent(col(ShinglesCol), a, b, P)
        }
        .reduce((acc, c) => acc * lit(P) + c)
      d.withColumn(s"band$j", coalesce(rawKey, sentinel(col(idCol)), lit(-1L)))
    }.drop(ShinglesCol)
  }

  /** Default cap on the members of one (band, bucket). */
  val BandBucketCap = 50

  /**
   * X2 — banded LSH candidate pairs with a per-bucket size cap.
   *
   * Melt (id, band0..band{b-1}) to (id, band, bkey), drop buckets over
   * `bucketCap` — the robustness bound: a mass-duplicated boilerplate
   * bucket would otherwise emit O(bucket²) pairs — via the hot-key-safe
   * [[HotKeys.dropOverCap]] shape (map-side-combined count + broadcast
   * over-cap anti-join: the mega-bucket's rows never shuffle, where the
   * previous count-over-Window shipped them all to one reducer and
   * sorted them just to drop them), then self-join within buckets and OR
   * across bands (`n_bands` = number of agreeing bands per surviving
   * pair). Never all-pairs.
   */
  def minhashPairsBanded(banded: DataFrame, idCol: String, bucketCap: Int = BandBucketCap): DataFrame = {
    val capped = HotKeys.dropOverCap(meltBands(banded, col(idCol)), Seq("band", "bkey"), bucketCap)
    bucketPairs(capped, idCol)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Melt a [[withBandKeys]] frame to one (id, band, bkey) row per band;
   * `id` is the projected id column. */
  private[ext] def meltBands(banded: DataFrame, id: Column): DataFrame =
    banded.select(id,
      posexplode(array((0 until LshBands).map(j => col(s"band$j")): _*)).as(Seq("band", "bkey")))

  /** Candidate pairs (band, bkey, id_a, id_b), id_a < id_b, of docs
   * sharing a bucket of the (id, band, bkey) frame `capped`. */
  private[ext] def bucketPairs(capped: DataFrame, idCol: String): DataFrame =
    capped.select(col(idCol).as("id_a"), col("band"), col("bkey"))
      .join(capped.select(col(idCol).as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))

  /**
   * X2 — INCREMENTAL near-dup: candidate pairs between a new batch and
   * the existing corpus only — the shape of a continuously-updated
   * training set, where re-deduplicating the full corpus per ingest is
   * the scale-killer. The corpus is NEVER self-joined: both sides carry
   * banded signatures ([[withBandKeys]]), the corpus side is bucket-capped
   * (the robustness bound belongs on the big side), and the join emits
   * only (batch × corpus) collisions within a band bucket. Cost is
   * O(|batch| + |matching buckets|), independent of corpus² — at 100 TB
   * the corpus band index is a materialized table and each ingest joins
   * against it.
   */
  def minhashPairsIncremental(corpusBanded: DataFrame, batchBanded: DataFrame,
      idCol: String): DataFrame = {
    val corpus = HotKeys.dropOverCap(meltBands(corpusBanded, col(idCol).as("id_corpus")),
      Seq("band", "bkey"), BandBucketCap)
    meltBands(batchBanded, col(idCol).as("id_new")).join(corpus, Seq("band", "bkey"))
      // a re-ingested document present on BOTH sides would otherwise pair
      // with itself and be "deduplicated" against itself downstream
      .filter(col("id_new") =!= col("id_corpus"))
      .groupBy("id_new", "id_corpus")
      .agg(count(lit(1)).as("n_bands"))
  }

  /**
   * X2 — dedup clusters: connected components over the candidate-pair
   * graph, by iterative min-label propagation. Each iteration is one
   * distributed join + map-side-combined min aggregation; the loop runs
   * until no label changes (O(graph diameter) iterations — near-dup
   * cluster graphs are shallow chains/cliques, so convergence is fast;
   * production-scale variants swap in large-star/small-star to collapse
   * diameter, same seam). Each iteration's labels are materialized with
   * an eager localCheckpoint, which truncates the LOGICAL lineage:
   * persist() alone leaves the logical tree doubling per iteration
   * (labels appears twice in each next plan), and by ~10 iterations the
   * cache-lookup/explain walk over that exponential tree OOMs the driver
   * regardless of cached execution. On a real cluster, swap
   * localCheckpoint for reliable checkpoint(dir) if executor loss during
   * the loop must be survivable.
   *
   * Returns (id, cluster) for every node APPEARING IN A PAIR — the
   * cluster is the minimum reachable doc id, i.e. the deterministic
   * survivor the dedup keeps. Singleton documents never enter the pair
   * graph and implicitly keep themselves.
   */
  /**
   * Edge-count ceiling for the SMALL-GRAPH LOCAL connected-components
   * path — the [[graft.ext.Graph.LocalMaxEdges]] idea applied to both CC
   * variants: the iterative loops pay a per-round scheduling floor
   * (checkpoint + count + anti-join jobs) that dominates wall time on
   * candidate-pair graphs orders of magnitude smaller than the corpus
   * (the usual case — 580 pairs from 50 k docs at sf0.1), while a
   * driver-side union-find with min-id roots produces the IDENTICAL
   * (id, cluster = min reachable id) labeling in microseconds.
   * 2 M edges ≈ 32 MB of id pairs on the driver. Pass 0 to disable
   * (ScaleBench measures the distributed loops). The local path engages
   * only for bigint/long id
   * columns with no observed nulls — anything else falls through to the
   * distributed loop, whose semantics stay authoritative.
   */
  val CcLocalMaxEdges = 2000000L

  /** Round limit of [[connectedComponentsStar]] (O(log n) rounds). */
  val StarMaxRounds = 30

  /** Probe + gate for the local CC path. Returns None (fall through to
   * the distributed loop) when disabled, non-long id columns, the probe
   * overflows the ceiling, or any null endpoint appears. `dropSelfLoops`
   * mirrors the variant semantics: the star form's norm() drops u = v
   * rows (a node appearing ONLY in self-loops vanishes from its output),
   * the propagation form keeps such nodes as singletons. */
  private def ccLocalIfSmall(pairs: DataFrame, aCol: String, bCol: String,
      localMaxEdges: Long, dropSelfLoops: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.types.LongType
    if (localMaxEdges <= 0) return None
    val fields = pairs.schema.fields.map(f => f.name -> f.dataType).toMap
    if (!Seq(aCol, bCol).forall(c => fields.get(c).contains(LongType))) return None
    val probe = pairs.select(col(aCol), col(bCol))
      .limit(math.min(localMaxEdges + 1, Int.MaxValue.toLong - 1).toInt).collect()
    if (probe.length > localMaxEdges) return None
    if (probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val spark = pairs.sparkSession
    import spark.implicits._
    // min-id-root union-find: linking the larger root under the smaller
    // keeps every root the minimum of its component, so find(id) IS the
    // cluster label — the exact contract of both distributed loops
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) x = parent.get(x)
      var y = x0
      while (parent.getOrDefault(y, y) != y) { val nx = parent.get(y); parent.put(y, x); y = nx }
      x
    }
    val nodes = new java.util.LinkedHashSet[Long]()
    probe.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (a != b) {
        nodes.add(a); nodes.add(b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      } else if (!dropSelfLoops) nodes.add(a)
    }
    import scala.jdk.CollectionConverters._
    Some(nodes.asScala.toSeq.map(id => (id, find(id))).toDF("id", "cluster"))
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIterations: Int = 20, localMaxEdges: Long = CcLocalMaxEdges): DataFrame = {
    val viaLocal = ccLocalIfSmall(pairs, aCol, bCol, localMaxEdges, dropSelfLoops = false)
    if (viaLocal.isDefined) return viaLocal.get
    val spark = pairs.sparkSession
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(eager = true) // (a): the edge count, the loop's edges

    // Size the loop's shuffle width to the LIVE graph, not the corpus: the
    // candidate-pair graph is orders of magnitude smaller than the input
    // (580 pairs out of 50k docs on the sf0.1 fixture), and every iteration
    // pays per-partition scheduling on each of its two jobs. ~2M edges per
    // partition keeps a partition tens of MB; clamped to the session width
    // so a genuinely large graph keeps full parallelism. The width is
    // applied ONLY through explicit repartition(loopWidth, key) on the
    // loop's own frames — never by mutating the session-global
    // spark.sql.shuffle.partitions, which would silently narrow any query
    // running concurrently on the same shared SparkSession.
    val edgeCount = edges.count()
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopWidth = math.max(1L, math.min(sessionWidth.toLong, edgeCount / 2000000L + 1L)).toInt

    var changed = 1L
    var iter = 0
    // Checkpoint the edge list hash-partitioned on the join key at loop
    // width: Dataset.localCheckpoint preserves outputPartitioning, so every
    // iteration's join sees a dst-partitioned build side of loopWidth
    // partitions and plans no further exchange for it. (b), as below.
    val e = edges.repartition(loopWidth, col("dst")).localCheckpoint(eager = true)
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .repartition(loopWidth, col("id"))
      .localCheckpoint(eager = true)

    while (changed > 0 && iter < maxIterations) {
      // propagate: min label across neighbors. (A pointer-jumping variant
      // — l(id) := l(l(id)) for O(log diameter) rounds — was measured
      // SLOWER here: near-dup cluster diameters are already 2-4, so the
      // extra self-join per round costs more than the rounds it saves.
      // Re-introduce it only for deep-chain graphs.)
      // The explicit repartition before the groupBy keeps the aggregation
      // at loopWidth tasks regardless of the session's shuffle width; both
      // join inputs are already loopWidth-partitioned on their keys.
      val neighborMin = e.join(labels, e("dst") === labels("id"))
        .repartition(loopWidth, col("src"))
        .groupBy("src").agg(min("label").as("nlabel"))
      // eager checkpoint, (b) = the one materializing action per iteration;
      // the follow-up count only scans the checkpointed blocks. Lineage
      // is cut here, so every iteration plans over two LogicalRDD leaves
      // — constant-size plans, no unpersist bookkeeping, and blocks from
      // superseded iterations are released by the ContextCleaner once the
      // frames become unreachable.
      val next = labels.join(neighborMin, labels("id") === neighborMin("src"), "left_outer")
        .select(
          labels("id"),
          labels("label").as("old_label"),
          least(labels("label"), coalesce(col("nlabel"), labels("label"))).as("label"))
        .localCheckpoint(eager = true)
      changed = next.filter(col("label") =!= col("old_label")).count()
      labels = next.select("id", "label")
      iter += 1
    }
    // fail loudly rather than hand back non-minimum labels: a silent
    // partial convergence would keep documents dedup should have dropped
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIterations iterations " +
        s"($changed labels still moving) — raise maxIterations for deep-chain graphs")
    labels.withColumnRenamed("label", "cluster")
  }

  /**
   * X2 — connected components by alternating LARGE-STAR / SMALL-STAR
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC 2014): each round rewires every node's strictly-larger neighbors
   * (large-star) / not-larger neighbors (small-star) to its neighborhood
   * minimum, collapsing the graph toward per-component stars in
   * O(log n) rounds REGARDLESS OF DIAMETER — the production-scale
   * alternative to [[connectedComponents]]' min-label propagation
   * (O(diameter) rounds), worth its extra per-round distinct when the
   * pair graph has deep chains. Same contract: (id, cluster) for every
   * node appearing in a pair, cluster = minimum reachable id.
   *
   * Each round is two groupBy/join passes over the edge list plus a
   * distinct; an eager localCheckpoint per round cuts logical lineage
   * exactly like the propagation loop. Convergence = the edge set is
   * fixed, decided exactly as count-equality plus one subset anti-join
   * (valid because both sides are distinct sets).
   */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      localMaxEdges: Long = CcLocalMaxEdges): DataFrame = {
    val viaLocal = ccLocalIfSmall(pairs, aCol, bCol, localMaxEdges, dropSelfLoops = true)
    if (viaLocal.isDefined) return viaLocal.get
    def norm(df: DataFrame): DataFrame = df
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
    def bothDirs(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    // large-star(u): every neighbor v > u rewires to min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val adj = bothDirs(e)
      val mins = adj.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      norm(adj.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star(u): u and every neighbor v < u rewire to the minimum of
    // that set
    def smallStar(e: DataFrame): DataFrame = {
      val adjLt = bothDirs(e).filter(col("v") < col("u"))
      val mins = adjLt.groupBy("u").agg(min("v").as("m"))
      norm(adjLt.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v"))))
    }

    var e = norm(pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
      .localCheckpoint(eager = true) // (b), as each round's next edge set
    var eCount = e.count()
    var stable = false
    var iter = 0
    while (!stable && iter < StarMaxRounds) {
      val next = smallStar(largeStar(e)).localCheckpoint(eager = true)
      // both sides are distinct sets (norm ends in distinct), so equality
      // is |next| == |e| AND next ⊆ e — one count over checkpointed
      // blocks (nearly free) plus ONE anti-join, instead of the two
      // full excepts the naive check pays every round
      val nextCount = next.count()
      stable = nextCount == eCount && next.except(e).isEmpty
      e = next
      eCount = nextCount
      iter += 1
    }
    if (!stable) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $StarMaxRounds rounds")
    // converged: per-component star, u = component min on every edge
    e.select(col("v").as("id"), col("u").as("cluster"))
      .union(e.select(col("u").as("id"), col("u").as("cluster")))
      .groupBy("id").agg(min("cluster").as("cluster"))
  }

  /** X2b — 16-bit SimHash: bit b is set when the ±1 votes from each
   * shingle's b-th (mixed) bit sum positive. One codegen'd pass over the
   * staged shingle array per row. */
  def simhash16(df: DataFrame, textCol: String, outCol: String): DataFrame =
    withShingleHashes(df, textCol)
      // NULL sentinel for sub-shingle (< 3 token) documents: the kernel
      // returns sketch 0 on an empty array, which would bucket EVERY
      // short document together and report all of them as pairwise exact
      // duplicates (the minhash path engineered per-doc sentinels for the
      // same hazard). Null block keys fall out of the pair equi-join.
      .withColumn(outCol, when(size(col(ShinglesCol)) > 0,
        org.apache.spark.sql.graft.SignatureKernels.simhash16(col(ShinglesCol))))
      .drop(ShinglesCol)

  /** HOF reference formulation of the [[simhash16]] kernel over a named
   * shingle-array column (same arithmetic; kept for equivalence tests). */
  def simhash16Hof(shingleCol: String): Column =
    expr(s"""aggregate(
            |  transform(sequence(0, 15), b ->
            |    IF(aggregate(transform($shingleCol, m -> shiftright(CAST((m * 2654435761) % 65536 AS BIGINT), b) % 2 * 2 - 1),
            |         CAST(0 AS BIGINT), (acc, v) -> acc + v) > 0,
            |       shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),
            |  CAST(0 AS BIGINT), (acc, bit) -> acc + bit)""".stripMargin)

  /**
   * X2b — SimHash near-dup pairs with a HAMMING DISTANCE bound, without
   * all-pairs: split the 16-bit sketch into 4 nibble blocks; by
   * pigeonhole, any pair within Hamming distance 3 agrees exactly on at
   * least one block, so candidates = pairs sharing (block index, block
   * value) — a bucketed equi-join, exact-complete for distance
   * [[SimhashMaxHamming]]. The final `bit_count(xor)` filter discards
   * pigeonhole false positives. Same robustness lever as the banded minhash
   * join: [[SimhashBucketCap]] drops degenerate mass-duplicate buckets whole.
   */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashPairsOn(simhash16(df, textCol, "__sh"), idCol, blockBits = 4)

  /** Hamming bound of both simhash joins: the 4-block pigeonhole's limit. */
  val SimhashMaxHamming = 3

  /** Cap on the members of one (block, value) simhash bucket. */
  val SimhashBucketCap = 1000

  /** X2b at production sketch width: 60-bit wide simhash (see
   * [[org.apache.spark.sql.graft.SimhashWide]]) with 4 × 15-bit blocks —
   * 32768 buckets per block, so bucket sizes stay tiny even on
   * billion-document corpora (the 16-bit variant's 16 buckets per block
   * degenerate to n/16 at scale). Same pigeonhole completeness for
   * Hamming distance ≤ 3. */
  def simhashWide(df: DataFrame, textCol: String, outCol: String): DataFrame =
    withShingleHashes(df, textCol)
      // same short-document NULL sentinel as [[simhash16]]
      .withColumn(outCol, when(size(col(ShinglesCol)) > 0,
        org.apache.spark.sql.graft.SignatureKernels.simhashWide(col(ShinglesCol))))
      .drop(ShinglesCol)

  def simhashPairsWide(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashPairsOn(simhashWide(df, textCol, "__sh"), idCol, blockBits = 15)

  /** Shared pigeonhole machinery: sketch column `__sh`, 4 blocks of
   * `blockBits` bits each. */
  private def simhashPairsOn(sketched: DataFrame, idCol: String, blockBits: Int): DataFrame = {
    val blockMask = (1L << blockBits) - 1L
    val sh = sketched.select(col(idCol), col("__sh"))
    val blocks = sh.select(
      col(idCol), col("__sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("__sh"), b * blockBits).bitwiseAND(lit(blockMask))): _*)).as(Seq("block", "bval")))
    val capped = HotKeys.dropOverCap(blocks, Seq("block", "bval"), SimhashBucketCap)
    val left = capped.select(col(idCol).as("id_a"), col("__sh").as("sh_a"), col("block"), col("bval"))
    val right = capped.select(col(idCol).as("id_b"), col("__sh").as("sh_b"), col("block"), col("bval"))
    left.join(right, Seq("block", "bval"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(first("sh_a").as("sh_a"), first("sh_b").as("sh_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /**
   * X2e — candidate VERIFICATION: banded-LSH candidates re-checked with
   * the exact distinct-shingle Jaccard, keeping only pairs at or above
   * `minJaccard` — the standard two-stage near-dup shape (sketch recall,
   * exact precision). The exact set intersection runs ONLY over candidate
   * pairs, so its cost is O(|candidates| · doc_len), linear in the corpus
   * when the LSH stage is bucket-capped — never all-pairs. The shingle
   * sets ride a plain id equi-join onto the (small) candidate list; AQE
   * broadcasts the pair side at runtime.
   *
   * Candidates are never empty-shingle documents (the per-document
   * sentinel in [[withBandKeys]] cannot collide), so the Jaccard
   * denominator is always positive.
   */
  def verifiedNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, bucketCap: Int = BandBucketCap): DataFrame = {
    val cand = minhashPairsBanded(withBandKeys(df, textCol, idCol), idCol, bucketCap)
    withPairSets(cand, shingleSets(df, idCol, textCol), idCol)
      .withColumn("n_common", size(array_intersect(col("__set_a"), col("__set_b"))).cast("long"))
      .withColumn("n_a", size(col("__set_a")).cast("long"))
      .withColumn("n_b", size(col("__set_b")).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("n_bands"), col("n_common"),
        col("n_a"), col("n_b"), col("jaccard"))
  }

  /** (id, __sh_set): each document's distinct shingle hash array. */
  private[ext] def shingleSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withShingleHashes(df, textCol)
      .select(col(idCol), array_distinct(col(ShinglesCol)).as("__sh_set"))

  /** Attach both endpoints' shingle sets (`__set_a`, `__set_b`) to an
   * (id_a, id_b, …) pair frame, from an (id, __sh_set) frame. */
  private[ext] def withPairSets(pairs: DataFrame, sets: DataFrame, idCol: String): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("__sh_set").as("__set_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__sh_set").as("__set_b")), "id_b")

  /** Verified near-dup Jaccard threshold: the audits' and the pipeline default. */
  val NearDupMinJaccard = 0.5

  /**
   * X40 — eval-contamination (split-leakage) audit: verified near-dup
   * pairs that CROSS a deterministic train/eval split. Benchmark
   * contamination is near-duplication across the split boundary (an
   * eval doc whose near-copy sits in training data scores as memorized
   * — Lee et al. 2021 §6.2, the GPT-3/PaLM eval-decontamination step),
   * so the audit is exactly [[verifiedNearDupPairs]] (banded-LSH recall,
   * exact-Jaccard precision) composed with the repo's standard
   * deterministic ppm draw (`((id mod 2³¹)·2654435761) mod 10⁶ <
   * evalPpm` — a pure function of the id, so the split predicate is a
   * shuffle-free map over the pair stream, never a join). Output: one
   * row per contaminated pair, oriented (eval_id, train_id), with the
   * LSH band votes and the exact overlap evidence.
   *
   * Scale posture inherits X2/X2e: candidates only ever come from
   * capped LSH buckets (never all-pairs), the exact intersection
   * touches candidate pairs only, and the split filter drops ~2·p·(1−p)
   * of pairs before output. Production decontamination inverts this
   * list into a drop-set join against the training split.
   */
  def splitLeakageAudit(df: DataFrame, idCol: String, textCol: String,
      evalPpm: Long = 100000L): DataFrame = {
    def isEval(c: Column): Column =
      pmod(pmod(c.cast("long"), lit(2147483648L)) * lit(2654435761L), lit(1000000L)) < lit(evalPpm)
    verifiedNearDupPairs(df, idCol, textCol, NearDupMinJaccard)
      .filter(isEval(col("id_a")) =!= isEval(col("id_b")))
      .select(
        when(isEval(col("id_a")), col("id_a")).otherwise(col("id_b")).as("eval_id"),
        when(isEval(col("id_a")), col("id_b")).otherwise(col("id_a")).as("train_id"),
        col("n_bands"), col("n_common"), col("jaccard"))
  }

  /** Internal staging column for per-row fixed-stride chunk hashes. */
  val ChunksCol = "__chunks"

  /** Default tokens per chunk of the span-dedup family. */
  val ChunkSize = 8

  /**
   * Stage fixed-stride token-chunk hashes: the token stream is cut into
   * consecutive `chunkSize`-token blocks (stride = chunkSize, no overlap)
   * and each block is folded to a rolling hash
   * `(acc·131 + tokenHash) mod P` — the segment unit of
   * paragraph/span-level exact dedup (Lee et al., "Deduplicating Training
   * Data Makes Language Models Better": exact substring matching; here at
   * block granularity so the unit is portable to the oracle). The
   * `< chunkSize` guard matters for the same reason as in
   * [[withShingleHashes]]: Spark's `sequence(1, 0)` is a DESCENDING
   * [1, 0], not empty.
   */
  def withChunkHashes(df: DataFrame, textCol: String, chunkSize: Int = ChunkSize): DataFrame =
    df.withColumn("__thashes",
        org.apache.spark.sql.graft.SignatureKernels.tokenHashes(
          org.apache.spark.sql.functions.split(col(textCol), " "), P))
      .withColumn(ChunksCol,
        org.apache.spark.sql.graft.SignatureKernels.chunkHashes(col("__thashes"), chunkSize, P))
      .drop("__thashes")

  /**
   * X2f — span-level boilerplate accounting: per document, how many of
   * its chunks are "boilerplate" (document frequency of the chunk hash —
   * the number of DISTINCT documents containing it — exceeds 1)
   * and the fraction that survives span-level dedup. Three shuffles, all
   * map-side-combined and none over text: (doc, chunk) collapse, chunk-df
   * count table (joined back SHUFFLE_HASH), doc-id rollup. Documents shorter than one chunk report
   * n_chunks = 0 and keep_frac 1.0 (nothing to dedup).
   */
  def chunkBoilerplate(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // explode_outer + null filter: same InferFiltersFromGenerate pushdown
    // discipline as ngramJaccardPairs below
    val chunks = withChunkHashes(df, textCol)
      .select(col(idCol), explode_outer(col(ChunksCol)).as("chunk"))
      .filter(col("chunk").isNotNull)
    // TRUE document frequency: collapse to one row per (doc, chunk) first
    // (carrying the occurrence count), so a chunk repeated within a single
    // document counts once toward __cdf — only cross-document repetition
    // marks boilerplate, matching Lee et al.-style span dedup. Every
    // occurrence still counts toward n_chunks/n_boiler.
    val perDocChunk = chunks.groupBy(col(idCol), col("chunk")).agg(count(lit(1)).as("__occ"))
    // chunk df joined back as a VALUE (the boilerplate flag needs it per
    // row), hot-key-safe: map-side-combined count table + SHUFFLE_HASH
    // join (AQE-skew-splittable, unlike the previous count-over-Window
    // which shipped every row of a corpus-wide boilerplate chunk — the
    // exact chunk this operator exists to flag — to a single reducer)
    val perDoc = HotKeys.withKeyCounts(perDocChunk, Seq("chunk"), "__cdf")
      .groupBy(idCol)
      .agg(
        sum(col("__occ")).as("n_chunks"),
        sum(when(col("__cdf") > 1L, col("__occ")).otherwise(0L)).as("n_boiler"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("keep_frac6",
        when(col("n_chunks") > 0,
          round((col("n_chunks") - col("n_boiler")).cast("double") / col("n_chunks").cast("double"), 6))
          .otherwise(lit(1.0)))
  }

  /**
   * X2g — duplicate-SPAN statistics: per document, the longest run of
   * consecutive chunks whose hash also appears in some OTHER document
   * (chunk document-frequency > 1). This is the detection face of exact
   * substring dedup (Lee et al. 2021) at chunk granularity: a doc whose
   * longest cross-duplicated span covers hundreds of tokens is a copy or
   * a quote, even when its overall boilerplate fraction (chunkBoilerplate)
   * looks tame, because a long run concentrated in one place reads very
   * differently from the same mass scattered as boilerplate.
   *
   * Plan — the chunk pipeline is staged ONCE (lazy localCheckpoint,
   * clause (a) of the staging rule: the dup-chunk table and the flag
   * join both consume it; unstaged, each branch re-chunks the corpus):
   *  1. posexplode the staged chunk hashes (keeps the in-doc index);
   *  2. cross-doc df as two map-side-combined groupBys + a SHUFFLE_HASH
   *     flag join (the [[dedupSpans]] shape; counts DISTINCT docs —
   *     repetition inside one doc is self-similarity, not cross-corpus
   *     duplication). The previous form derived the flag with lag + sum
   *     over `Window.partitionBy(__chunk)` — a content key: every
   *     occurrence of a corpus-wide boilerplate chunk (the exact chunk
   *     this operator exists to flag) funneled through the one reducer
   *     that owned it, with a sort, unsplittable by AQE;
   *  3. one exchange on the doc id carries everything else: totals as
   *     unordered windows, gaps-and-islands via a running dup count
   *     (idx − cumulative-dup-rank is constant exactly along a
   *     consecutive dup run), a sentinel row per doc so zero-dup docs
   *     keep their totals, then two groupBys that reuse the id
   *     partitioning (grouping on (id, grp) is satisfied by hash(id) —
   *     no further shuffle).
   * No text ever shuffles; only (id, chunk, idx) tuples move.
   */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = ChunkSize): DataFrame = {
    val chunks = chunkOccurrences(df, idCol, textCol, chunkSize)
      .localCheckpoint(eager = false) // (a), see the plan above
    val flagged = flagDupChunks(chunks, dupChunkSet(chunks, idCol)).drop("__dup0")
    val byDoc = Window.partitionBy(idCol)
    val byDocIdx = Window.partitionBy(idCol).orderBy("__idx")
    val perDoc = flagged
      .withColumn("n_chunks", count(lit(1)).over(byDoc))
      .withColumn("n_dup_chunks", sum(when(col("__dup"), 1L).otherwise(0L)).over(byDoc))
      // cumulative dup rank: for a dup row, its 1-based index among the
      // doc's dup rows — idx minus it is constant along a consecutive run
      .withColumn("__grp", when(col("__dup"),
        col("__idx") - sum(when(col("__dup"), 1L).otherwise(0L)).over(
          byDocIdx.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      // keep dup rows + one sentinel per doc (totals survive for
      // zero-dup docs; a dup first row simply serves as both) — window
      // functions cannot sit in a WHERE clause, so stage the row number
      .withColumn("__rn", row_number().over(byDocIdx))
      .filter(col("__dup") || col("__rn") === 1)
      .groupBy(col(idCol), col("__grp"))
      .agg(
        count(when(col("__dup"), 1)).as("__run"),
        first("n_chunks").as("__nc"),
        first("n_dup_chunks").as("__nd"))
      .groupBy(idCol)
      .agg(
        first("__nc").as("n_chunks"),
        first("__nd").as("n_dup_chunks"),
        max("__run").as("max_dup_run"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
      .withColumn("max_dup_tokens", col("max_dup_run") * chunkSize)
  }

  /**
   * X2g-apply — span-level dedup REMOVAL: rewrite each document with its
   * cross-duplicated chunks dropped (chunks whose hash appears in some
   * OTHER document), keeping the sub-chunk tail verbatim — the rewrite
   * step of exact-substring dedup (Lee et al. 2021), where
   * [[dupSpanStats]] is the detection step.
   *
   * Scale shape: the flagging path is the same single-lineage chunk-df
   * computation as dupSpanStats — only (id, chunk, idx) tuples shuffle.
   * The rewrite then reduces each doc's verdict to a kept-index ARRAY
   * (ints, collect_list after the flagging) and joins it back to the
   * corpus scan: the TEXT crosses the wire exactly once, in this final
   * id-keyed assembly join — the unavoidable minimum for a corpus
   * rewrite. Token slices are reassembled with HOFs (no UDF, no
   * explode-regroup of tokens).
   */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = ChunkSize): DataFrame = {
    // staged ONCE, (a): the dup-chunk table and the flag join both
    // consume this frame — unstaged, Catalyst would
    // re-chunk and re-hash the full corpus per branch (the round-12
    // regression pattern this file's dupSpanStats docstring warns about)
    val chunks = chunkOccurrences(df, idCol, textCol, chunkSize)
      .localCheckpoint(eager = false)
    spanRewrite(df, idCol, textCol, chunkSize, chunks, dupChunkSet(chunks, idCol))
  }

  /** The chunks (`__chunk`) of a [[chunkOccurrences]] frame that appear
   * in ≥ 2 DISTINCT documents — a per-chunk constant. The previous form
   * derived it with lag + sum over Window.partitionBy(__chunk), which
   * ships every occurrence of a corpus-wide boilerplate chunk to one
   * reducer and sorts it; this shape is two map-side-combined groupBys
   * (the (chunk, doc) collapse shuffles on a well-spread composite key,
   * the per-chunk doc count combines map-side), and [[flagDupChunks]]'
   * SHUFFLE_HASH join lets AQE skew-split the flagging. */
  private def dupChunkSet(chunks: DataFrame, idCol: String): DataFrame =
    chunks.select(col("__chunk"), col(idCol)).distinct()
      .groupBy("__chunk").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1L)
      .select(col("__chunk"))

  /** `chunks` with `__dup` = its chunk is in `dupChunks` (column
   * `__chunk`). */
  private def flagDupChunks(chunks: DataFrame, dupChunks: DataFrame): DataFrame =
    chunks
      .join(dupChunks.select(col("__chunk"), lit(true).as("__dup0")).hint("SHUFFLE_HASH"),
        Seq("__chunk"), "left_outer")
      .withColumn("__dup", coalesce(col("__dup0"), lit(false)))

  /** Indexed chunk-hash occurrences of a corpus — (idCol, __idx, __chunk)
   * per non-null chunk. The explode half of [[dedupSpans]], exposed
   * (package-private) so the incremental pipeline can stage it once as
   * stored state. */
  private[ext] def chunkOccurrences(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int): DataFrame =
    withChunkHashes(df, textCol, chunkSize)
      .select(col(idCol), posexplode_outer(col(ChunksCol)))
      .withColumnRenamed("pos", "__idx")
      .withColumnRenamed("col", "__chunk")
      .filter(col("__chunk").isNotNull)

  /** The rewrite half of [[dedupSpans]]: drop every chunk whose hash is
   * in `dupChunks` (a frame with column `__chunk`), keep the sub-chunk
   * tail verbatim. `chunks` must be [[chunkOccurrences]] of `df` (staged
   * by the caller when it has other consumers). Package-private: the
   * incremental pipeline rewrites its delta-touched docs against a dup
   * set whose document frequencies combine stored corpus counts with the
   * batch's — the dup TABLE is external state there, not derivable from
   * `df` alone. */
  private[ext] def spanRewrite(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, chunks: DataFrame, dupChunks: DataFrame): DataFrame = {
    val flagged = flagDupChunks(chunks, dupChunks)
    // when() without otherwise yields nulls, which collect_list DROPS —
    // so every chunked doc keeps its group row even when all chunks are
    // dup (kept list just comes back empty, not absent)
    val kept = flagged.groupBy(idCol).agg(
      sort_array(collect_list(when(!col("__dup"), col("__idx")))).as("__ki"))
    df.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .join(kept, Seq(idCol), "left_outer")
      .withColumn("__ki", coalesce(col("__ki"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("__keptArr", concat(
        flatten(transform(col("__ki"),
          i => slice(col("__toks"), (i * chunkSize + 1).cast("int"), lit(chunkSize)))),
        expr(s"""slice(__toks, CAST(__n div $chunkSize * $chunkSize + 1 AS INT),
                |      CAST(__n - __n div $chunkSize * $chunkSize AS INT))""".stripMargin)))
      .select(col(idCol),
        size(col("__keptArr")).cast("long").as("n_kept_tokens"),
        concat_ws(" ", col("__keptArr")).as("kept_text"))
  }

  /** (id, `as`): one row per element of `set` over the shingle hashes of `df`'s
   * text), nulls dropped. explode_outer + null filter, NOT explode:
   * InferFiltersFromGenerate plants size(arr)>0 below a non-outer
   * Generate, and predicate pushdown re-inlines the whole staged shingle
   * pipeline into that Filter (3× interpreted recompute per row — 42 s
   * vs 2.5 s on the sf0.1 corpus scan). */
  private[ext] def explodeShingles(df: DataFrame, idCol: String, textCol: String,
      as: String, set: Column => Column = identity): DataFrame =
    withShingleHashes(df, textCol)
      .select(col(idCol), explode_outer(set(col(ShinglesCol))).as(as))
      .filter(col(as).isNotNull)

  /** X2c — n-gram Jaccard pairs: explode distinct shingles, self-join on
   * the shingle (shuffle on shingle hash — the inverted-index pattern),
   * count co-occurrences, then Jaccard = |∩| / (|A| + |B| − |∩|).
   *
   * `maxShingleDf` is the document-frequency ceiling (prefix-filtering
   * idiom): a shingle shared by d documents emits O(d²) join rows, so one
   * corpus-wide boilerplate 3-gram would produce a quadratic partition at
   * 100 TB. Shingles with df > ceiling are dropped from the inverted index
   * AND from the per-doc set sizes, so the reported Jaccard is consistently
   * "Jaccard over non-stop shingles". The df window shuffles on `shingle`,
   * the same key the self-join needs — Spark reuses the partitioning, so
   * the ceiling costs a sort, not an extra exchange. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, minCommon: Long,
      maxShingleDf: Long = 10000L): DataFrame = {
    val exploded = explodeShingles(df, idCol, textCol, "shingle", array_distinct)
    val shingled = HotKeys.dropOverCap(exploded, Seq("shingle"), maxShingleDf)
    val counts = shingled.groupBy(idCol).agg(count(lit(1)).as("n_sh"))

    val a = shingled.withColumnRenamed(idCol, "id_a")
    val b = shingled.withColumnRenamed(idCol, "id_b")
    val common = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)

    common
      .join(counts.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(counts.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
  }

  /**
   * LSH QUALITY AUDIT — the production trust metric for the whole banded
   * family: over a caller-provided SAMPLE, compute ground truth (exact
   * distinct-shingle Jaccard ≥ [[NearDupMinJaccard]], via the shingle inverted
   * index — all pairs THROUGH shared shingles, no df ceiling because the
   * sample bounds the cost) and the banded-LSH candidate set, and report
   * one row: true-pair count, candidate count, hits, precision and
   * recall in integer ppm (exact `div` — engine- and partitioning-
   * deterministic). Run periodically on a sample in production, this
   * turns "the LSH parameters are probably fine" into a measured number;
   * the property spec (PipelinePropertySpec) checks the same bound on
   * engineered corpora, this operator checks it on REAL data.
   *
   * Scale: everything is sample-bounded by construction; production
   * chooses the sample with the deterministic hash samplers
   * (Curation.stratifiedSample), never rand().
   */
  def lshRecallAudit(sample: DataFrame, idCol: String, textCol: String): DataFrame = {
    val shingled = explodeShingles(sample, idCol, textCol, "sh").distinct()
    val sizes = shingled.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val common = shingled.select(col(idCol).as("id_a"), col("sh"))
      .join(shingled.select(col(idCol).as("id_b"), col("sh")), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    val truth = common
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .filter(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double") >= NearDupMinJaccard)
      .select("id_a", "id_b")
    val cand = minhashPairsBanded(withBandKeys(sample, textCol, idCol), idCol)
      .select("id_a", "id_b")
    Similarity.recallPpm(truth, cand, Seq("id_a", "id_b"))
  }
}
