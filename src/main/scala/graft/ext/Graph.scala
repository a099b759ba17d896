package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Link-graph signals for corpus curation (SURVEY.md §2.11 extension
 * surface). Web-scale training-data pipelines weight crawled documents by
 * the link graph (PageRank-family centrality is the classic quality
 * prior); this is the bounded-round, fixed-point formulation of that
 * signal, built so two engines — and any partitioning — agree
 * bit-for-bit.
 *
 * No counterpart exists in the reference (a Cassandra migration engine);
 * the mandate for this tier is BASELINE.json's north star.
 */
object Graph {

  /**
   * PageRank with a FIXED iteration count in int64 fixed point.
   *
   * Why fixed point: float PageRank sums per-node contributions, and
   * float addition is order-sensitive — a different partitioning (or a
   * different engine) yields different low bits, which breaks the
   * hash-compare correctness gate and makes runs irreproducible. Here
   * rank is carried in integer [[Scale]] units (10^12 = "picorank"
   * of a total mass ~[[Scale]]), every division is integer division, and
   * int64 addition is associative — so the result is identical on Spark,
   * DuckDB, and any cluster layout.
   *
   * Semantics per round (damping d = [[DampPct]]/100, N = node count):
   *   rank'(v) = (Scale/N · (100−DampPct)) div 100
   *            + (DampPct · Σ_{u→v} rank(u) div outdeg(u)) div 100
   * Truncation loses < 1 unit per edge per round (≤ iters·maxdeg units
   * total, i.e. ~10^-9 of mass) and dangling-node
   * mass is dropped rather than redistributed — both standard bounded
   * variants; ranks are a hair conservative but the ORDERING, which is
   * what a curation pipeline consumes, is stable.
   *
   * Shape at scale: `edges` is shuffled ONCE by src to attach out-degrees
   * and then re-used every round; each round is one key-partitioned join
   * (rank ⋈ edges on src) + ONE map-side-combined sum by dst with the
   * teleport fused in (per-node zero rows unioned with the contributions,
   * so no-inbound nodes survive the aggregate and no separate
   * nodes-left-join job runs) — the canonical iterative-graph shape whose
   * per-round shuffle is linear in |E| (measured linear for the star-CC
   * operator in SCALING.md; same skeleton). Lineage is cut with
   * localCheckpoint every [[CheckpointEvery]] rounds exactly like
   * [[Dedup]]'s connected components, so plan size stays O(1) in iters.
   *
   * Overflow audit: total mass ≤ Scale + N·teleport ≤ 2·Scale = 2·10^12;
   * the one product `DampPct · Σ contrib` is bounded by 100·2·10^12 «
   * 2^63. Node ids must be non-negative (integer `div` truncates toward
   * zero; all quantities here are ≥ 0, where truncation = floor in both
   * engines).
   */
  def pageRankFixed(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, localMaxEdges: Long = LocalMaxEdges): DataFrame =
    pageRankCore(edges, srcCol, dstCol, iters, seedPred = None, localMaxEdges)

  /**
   * PERSONALIZED (topic-sensitive) PageRank — Haveliwala 2002: the
   * teleport mass lands ONLY on the seed set, so rank measures proximity
   * to the topic the seeds define (the curation use: score crawl pages
   * by closeness to a trusted seed domain set). `seedPred` marks seeds
   * by node id; teleport per seed = (Scale·(100−DampPct) div 100) div
   * |S| (uniform over seeds, zero elsewhere), initial rank likewise
   * seed-uniform — non-seed nodes earn rank only through links. Same
   * int64 fixed-point exactness contract as [[pageRankFixed]].
   */
  def pageRankPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
      seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      iters: Int = 5, localMaxEdges: Long = LocalMaxEdges): DataFrame =
    pageRankCore(edges, srcCol, dstCol, iters, Some(seedPred), localMaxEdges)

  /** Fixed-point rank units: the total mass is ~10^12 "picorank". */
  val Scale = 1000000000000L

  /** Damping factor in percent (d = 0.85). */
  val DampPct = 85

  /**
   * Node-count ceiling for the per-round broadcast strategy. A
   * rank row is 16 bytes of data but a broadcast hash relation carries
   * ~3-4× overhead per entry, so 1 M nodes ≈ 50-100 MB resident on the
   * driver AND every executor, rebuilt every round — the round-10 default
   * of 4 M was validated only at 21 k nodes and risked executor OOM on
   * modest deployments (round-10 advisory).
   */
  val BroadcastMaxNodes = 1000000L

  /**
   * Edge-count ceiling for the SMALL-GRAPH LOCAL path: when the edge set
   * fits comfortably on the driver (2 M edges ≈ 32 MB of id pairs), the
   * whole iteration runs as an in-memory int64 loop — the same adaptive
   * regime choice as broadcast-vs-shuffle joins. The iterative
   * distributed form pays a ~0.6 s/round scheduling floor regardless of
   * data volume (decomposed in SCALING.md); an in-process engine pays
   * none, so matching it on the SAME small-graph regime requires the
   * same execution locality. Bit-identical results: contributions are
   * associative int64 adds (order-free), `div` is nonneg truncation in
   * both forms — property-pinned local == distributed on random graphs.
   * Pass 0 to disable (ScaleBench measures the distributed path
   * explicitly).
   */
  val LocalMaxEdges = 2000000L

  /** Rounds between the distributed loop's lineage cuts. */
  val CheckpointEvery = 4

  private def pageRankCore(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int,
      seedPred: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column],
      localMaxEdges: Long)
      : DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    if (localMaxEdges > 0) {
      // limit+1 probe instead of a separate count(): ONE evaluation of
      // the (possibly expensive) edge lineage when the local path wins;
      // an over-limit graph wastes one bounded collect and falls
      // through. Seed flags ride the same probe (every node appears on
      // some edge, so per-endpoint evaluation of the caller's Column
      // predicate covers the node set — no second job).
      val s64 = col(srcCol).cast("long")
      val d64 = col(dstCol).cast("long")
      val probeCols = seedPred match {
        case None => Seq(s64, d64)
        case Some(p) => Seq(s64, d64, p(s64), p(d64))
      }
      val probe = edges.select(probeCols: _*)
        .limit(math.min(localMaxEdges + 1, Int.MaxValue.toLong - 1).toInt).collect()
      // null gate: a null endpoint (or a null seed-predicate result) is a
      // legal node key in the distributed path — Column semantics
      // propagate it — but the local arrays unbox to primitives and would
      // NPE. Any null in the probe falls through to the distributed form
      // rather than diverging from it.
      val localSafe = probe.forall(r => (0 until r.length).forall(!r.isNullAt(_)))
      if (probe.length <= localMaxEdges && localSafe)
        return pageRankLocal(edges.sparkSession,
          probe.map(r => (r.getLong(0), r.getLong(1))),
          seedFlags = seedPred.map(_ => probe.map(r => (r.getBoolean(2), r.getBoolean(3)))),
          iters)
    }
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")

    // Node set and degree-attached edges are re-read EVERY round: persist
    // both (recomputing the distinct per iteration was the dominant cost
    // in the first cut — 6 full edge shuffles for a 5-round run).
    val nodes = edges.select(src.as("node"))
      .union(edges.select(dst.as("node"))).distinct()
      .persist()
    // One scalar row (node count + seed count fused into a single
    // aggregate job) — the only driver-visible aggregate.
    val cnts = nodes.agg(
      count(lit(1)).as("n"),
      sum(when(seedPred.map(_(col("node"))).getOrElse(lit(true)), 1L).otherwise(0L)).as("s"))
      .collect()(0)
    val n = cnts.getLong(0)
    require(n > 0, "pageRankFixed: empty edge set")
    val nBase = seedPred match {
      case None => n
      case Some(_) =>
        val s = cnts.getLong(1)
        require(s > 0, "pageRankPersonalized: no node satisfies seedPred")
        s
    }
    val init = Scale / nBase
    val teleport = (init * (100L - DampPct)) / 100L
    // per-node teleport/init: uniform, or seed-only for personalization
    def teleportCol = seedPred match {
      case None => lit(teleport)
      case Some(p) => when(p(col("node")), lit(teleport)).otherwise(lit(0L))
    }
    def initCol = seedPred match {
      case None => lit(init)
      case Some(p) => when(p(col("node")), lit(init)).otherwise(lit(0L))
    }
    // The per-round rank table is O(|V|) rows of 16 bytes; when the
    // graph's node set is broadcast-sized, hinting it turns the round's
    // edge join into a map-side join over the big (edge) side — no
    // per-round sort or shuffle of E rows, at the price of one
    // broadcast-build job per round. Local[32] min-of-3 A/B at sf0.1
    // (1.1 M edges, 21 k nodes): 4.15 s broadcast vs 5.48 s shuffle on
    // the pre-fusion shape — and the shuffle path's per-round E-row sort
    // grows with |E| while the broadcast path's driver jobs do not, so
    // broadcast is the default below the threshold.
    val broadcastable = n <= BroadcastMaxNodes
    def hinted(df: DataFrame): DataFrame = if (broadcastable) broadcast(df) else df

    val outDeg = edges.groupBy(src.as("node")).agg(count(lit(1)).as("out_deg"))
    val edgesDegBase = edges.select(src.as("src"), dst.as("dst"))
      .join(hinted(outDeg), col("src") === col("node"))
      .select(col("src"), col("dst"), col("out_deg"))
    // The repartition looks redundant under per-round broadcast, but it
    // is load-bearing for BOTH paths: AQE coalesces the small upstream
    // distinct/join shuffles down to one-or-few partitions, and a
    // persisted one-partition edge frame serializes every round
    // (measured: dropping this cost ~1.3 s/query at sf0.1). On the
    // shuffle path it additionally provides the reused src partitioning.
    val edgesDeg = edgesDegBase.repartition(col("src")).persist()

    var rank = nodes.select(col("node"), initCol.as("rank"))
    for (i <- 1 to iters) {
      // `div` (not `/`): long division must stay integral — double
      // division + cast truncates correctly only while the quotient's
      // ulp is below 1/out_deg, which high-degree hubs at scale violate.
      val contrib = edgesDeg
        .join(hinted(rank), col("src") === rank("node"))
        .select(col("dst").as("node"), expr("rank div out_deg").as("c"))
      // Teleport is FUSED into the contribution aggregate: every node
      // contributes one zero row unioned with the edge contributions, so
      // sum(c) covers no-inbound nodes and the round is ONE map-side-
      // combined groupBy — the round-10 shape's separate `summed`
      // broadcast-build + nodes-left-join cost ~1 extra job per round
      // (per-job scheduling was the measured floor of the 5-round run).
      rank = nodes.select(col("node"), lit(0L).as("c"))
        .union(contrib)
        .groupBy("node").agg(sum("c").as("s"))
        .select(col("node"),
          (teleportCol + expr(s"($DampPct * s) div 100")).as("rank"))
      // (b): cut the round lineage
      if (i % CheckpointEvery == 0 && i < iters) rank = rank.localCheckpoint()
    }
    // Materialize (eager localCheckpoint, (b): the loop's last cut)
    // BEFORE dropping the caches: the
    // returned frame must not lazily recompute through unpersisted
    // inputs. This also hands the caller a lineage-free O(|V|) frame.
    val out = rank.localCheckpoint()
    edgesDeg.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Small-graph in-memory iteration (see [[LocalMaxEdges]]): identical
   * arithmetic to the distributed rounds — per-edge contribution
   * rank div out_deg accumulated by int64 adds (associative, so the
   * array-order accumulation equals any shuffle order), then
   * teleport + (DampPct·acc) div 100 per node. Duplicate edge rows act
   * as parallel edges in BOTH forms (out-degree counts instances,
   * contributions emit per instance). `seedFlags` carries the caller's
   * Column predicate pre-evaluated per edge endpoint (by the probe job,
   * so Column semantics stay authoritative) — every node appears on
   * some edge, so endpoint coverage is node coverage. */
  private def pageRankLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)], seedFlags: Option[Array[(Boolean, Boolean)]],
      iters: Int)
      : DataFrame = {
    require(edges.nonEmpty, "pageRankFixed: empty edge set")
    val idx = new java.util.HashMap[Long, Integer]()
    val nodeIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    def ix(v: Long): Int = {
      val g = idx.get(v)
      if (g != null) g.intValue
      else { idx.put(v, nodeIds.size); nodeIds += v; nodeIds.size - 1 }
    }
    val m = edges.length
    val srcIdx = new Array[Int](m)
    val dstIdx = new Array[Int](m)
    var i = 0
    while (i < m) { srcIdx(i) = ix(edges(i)._1); dstIdx(i) = ix(edges(i)._2); i += 1 }
    val n = nodeIds.size
    val outDeg = new Array[Long](n)
    i = 0
    while (i < m) { outDeg(srcIdx(i)) += 1L; i += 1 }
    val isSeed: Array[Boolean] = seedFlags match {
      case None => null
      case Some(flags) =>
        val arr = new Array[Boolean](n)
        var j = 0
        while (j < m) {
          arr(srcIdx(j)) = flags(j)._1
          arr(dstIdx(j)) = flags(j)._2
          j += 1
        }
        arr
    }
    val nBase = if (isSeed == null) n.toLong else isSeed.count(identity).toLong
    require(nBase > 0, "pageRankPersonalized: no node satisfies seedPred")
    val init = Scale / nBase
    val teleport = (init * (100L - DampPct)) / 100L
    var rank = Array.tabulate(n)(v => if (isSeed == null || isSeed(v)) init else 0L)
    var it = 0
    while (it < iters) {
      val acc = new Array[Long](n)
      var j = 0
      while (j < m) {
        acc(dstIdx(j)) += rank(srcIdx(j)) / outDeg(srcIdx(j))
        j += 1
      }
      rank = Array.tabulate(n)(v =>
        (if (isSeed == null || isSeed(v)) teleport else 0L) + (DampPct.toLong * acc(v)) / 100L)
      it += 1
    }
    import spark.implicits._
    nodeIds.toSeq.zipWithIndex
      .map { case (v, k) => (v, rank(k)) }.toDF("node", "rank")
  }
}
