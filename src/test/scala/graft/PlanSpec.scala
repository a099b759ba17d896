package graft

import graft.config.CdmConfig
import graft.ext.Dedup
import graft.io.TableIO
import graft.jobs.Migrate

/** Physical-plan guards (SURVEY.md §4): the optimizations the reference
 * hand-implements must actually appear in Catalyst's plan — predicate
 * pushdown into the scan, column pruning, hash joins (never nested-loop),
 * and no re-inlined expensive expressions in Filters. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter_where pushes the predicate into the parquet scan") {
    val df = Migrate.plan(spark, CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> Sf,
      "spark.cdm.schema.origin.keyspaceTable" -> "lineitem",
      "spark.cdm.schema.origin.primaryKey" -> "l_orderkey,l_linenumber",
      "spark.cdm.filter.cassandra.whereCondition" -> "l_quantity > 25")))
    val p = plan(df)
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_quantity,25"),
      s"predicate not pushed:\n$p")
  }

  test("projection prunes the parquet ReadSchema to selected columns") {
    val df = Migrate.plan(spark, CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> Sf,
      "spark.cdm.schema.origin.keyspaceTable" -> "lineitem",
      "spark.cdm.schema.origin.primaryKey" -> "l_orderkey,l_linenumber",
      "spark.cdm.schema.origin.column.skip" ->
        "l_tax,l_returnflag,l_linestatus,l_shipdate,l_discount,l_extendedprice,l_partkey,l_suppkey")))
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"scan not pruned:\n$p")
  }

  test("diff join plans as a hash/sort-merge join, never nested-loop") {
    val o = TableIO.read(spark, Sf, "orders")
    val p = plan(graft.jobs.DiffData.classify(o, o, Seq("o_orderkey")))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), s"bad join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), s"no equi-join:\n$p")
  }

  test("diff report projection keeps diff_cols in generated code: no lambda in classify's plan") {
    val o = TableIO.read(spark, Sf, "orders")
    val p = plan(graft.jobs.DiffData.classify(o, o, Seq("o_orderkey")))
    assert(!p.contains("lambdafunction"), s"interpreted HOF in the diff report:\n$p")
  }

  test("minhash LSH join does not re-inline signature expressions into Filters") {
    val sigs = Dedup.withMinhashSignature(TableIO.read(spark, Sf, "documents"), "text")
    val p = plan(Dedup.minhashPairs(sigs, "doc_id"))
    // 4 signature components per side = 8 kernel call sites; pushdown
    // re-inlining (the ~20x regression fixed twice in Dedup.minhash —
    // nullable signatures generate isnotnull Filters below the staged
    // projections) doubles it and moves copies into Filter nodes.
    val occurrences = "minhash_component".r.findAllIn(p).size
    assert(occurrences <= 8, s"signature recomputed ($occurrences kernel sites):\n${p.take(2000)}")
    assert(!p.contains("isnotnull(coalesce(minhash_component"),
      s"signature re-inlined into a Filter:\n${p.take(2000)}")
  }

  test("narrow scan widens before the banded pair join: the kernel stage never runs single-core") {
    // r17: a broadcast pair join executes in its STREAM side's stage (no
    // exchange for AQE to split), so a 1-partition scan single-threads
    // the whole pair scoring + partial heaps (measured 3.4 s vs 0.9 s at
    // sf0.1). Similarity.widen must repartition a too-narrow source; the
    // pair stream's RDD must carry at least the session parallelism.
    val emb = TableIO.read(spark, Sf, "embeddings").coalesce(1)
    val pairs = graft.ext.Similarity.bandPairs(emb, bands = 2, bandPlanes = 3,
      bucketCap = 10000L, probes = 1)
    val want = spark.sparkContext.defaultParallelism
    assert(pairs.rdd.getNumPartitions >= want,
      s"pair stream runs at ${pairs.rdd.getNumPartitions} < $want partitions " +
        "— the kernel stage would single-thread on a narrow scan")
    // and a source already at-or-above parallelism is NOT re-exchanged
    val wide = TableIO.read(spark, Sf, "embeddings").repartition(want)
    val p = graft.ext.Similarity.bandPairs(wide, bands = 2, bandPlanes = 3,
      bucketCap = 10000L, probes = 1)
    assert(!p.queryExecution.analyzed.toString.contains("RepartitionByExpression") ||
      p.rdd.getNumPartitions >= want, "widen gate sanity")
  }

  test("banded LSH pair stage computes each kernel once and shuffles once on (band,bkey)") {
    val banded = Dedup.withBandKeys(TableIO.read(spark, Sf, "documents"), "text")
    val p = plan(Dedup.minhashPairsBanded(banded, "doc_id"))
    // the melted (id, band, bkey) frame is staged ONCE (HotKeys lazy
    // localCheckpoint) before the bucket cap — the signature kernels run
    // in the checkpoint's lineage only, so the pair plan itself must
    // contain ZERO kernel sites (the round-12 regression was the count
    // branch re-consuming the unstaged lineage: 32 sites, 2x compute)
    val occurrences = "minhash_component".r.findAllIn(p).size
    assert(occurrences == 0, s"signature recomputed ($occurrences kernel sites):\n${p.take(2000)}")
    assert(p.contains("ExistingRDD"), s"melted frame not staged:\n${p.take(2000)}")
    // cap enforcement is NEVER a Window on the content key (a window
    // funnels a hot bucket through one reducer). At fixture scale the
    // adaptive gate measures ZERO over-cap buckets and skips the cap
    // join entirely — the anti-join shape under genuinely-over-cap data
    // is pinned in HotKeysSpec.
    assert(!p.contains("Window"), s"window on a content key:\n${p.take(2000)}")
    // two join-side exchanges on (band,bkey) + the final pair groupBy +
    // the (map-side-combined) over-cap count table
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 4, s"too many exchanges ($exchanges):\n${p.take(3000)}")
  }

  test("over-cap data: the cap is a broadcast anti-join in a REAL operator's plan, never a window") {
    // r14 advisory: the adaptive gate skips the cap join on fixture data,
    // so the per-operator anti-join shape under over-cap data was pinned
    // only by the generic HotKeysSpec frame. This pins it END-TO-END: a
    // bucketCap of 1 makes every multi-member (band, bucket) over cap,
    // so the gate must CHOOSE the anti-join — and the plan must show a
    // broadcast anti-join on the bucket key, no Window. Pinned on the
    // survivor generator (the pre-checkpoint lineage): the symmetric
    // face stages survivors behind a localCheckpoint, which makes the
    // cap join invisible in the FINAL symmetric plan (see the next pin).
    val emb = TableIO.read(spark, Sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 200)
    val p = plan(graft.ext.Similarity.bandSurvivors(
      emb, k = 2, bands = 2, bandPlanes = 3, bucketCap = 1L, probes = 2))
    assert(!p.contains("Window"), s"window on a content key:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"over-cap drop is not a broadcast anti-join:\n${p.take(3000)}")
  }

  test("symmetric banded face: staged survivors, native top-k merge, no Window") {
    // the post-heap symmetrization stages per-band survivor lists behind
    // a lazy localCheckpoint and derives the directed graph from slim
    // rows only — the visible plan must start at the staged survivor
    // frame (read twice: forward + reversal, never re-running discovery),
    // merge the two orientations with a Union, and rank with the native
    // GroupTopK partial/final pair — never a Window, never an embedding
    // column past the checkpoint.
    val emb = TableIO.read(spark, Sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 200)
    val p = plan(graft.ext.Similarity.knnDirectedBanded(
      emb, k = 2, bands = 2, bandPlanes = 3, bucketCap = 1L, probes = 2, symmetric = true))
    assert(!p.contains("Window"), s"window in the symmetric merge:\n${p.take(2000)}")
    assert("ExistingRDD".r.findAllIn(p).size >= 2,
      s"survivor frame not staged (discovery would run twice):\n${p.take(2000)}")
    assert(p.contains("Union"), s"two-orientation union missing:\n${p.take(2000)}")
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"),
      s"final rank is not native GroupTopK:\n${p.take(2000)}")
    assert(!p.contains("embedding"), s"embeddings leaked past the checkpoint:\n${p.take(2000)}")
  }

  test("shard packing is one scan and one hash shuffle (the window key)") {
    val df = SparkEntry.queries("shard_packing")(spark, Sf)
    val p = plan(df)
    assert("FileScan".r.findAllIn(p).size == 1, s"extra scans:\n${p.take(2000)}")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly 1 hash shuffle, got $hashEx:\n${p.take(2000)}")
  }

  test("corpus cleaning composes into one scan plus the dedup window shuffle") {
    val df = SparkEntry.queries("corpus_clean")(spark, Sf)
    val p = plan(df)
    assert("FileScan".r.findAllIn(p).size == 1, s"extra scans:\n${p.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"more than the prefix-key window shuffle:\n${p.take(2000)}")
  }

  test("wide simhash pair join keeps the kernel staged (no re-inlining into Filters)") {
    val df = graft.ext.Dedup.simhashPairsWide(
      TableIO.read(spark, Sf, "documents"), "text", "doc_id")
    val p = plan(df)
    // the exploded block frame is staged (HotKeys) — the sketch kernel
    // runs once in the checkpoint lineage, zero sites in the pair plan
    val occurrences = "simhash_wide".r.findAllIn(p).size
    assert(occurrences == 0, s"sketch recomputed ($occurrences kernel sites):\n${p.take(2000)}")
    assert(p.contains("ExistingRDD"), s"block frame not staged:\n${p.take(2000)}")
    // no Window on the block key; at fixture scale the adaptive gate
    // finds no over-cap block and skips the cap join (HotKeysSpec pins
    // the anti-join under over-cap data)
    assert(!p.contains("Window"),
      s"block cap routed through a Window:\n${p.take(2000)}")
  }

  test("quantization stats run as one kernel call per row, no interpreted lambdas") {
    val df = SparkEntry.queries("embedding_quantize")(spark, Sf)
    val p = plan(df)
    assert("quantize_int8_stats".r.findAllIn(p).size <= 1,
      s"kernel duplicated:\n${p.take(2000)}")
    assert(!p.contains("lambdafunction"), s"interpreted HOF leaked into the plan:\n${p.take(2000)}")
  }

  test("stratified sampling fuses into the scan: one shuffle total (the groupBy)") {
    val p = plan(SparkEntry.queries("stratified_sample")(spark, Sf))
    assert("FileScan".r.findAllIn(p).size == 1, s"extra scans:\n${p.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"sampling must not shuffle before the aggregation:\n${p.take(2000)}")
  }

  test("PII scrub is a pure per-row projection (no hash shuffle at all)") {
    val p = plan(SparkEntry.queries("text_pii_scrub")(spark, Sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      s"scrub should be shuffle-free:\n${p.take(2000)}")
  }

  test("doc length histogram aggregates with map-side combine") {
    val p = plan(SparkEntry.queries("doc_length_hist")(spark, Sf))
    assert(p.contains("partial_count"), s"no partial aggregation:\n${p.take(2000)}")
  }

  test("incremental dedup joins batch against corpus buckets, never corpus against itself") {
    val p = plan(SparkEntry.queries("dedup_incremental")(spark, Sf))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), s"bad join:\n${p.take(2000)}")
    // signatures stay staged (same pushdown discipline as the other LSH paths)
    assert(!p.contains("isnotnull(coalesce(minhash_component"),
      s"signature re-inlined into a Filter:\n${p.take(2000)}")
  }

  test("star join broadcasts the fixed-size dims; SF-scaling dims are left to AQE") {
    val df = SparkEntry.queries("star_join_revenue")(spark, Sf)
    val p = plan(df)
    // only nation (25 rows) and region (5) carry broadcast() hints —
    // customer scales with SF, so the plan must be legal either way:
    // size-based broadcast at fixture scale, shuffle join at 100×.
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2, s"fixed dims not broadcast ($broadcasts):\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), "unexpected cartesian product")
  }

  test("verified near-dup keeps equi-joins only and staged signatures") {
    val p = plan(SparkEntry.queries("neardup_verified")(spark, Sf))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), s"bad join:\n${p.take(2000)}")
    assert(!p.contains("isnotnull(coalesce(minhash_component"),
      s"signature re-inlined into a Filter:\n${p.take(2000)}")
  }

  test("chunk boilerplate stages the chunk pipeline once; only the id spine re-scans") {
    val p = plan(SparkEntry.queries("chunk_boilerplate")(spark, Sf))
    // the (doc, chunk) frame is staged (HotKeys.withKeyCounts) — the
    // chunk/text pipeline runs once in the checkpoint lineage; the only
    // FileScan left in the plan is the id spine the rollup left-joins
    assert("FileScan".r.findAllIn(p).size == 1, s"extra scans:\n${p.take(2000)}")
    assert(p.contains("ExistingRDD"), s"chunk pipeline not staged:\n${p.take(2000)}")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), s"bad join:\n${p.take(2000)}")
  }

  test("semantic dedup broadcasts centroids; cluster pairs are an equi-join") {
    val p = plan(SparkEntry.queries("semantic_dedup")(spark, Sf))
    // assignToCentroids crossJoins a broadcast 8-row centroid frame — the
    // only nested-loop allowed; the intra-cluster pair stage must be a
    // hash/sort-merge equi-join on centroid_id, never a cartesian.
    assert(!p.contains("CartesianProduct"), s"cartesian pair stage:\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids not broadcast:\n${p.take(2000)}")
    assert(p.contains("float_vector_dot"), s"dot kernel missing:\n${p.take(2000)}")
  }

  test("quality model score is a shuffle-free per-row scan") {
    val p = plan(SparkEntry.queries("quality_model_score")(spark, Sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      s"scorer should be shuffle-free:\n${p.take(2000)}")
  }

  test("PQ ADC scan broadcasts the lookup table and keeps the dot kernel staged") {
    val p = plan(SparkEntry.queries("pq_adc_topk")(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), s"LUT not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian in ADC scan:\n${p.take(2000)}")
    assert(p.contains("float_vector_dot"), s"dot kernel missing:\n${p.take(2000)}")
  }

  test("hot-shingle discovery aggregates partially and takes ordered top-N (no full sort)") {
    val p = plan(SparkEntry.queries("hot_shingles")(spark, Sf))
    assert(p.contains("partial_count"), s"no map-side combine:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"), s"full sort instead of top-N:\n${p.take(2000)}")
  }

  test("similarity top-k keeps the codegen'd dot kernel in the plan") {
    val emb = TableIO.read(spark, Sf, "embeddings")
    val p = plan(graft.ext.Similarity.topK(emb.filter(emb("vec_id") < 5), emb, 3))
    assert(p.contains("float_vector_dot"), s"custom kernel missing:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "queries side should broadcast")
  }

  test("Q5-shape join broadcasts the fixed dim and never goes nested-loop") {
    val p = plan(SparkEntry.queries("local_supplier_revenue")(spark, Sf))
    // nation is the only hinted (fixed-size) dim; supplier/customer are
    // SF-scaling and must be broadcastable-or-shuffled at AQE's choice.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, s"nation not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross-dim predicate degraded the join:\n${p.take(2000)}")
  }

  test("scd2 build shuffles once on the key: lag, version, lead share the partitioning") {
    val p = plan(graft.ops.Scd.scd2FromChangeLog(
      TableIO.read(spark, Sf, "events"), "user_id", "ts", "event_id", "event_type"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"SCD-2 should reuse one key shuffle:\n${p.take(2000)}")
  }

  test("gap sessionization shuffles once on the key") {
    val p = plan(graft.ext.StreamingOps.sessionizeByGap(
      TableIO.read(spark, Sf, "events"), "user_id", "ts", "event_id", "30 minutes"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"lag + running sum should share one key shuffle:\n${p.take(2000)}")
  }

  test("sparse cosine pairs joins only through the inverted index — no cartesian") {
    val p = plan(SparkEntry.queries("sparse_cosine_pairs")(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked into the plan:\n${p.take(2000)}")
    // the term-df ceiling is never a Window on the term key (a stop
    // term would funnel through one reducer); at fixture scale the
    // adaptive gate finds no over-ceiling term and skips the join
    assert(!p.contains("Window"),
      s"df ceiling routed through a Window:\n${p.take(2000)}")
  }

  test("knn bucket caps are anti-joins on a staged frame — no Window on the bucket key") {
    val emb = TableIO.read(spark, Sf, "embeddings")
    val pd = plan(graft.ext.Similarity.knnDirected(emb, 3, planes = 4))
    // no Window on the bucket key; the fixture has no over-cap bucket,
    // so the adaptive gate skips the cap join (anti-join shape under
    // over-cap data is pinned in HotKeysSpec)
    assert(!pd.contains("Window"),
      s"single-bucket cap routed through a Window:\n${pd.take(2000)}")
    assert(pd.contains("ExistingRDD"), s"bucketed frame not staged:\n${pd.take(2000)}")
    val pb = plan(graft.ext.Similarity.knnDirectedBanded(emb, 3, bands = 2, bandPlanes = 3))
    assert(!pb.contains("Window"),
      s"banded bucket cap routed through a Window:\n${pb.take(2000)}")
    // base (vec_id, embedding, nrm) staged once for ALL bands — the scan
    // must not reappear per band
    assert(!pb.contains("FileScan"), s"per-band re-scan of the embedding table:\n${pb.take(2000)}")
  }

  test("PQ rerank broadcasts the shortlist and queries, never shuffling the vector store") {
    val p = plan(SparkEntry.queries("pq_rerank_topk")(spark, Sf))
    // ADC LUT + shortlist + query-vector joins: all broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"rerank stage shuffles the store:\n${p.take(2000)}")
  }

  test("salted join stays deterministic: no monotonically_increasing_id in the plan") {
    val orders = TableIO.read(spark, Sf, "orders")
    val dim = TableIO.read(spark, Sf, "customer").withColumnRenamed("c_custkey", "o_custkey")
    val p = plan(graft.ops.Salting.saltedEquiJoin(orders, dim, Seq("o_custkey"), 8))
    assert(!p.contains("monotonically_increasing_id"),
      s"nondeterministic salt (indeterminate-shuffle hazard):\n${p.take(2000)}")
    assert(p.contains("xxhash64"), s"content salt missing:\n${p.take(2000)}")
  }

  test("bloom probe filters map-side, below the distinct's exchange") {
    val p = plan(SparkEntry.queries("bloom_contamination")(spark, Sf))
    // the probe (element_at into the word array) must run BEFORE the
    // (doc, shingle) distinct shuffles — i.e. appear DEEPER in the tree
    // than the first doc-keyed exchange — or the filter discards nothing
    // map-side and the whole corpus shuffles anyway
    val probeAt = p.indexOf("element_at")
    val exchangeAt = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(probeAt > 0 && exchangeAt > 0 && probeAt > exchangeAt,
      s"bloom probe not below the distinct exchange (probe@$probeAt, exchange@$exchangeAt)")
  }

  test("dup-span stats: staged chunk pipeline, no window on the chunk key, text never recomputes") {
    val df = graft.ext.Dedup.dupSpanStats(
      TableIO.read(spark, Sf, "documents"), "doc_id", "text")
    val p = plan(df)
    // the chunk pipeline is staged once (checkpoint) — the text explode
    // must not appear in the final plan at all, for ANY branch
    val textScans = "split\\(text".r.findAllIn(p).size
    assert(textScans == 0, s"text pipeline recomputed ($textScans scan sites)")
    assert(p.contains("ExistingRDD"), s"chunk pipeline not staged:\n${p.take(2000)}")
    // the cross-doc df comes from map-side-combined groupBys + a
    // SHUFFLE_HASH flag join — never a window keyed on the chunk hash
    // (a content key: a boilerplate chunk would own one reducer)
    assert(!"windowspecdefinition\\(__chunk".r.findFirstIn(p).isDefined,
      s"window on the chunk content key:\n${p.take(3000)}")
    assert(p.contains("ShuffledHashJoin"), s"flag join not SHUFFLE_HASH:\n${p.take(3000)}")
    // per-doc windows remain doc-keyed (bounded groups)
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(p).isDefined,
      s"doc-keyed windows missing:\n${p.take(3000)}")
  }

  test("fuzzy linkage: equi-join on the block key, per-partition top-1 before the shuffle") {
    val p = plan(SparkEntry.queries("fuzzy_match_nn")(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking degenerated to all-pairs:\n${p.take(2000)}")
    // Spark's rank-limit pushdown caps each partition at k=1 rows per
    // record BEFORE the exchange — the two-phase top-k shape for free
    assert(p.contains("WindowGroupLimit"), s"no partial group limit:\n${p.take(2000)}")
  }

  test("fuzzy linkage EXECUTED plan: comparison join keeps its pinned parallelism under AQE") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = SparkEntry.queries("fuzzy_match_nn")(spark, Sf)
    // the initial plan always shows the repartition; the failure mode is
    // AQE's size-based coalesce folding the byte-tiny probe side to ONE
    // partition at RUNTIME (join expansion is invisible to the byte
    // heuristic — the 12.5s->1.5s round-6 fix). So assert on the final
    // adaptive plan after a real execution, not the static one.
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // materialized stages are leaf wrappers — collect() does not descend
    // into QueryStageExec.plan, so walk the tree by hand
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Nil
      })).flatMap(allNodes)
    val cmp = allNodes(finalPlan).collect {
      case j: BaseJoinExec if j.condition.exists(_.toString.contains("length")) => j
    }
    assert(cmp.nonEmpty, s"comparison join not found in executed plan:\n${finalPlan.toString.take(2000)}")
    val parts = cmp.map(_.children.map(_.outputPartitioning.numPartitions).max).max
    val pinned = math.max(spark.sparkContext.defaultParallelism * 2,
      spark.sessionState.conf.numShufflePartitions)
    assert(parts >= pinned,
      s"comparison join executed on $parts partitions (pinned $pinned) — AQE coalesce pathology:\n${finalPlan.toString.take(2000)}")
  }

  test("sequence packing chunks the group stream: no full-row window keyed on the group alone") {
    val p = plan(graft.ext.Curation.packSequences(
      TableIO.read(spark, Sf, "documents"), "doc_id", "lang",
      graft.ext.TextOps.tokenCount(org.apache.spark.sql.functions.col("text")), 512L))
    // two-level cumsum: the contiguous range chunking is pinned behind a
    // localCheckpoint (it shows as an RDD scan, not a rangepartitioning
    // exchange — the checkpoint is what makes both consumers share ONE
    // boundary sample); the heavy window is keyed on (group, chunk) so a
    // skewed group parallelizes, and chunk offsets join back broadcast.
    // Multi-chunk behavior itself is proven by the giant-group spec.
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"chunking not pinned behind a checkpoint:\n${p.take(2500)}")
    assert("windowspecdefinition\\(lang#\\d+, __chunk".r.findFirstIn(p).isDefined,
      s"row-stream window not keyed on (group, chunk):\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"), s"chunk offsets not broadcast back:\n${p.take(2500)}")
  }

  test("skew audit is one pass: the grand total reuses the counts shuffle at runtime") {
    val df = graft.ops.Salting.keySkewAudit(
      TableIO.read(spark, Sf, "events"), Seq("user_id"))
    df.collect() // AQE reuses identical shuffle stages at RUNTIME, not in the static plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedQueryStage") || p.contains("ReusedExchange"),
      s"skew audit's total branch re-scanned the input:\n${p.take(2500)}")
  }

  test("cross-source overlap joins only through the content key") {
    val p = plan(SparkEntry.queries("cross_source_overlap")(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"source census went all-pairs:\n${p.take(2000)}")
  }

  test("windowed approx-distinct keeps the distinct-first shape: no Expand, sketch over distinct rows") {
    val p = plan(SparkEntry.queries("window_approx_users")(spark, Sf))
    // a mixed count_distinct + HLL aggregate would plan an Expand (or an
    // extra full-input HLL partial) — the restructure runs the sketch
    // over the post-distinct exchange output (measured 3x cheaper)
    assert(!p.contains("Expand"), s"mixed-distinct aggregate shape returned:\n${p.take(2500)}")
    val aggsBelowDistinct = "partial_approx_count_distinct".r.findAllIn(p).size
    assert(aggsBelowDistinct >= 1 && p.contains("HashAggregate"),
      s"expected HLL partials over the distinct output:\n${p.take(2500)}")
  }

  test("DSIR resampling adds zero exchanges over the stage-1 weights") {
    import org.apache.spark.sql.functions.col
    val docs = TableIO.read(spark, Sf, "documents")
    val stage1 = graft.ext.Curation.importanceWeights(
      docs, "doc_id", "text", isTarget = col("source") === "src0")
    val stage2 = graft.ext.Curation.dsirResample(stage1, "doc_id", capUs = 2000000L)
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size
    val (p1, p2) = (plan(stage1), plan(stage2))
    assert(exchanges(p2) == exchanges(p1),
      s"resampling must be pure per-row arithmetic (stage1 ${exchanges(p1)} vs stage2 ${exchanges(p2)}):\n${p2.take(2500)}")
  }

  test("cdc chunking plans the codegen kernel with zero hash exchanges before the sort") {
    val p = plan(SparkEntry.queries("chunk_cdc")(spark, Sf))
    // the kernel expression — not an interpreted HOF chain — must be the
    // plan's chunker, and chunk explosion is a pure map: the only
    // exchange the registered query carries is the determinism sort's
    // range partitioning
    assert(p.contains("cdc_spans"), s"CdcSpans kernel not in plan:\n${p.take(2500)}")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"chunking must not shuffle (got $hashEx hash exchanges):\n${p.take(2500)}")
  }

  test("bigram surprisal: kernel pair stream, no window over a raw bigram key, text never shuffles") {
    // the kernel lives in the PRE-checkpoint instance lineage (staged
    // once; the registered query's final plan reads the checkpointed RDD)
    val instP = plan(graft.ext.TextOps.bigramInstances(
      TableIO.read(spark, Sf, "documents"), "doc_id", "text"))
    assert(instP.contains("bigram_pairs"), s"BigramPairs kernel not in plan:\n${instP.take(2500)}")
    val p = plan(SparkEntry.queries("lm_bigram_surprisal")(spark, Sf))
    // the round-10 scale-killer was count().over(partitionBy(bh|ph)):
    // a window ships EVERY instance row of a hot bigram to one reducer
    // with no partial aggregation and no AQE split. The fixed shape must
    // carry NO window over the instance stream — counts come from
    // map-side-combined groupBys joined back (broadcast or skew-split).
    assert(!p.contains("Window"), s"instance-stream window reappeared:\n${p.take(3000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"count tables must be partial-aggregated groupBys:\n${p.take(3000)}")
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).hasNext,
      s"text column crossed an exchange:\n${p.take(3000)}")
  }
}
