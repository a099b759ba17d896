package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableIO

/**
 * Scale-curve proof for the most expensive operator families (SURVEY
 * §7.10 / round-9 mandate): the 100 TB posture claims are plan-shape
 * arguments; this measures them. Inputs are builder-generated
 * deterministically from `spark.range` (skew included — NOT a fixture
 * regen) at three sizes per family, 1×/10×/100× of the sf0.1 row counts,
 * STAGED TO PARQUET once (untimed), and each family then runs the same
 * operator code the registered queries run over the stored input.
 *
 * Staging is load-bearing for measurement validity, not convenience: an
 * expensive generator expression (the word-soup `text` column is a
 * 40-element transform+concat_ws) left as lineage gets re-inlined by
 * projection collapse into every downstream consumer — the minhash scan
 * re-evaluated the generator ~8× per row and read 85 s for work that
 * takes 12 s over parquet. Production reads stored columns; the staged
 * measurement is the faithful one.
 *
 * Near-linear wall-time vs rows + bounded post-run heap = the no-scale-
 * killer claim holds; super-linear growth = a real finding to fix.
 * Results: one JSON line per (family, size) to stdout; SCALING.md commits
 * the table.
 *
 * Note on memory: local[32] puts executors in the driver JVM, so
 * "driver memory" here is whole-JVM used heap after a System.gc() —
 * it bounds driver-side accumulation (collects, unbounded maps) but
 * includes executor pages; flatness across 100× input is the signal,
 * not the absolute number.
 */
object ScaleBench {

  private def usedHeapMb(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  /** Write `gen` to parquet once per (name, n) under java.io.tmpdir and
   * hand back the stored frame: the operator under test must consume a
   * scan, not the generator's expression lineage (see class doc). The
   * write happens at plan-build time, BEFORE the timed noop run.
   *
   * CONTRACT: the cache persists across JVMs, gated only on _SUCCESS —
   * when a generator's OUTPUT SCHEMA changes, its key must be renamed
   * (r16 advisor: the r15→r16 survivor-list change would have fed an
   * old-schema directed-edge cache to knnGraphBandedIncremental on any
   * host that ran the r15 bench; the keys are now `knnbsurv*`). */
  private def staged(spark: SparkSession, name: String, n: Long)(gen: => DataFrame): DataFrame = {
    val dir = new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir"), "graft-scalebench"), s"${name}_$n")
    // _SUCCESS, not dir existence: a harness killed mid-write leaves a
    // partial directory that would silently shrink the measured input
    if (!new java.io.File(dir, "_SUCCESS").exists())
      gen.write.mode("overwrite").parquet(dir.toString)
    TableIO.read(spark, dir.toString)
  }

  /** Word-soup documents with near-dups and a hot cluster: every 10th doc
   * duplicates its predecessor (LSH positives) and every 97th collapses
   * onto doc 0's text (one heavy bucket — the bucketCap path). Length
   * 20–59 words, vocabulary 50k, all derived from xxhash64(id). */
  private def docs(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val base = when(pmod(id, lit(10)) === 0 && id > 0, id - 1).otherwise(id)
    val src = when(pmod(id, lit(97)) === 0, lit(0L)).otherwise(base)
    val len = (pmod(xxhash64(src), lit(40)) + lit(20)).cast("int")
    spark.range(n).select(
      id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), len),
        i => concat(lit("w"), pmod(xxhash64(src * 1000 + i), lit(50000))))).as("text"),
      concat(lit("l"), pmod(id, lit(12))).as("lang"))
  }

  /** Zipfian-bigram word soup: every 8th token position is the hot token,
   * so ONE bigram (hot, hot) carries ~1/64 ≈ 1.6 % of ALL bigram
   * instances and the hot CONTEXT ~1/8 — the realistic-frequency shape
   * the uniform 50 k-vocabulary family can't produce. This is the corpus
   * that killed the round-10 window-count surprisal shape (every hot
   * instance row on one reducer); the groupBy+join shape must stay
   * linear here. */
  private def zipfDocs(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val len = (pmod(xxhash64(id), lit(40)) + lit(20)).cast("int")
    spark.range(n).select(
      id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), len),
        i => when(pmod(xxhash64(id * 1000 + i), lit(8)) === 0, lit("zipfhot"))
          .otherwise(concat(lit("w"),
            pmod(xxhash64(id * 1000 + i), lit(50000)))))).as("text"))
  }

  /** Pathological quality-filter corpus: every 997th doc is a 20 000-word
   * monster (~140 KB — the per-row work skew a pure-map scan must absorb
   * without a straggler), every 13th is EMPTY (the zero-guard edges), and
   * every 17th is punctuation-only (alpha-ratio all-fail path). */
  private def pathDocs(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val len = when(pmod(id, lit(997)) === 0, lit(20000))
      .when(pmod(id, lit(13)) === 0, lit(0))
      .otherwise((pmod(xxhash64(id), lit(40)) + lit(20)).cast("int"))
    spark.range(n).select(
      id.as("doc_id"),
      when(len > 0,
        concat_ws(" ", transform(sequence(lit(1), len),
          i => when(pmod(id, lit(17)) === 0, lit("..."))
            .otherwise(concat(lit("w"), pmod(xxhash64(id * 1000 + i), lit(50000)))))))
        .otherwise(lit("")).as("text"))
  }

  /** Extreme-ratio strata: ten single-row strata under one mega stratum
   * holding everything else — a 10⁶× count ratio at the top size. The
   * aggregate stays O(strata) and the ppm thresholds must not overflow
   * or zero out. */
  private def skewStrata(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      when(col("id") < 10, concat(lit("tiny"), col("id")))
        .otherwise(lit("mega")).as("lang"))

  /** Long-token corpus for the BPE segmenter: 20 words of 100-400 chars
   * over a 4-letter alphabet (merges actually fire), the per-row cost
   * profile a whitespace fixture can't exercise. */
  private def longTokenDocs(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(20)), w => {
        val wlen = pmod(xxhash64(id * 31 + w), lit(300)) + lit(100)
        array_join(transform(sequence(lit(1), wlen),
          c => elt((pmod(xxhash64(id * 1000 + w * 37 + c), lit(4)) + 1).cast("int"),
            lit("a"), lit("b"), lit("c"), lit("d"))), "")
      })).as("text"))
  }

  /** Deterministic merge table for the segmenter family: trained once on
   * a driver-side synthetic type table over the same 4-letter alphabet
   * (instant with the incremental trainer; content is representative,
   * the KERNEL scan is the thing under measurement). */
  private lazy val longTokenMerges: Seq[graft.ext.Bpe.MergeRow] = {
    var s = 7L
    def nxt(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 11 }
    val types = (0 until 2000).map { _ =>
      val len = 3 + (nxt() % 10).toInt
      ((0 until len).map(_ => ('a' + (nxt() % 4).toInt).toChar).mkString, 1L + (nxt() % 9))
    }.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) }.toSeq
    graft.ext.Bpe.trainFromTypesIncremental(types, 32)
  }

  /** (id, key, payload) rows with ONE key holding 1 % of all rows and the
   * rest uniform over n/50 keys (~50 rows each) — the adversarial mass
   * concentration for the hotkey_megabucket families. */
  private def hotKeyed(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id"),
      when(pmod(col("id"), lit(100)) === 0, lit(-1L))
        .otherwise(pmod(xxhash64(col("id")), lit(math.max(n / 50, 1L)))).as("key"),
      // bounded payload: a full-range hash would overflow the downstream
      // sum() under ANSI mode at 100M rows
      pmod(xxhash64(col("id") + 7), lit(1000000L)).as("payload"))

  /** 64-dim embedding corpus shared by the kNN families: 3% of vectors
   * collapse onto one hot direction (the bucketCap path), the rest are
   * hash-uniform in [-1, 1]. */
  private def knnEmbeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        when(pmod(col("id"), lit(33)) === 0,
            // hot cluster: same direction, tiny deterministic jitter
            (pmod(xxhash64(i), lit(1000)) / lit(1000.0f) +
              pmod(xxhash64(col("id") * 64 + i), lit(7)) / lit(1000.0f)).cast("float"))
          .otherwise(
            ((pmod(xxhash64(col("id") * 64 + i), lit(2001)) - lit(1000)) / lit(1000.0f))
              .cast("float"))).as("embedding"))

  /** Chain-heavy candidate graph: blocks of 1000 sequential edges (depth
   * a propagation algorithm would need 1000 rounds for — exactly what
   * large-star/small-star's O(log n) exists to kill) plus 2% random
   * shortcut edges and a hot star at node 0. */
  private def edges(spark: SparkSession, n: Long): DataFrame = {
    val chain = spark.range(n).select(
      col("id").as("id_a"),
      when(pmod(col("id"), lit(1000)) === 999, col("id") - 999)
        .otherwise(col("id") + 1).as("id_b"))
    val shortcuts = spark.range(n / 50).select(
      pmod(xxhash64(col("id")), lit(n)).as("id_a"),
      pmod(xxhash64(col("id") + 7), lit(n)).as("id_b"))
    val star = spark.range(n / 100).select(
      lit(0L).as("id_a"), pmod(xxhash64(col("id") + 13), lit(n)).as("id_b"))
    chain.union(shortcuts).union(star)
  }

  /** Blocked linkage input: ~25-row blocks whose NUMBER scales with rows
   * (the scale path — block size is the bounded quantity), names short
   * enough that levenshtein is the per-pair cost, not string transport. */
  private def names(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("rec_id"),
      concat(lit("name "),
        pmod(xxhash64(col("id")), lit(1000)),
        lit(" v"), pmod(xxhash64(col("id") + 3), lit(30))).as("name"),
      concat(lit("b"), (col("id") / 25).cast("long")).as("block"))

  /** TPC-H-shaped star schema at any SF: 4 lineitems per order, mild
   * orderkey skew (2% of lines land on order 0), dims scale with SF
   * except nation/region (fixed, broadcast-hinted in the query). */
  private def star(spark: SparkSession, nLine: Long): Map[String, DataFrame] = {
    val nOrd = nLine / 4
    val nCust = math.max(nOrd / 10, 1)
    Map(
      "lineitem" -> spark.range(nLine).select(
        when(pmod(col("id"), lit(50)) === 0, lit(0L))
          .otherwise(col("id") / 4).as("l_orderkey"),
        (pmod(xxhash64(col("id")), lit(10000)) / lit(100.0) + 1.0).as("l_extendedprice"),
        (pmod(xxhash64(col("id") + 1), lit(10)) / lit(100.0)).as("l_discount")),
      "orders" -> spark.range(nOrd).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id")), lit(nCust)).as("o_custkey")),
      "customer" -> spark.range(nCust).select(
        col("id").as("c_custkey"), pmod(col("id"), lit(25)).cast("int").as("c_nationkey")),
      "nation" -> spark.range(25).select(
        col("id").cast("int").as("n_nationkey"), pmod(col("id"), lit(5)).cast("int").as("n_regionkey")),
      "region" -> spark.range(5).select(
        col("id").cast("int").as("r_regionkey"), concat(lit("R"), col("id")).as("r_name")))
  }

  /** Skewed packing corpus: two thirds of all rows share one group (the
   * r7 skew lesson), token counts 1–400, no text materialized — the
   * packing arithmetic is the thing under test. */
  private def packInput(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(3)) < 2, lit("hot"))
        .otherwise(concat(lit("g"), pmod(col("id"), lit(200)))).as("lang"),
      (pmod(xxhash64(col("id")), lit(400)) + 1).as("n_tok"))

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.harness(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // task-metric probe: shuffle/spill/peak-memory per (family, size) —
    // the shuffle-BYTE curve is the scale evidence wall time can't give
    // (a shuffle blow-up that fits local page cache is invisible in
    // seconds but saturates a real cluster's fabric)
    val probe = new org.apache.spark.sql.graft.TaskMetricsProbe
    spark.sparkContext.addSparkListener(probe)
    import graft.ext.{Curation, Dedup, Linkage, TextOps}

    // family name -> (sizes, runner). Sizes are 1x/10x/100x of the sf0.1
    // row counts for that family's input.
    val families: Seq[(String, Seq[Long], (SparkSession, Long) => DataFrame)] = Seq(
      ("dedup_minhash_banded", Seq(5000L, 50000L, 500000L),
        (s, n) => Dedup.minhashPairsBanded(
          Dedup.withBandKeys(staged(s, "docs", n)(docs(s, n)), "text"),
          "doc_id", bucketCap = 50)),
      // localMaxEdges = 0: measure the DISTRIBUTED O(log n) rounds — the
      // default small-graph union-find path would absorb every size here
      ("dedup_clusters_star", Seq(20000L, 200000L, 2000000L),
        (s, n) => Dedup.connectedComponentsStar(
          staged(s, "edges", n)(edges(s, n)), "id_a", "id_b", localMaxEdges = 0L)),
      ("fuzzy_match_nn", Seq(20000L, 200000L, 2000000L),
        (s, n) => Linkage.nearestInBlock(
          staged(s, "names", n)(names(s, n)), "rec_id", "name",
          blockCols = Seq("block"), maxDist = 3, blockCap = 10000L)),
      ("star_join_revenue", Seq(600000L, 6000000L, 60000000L),
        (s, n) => {
          val t = star(s, n).map { case (name, df) => name -> staged(s, name, n)(df) }
          val (li, o, c, nt, r) =
            (t("lineitem"), t("orders"), t("customer"), t("nation"), t("region"))
          li.join(o, li("l_orderkey") === o("o_orderkey"))
            .join(c, o("o_custkey") === c("c_custkey"))
            .join(broadcast(nt), c("c_nationkey") === nt("n_nationkey"))
            .join(broadcast(r), nt("n_regionkey") === r("r_regionkey"))
            .groupBy(r("r_name"))
            .agg(count(lit(1)).as("n_items"),
              sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
                .cast("decimal(18,6)")).cast("double").as("revenue"))
        }),
      ("sequence_pack", Seq(100000L, 1000000L, 10000000L),
        (s, n) => Curation.packSequences(
          staged(s, "pack", n)(packInput(s, n)), "doc_id", "lang",
          col("n_tok"), seqLen = 512L)),
      // the custom Catalyst operator under BOTH its stress axes at once:
      // group cardinality scales with rows (n/100 groups — the partial
      // exec's heap-map pressure) while one hot group holds 10% of the
      // corpus (the per-group work skew). k=3 like the registered query.
      ("grouptopk_native", Seq(50000L, 500000L, 5000000L),
        (s, n) => {
          val in = staged(s, "topkin", n)(s.range(n).select(
            col("id").as("doc_id"),
            when(pmod(col("id"), lit(10)) === 0, lit("hot"))
              .otherwise(concat(lit("g"), pmod(xxhash64(col("id")), lit(n / 100)))).as("grp"),
            pmod(xxhash64(col("id") + 5), lit(1000000L)).as("score")))
          org.apache.spark.sql.graft.plans.GroupTopK.topkPerKey(
            in, Seq("grp"), Seq(col("score").desc, col("doc_id").asc), k = 3)
        }),
      // union-tag as-of (ONE key shuffle, no join): left 10× the right,
      // key count scales with rows, user 0 hot with 5% of both sides —
      // the window-sort skew a real event stream would bring.
      ("asof_join", Seq(100000L, 1000000L, 10000000L),
        (s, n) => {
          val nUsers = math.max(n / 100, 1)
          def usr(c: Column) = when(pmod(c, lit(20)) === 0, lit(0L))
            .otherwise(pmod(xxhash64(c), lit(nUsers)))
          val left = staged(s, "asof_left", n)(s.range(n).select(
            col("id").as("event_id"), usr(col("id")).as("user_id"),
            pmod(xxhash64(col("id") + 1), lit(1000000000L)).as("ts_us")))
          val right = staged(s, "asof_right", n)(s.range(n / 10).select(
            usr(col("id") + 3).as("user_id"),
            pmod(xxhash64(col("id") + 4), lit(1000000000L)).as("ts_us")))
          graft.ext.TemporalJoins.asofBackward(
            left, right, Seq("user_id"), "ts_us", "matched_ts")
        }),
      // inverted-index sparse cosine under a hot-term corpus: the
      // every-97th hot-text docs create terms whose df blows past the
      // ceiling (dropped whole — the prefix-filter bound), near-dup
      // chains supply the df 2-3 terms that drive real pairs
      ("sparse_cosine_pairs", Seq(5000L, 50000L, 500000L),
        (s, n) => TextOps.sparseCosinePairs(
          Dedup.withShingleHashes(staged(s, "docs", n)(docs(s, n)), "text"),
          "doc_id", Dedup.ShinglesCol, minDot = 1L, maxTermDf = 20L)),
      // bucket-decomposed range join with constant match density: the ts
      // domain scales with rows (100 µs/row) and the window is 10 ms, so
      // every left row matches ~10 right rows at EVERY size — output and
      // work stay linear, which is exactly what the bucket decomposition
      // must deliver (a nested-loop plan would be quadratic per key).
      // user 0 is hot with 5 % of both sides.
      ("range_join", Seq(100000L, 1000000L, 10000000L),
        (s, n) => {
          val nUsers = math.max(n / 100, 1)
          def usr(c: Column) = when(pmod(c, lit(20)) === 0, lit(0L))
            .otherwise(pmod(xxhash64(c), lit(nUsers)))
          val left = staged(s, "range_left", n)(s.range(n).select(
            usr(col("id")).as("user_id"),
            timestamp_micros(pmod(xxhash64(col("id") + 1), lit(n * 100))).as("ts_us")))
          val right = staged(s, "range_right", n)(s.range(n / 10).select(
            usr(col("id") + 3).as("user_id"),
            timestamp_micros(pmod(xxhash64(col("id") + 4), lit(n * 100))).as("ts_us")))
          graft.ext.TemporalJoins.rangeJoinBucketed(
              left, right, Seq("user_id"), "ts_us", windowMicros = 10000L)
            .groupBy("user_id").agg(count(lit(1)).as("n_matches"))
        }),
      // gap sessionization: per-user window sort with one hot user at
      // 5 % of all events — the skewed-window shape every event pipeline
      // hits; state is one lag per row, cost must track the sort
      ("sessionize_gaps", Seq(100000L, 1000000L, 10000000L),
        (s, n) => {
          val nUsers = math.max(n / 200, 1)
          val ev = staged(s, "sess_events", n)(s.range(n).select(
            when(pmod(col("id"), lit(20)) === 0, lit(0L))
              .otherwise(pmod(xxhash64(col("id")), lit(nUsers))).as("user_id"),
            col("id").as("event_id"),
            timestamp_micros(
              pmod(xxhash64(col("id") + 9), lit(86400L * 1000000L))).as("ts")))
          graft.ext.StreamingOps.sessionizeByGap(ev, "user_id", "ts", "event_id", "15 minutes")
        }),
      // 5-round fixed-point PageRank over the chain-heavy graph (same
      // adversarial edge set as star-CC: 1000-deep chains + hot star at
      // node 0 + shortcuts). Per-round cost must be linear in |E|; the
      // broadcast-vs-shuffle strategy flips on the node-count threshold.
      // localMaxEdges = 0: this family measures the DISTRIBUTED rounds —
      // the default small-graph local path (spec-pinned bit-equal) would
      // otherwise absorb every size here
      ("pagerank", Seq(20000L, 200000L, 2000000L),
        (s, n) => graft.ext.Graph.pageRankFixed(
          staged(s, "edges", n)(edges(s, n)), "id_a", "id_b", iters = 5,
          localMaxEdges = 0L)),
      // content-defined chunking + corpus-wide repeat rollup: the
      // CdcSpans kernel is a per-row O(len) scan, then ONE shuffle on the
      // chunk hash; near-dup chains (every 10th doc) and the hot cluster
      // (every 97th) make repeated chunks real, not empty output.
      ("chunk_cdc", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val ch = TextOps.cdcChunks(staged(s, "docs", n)(docs(s, n)), "doc_id", "text")
          ch.filter(col("c_len") > 0)
            .groupBy("c_hash")
            .agg(count(lit(1)).as("n_occurrences"))
            .filter(col("n_occurrences") > 1)
        }),
      // bigram-LM surprisal: kernel-hashed pair stream through three key
      // shuffles (bigram, context, doc) over the 50 k-token vocabulary —
      // the count-table cardinality scales with DISTINCT bigrams, the
      // axis the fixtures' 31-token vocabulary couldn't exercise.
      ("bigram_surprisal", Seq(5000L, 50000L, 500000L),
        (s, n) => TextOps.bigramSurprisal(
          staged(s, "docs", n)(docs(s, n)), "doc_id", "text")),
      // the round-11 surprisal shape under a HOT bigram (~1.6 % of all
      // instances on one bh key, ~12.5 % on one ph key): the groupBy
      // count tables collapse the hot keys map-side; the joins back are
      // skew-splittable. Linear CPU here is what the round-10 window
      // shape could not deliver.
      ("bigram_surprisal_zipf", Seq(5000L, 50000L, 500000L),
        (s, n) => graft.ext.TextOps.bigramSurprisal(
          staged(s, "zipfdocs", n)(zipfDocs(s, n)), "doc_id", "text")),
      // stupid-backoff trigram LM on the Zipfian corpus (one bigram at
      // ~1.6 % of all instances, hot token at 12.5 %): train counts on
      // 80 %, score the held-out 20 % — five SHUFFLE_HASH joins against
      // map-side-combined count tables, the X4h skew discipline at
      // trigram cardinality (distinct trigrams grow ~linearly with the
      // corpus, so the count tables are the large side here).
      ("trigram_backoff_zipf", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val d = staged(s, "zipfdocs", n)(zipfDocs(s, n))
          TextOps.trigramBackoffSurprisal(
            d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
            d.filter(pmod(col("doc_id"), lit(5)) === 0),
            "doc_id", "text")
        }),
      // gopherRules over pathological docs (20k-word monsters, empties,
      // punctuation-only): a shuffle-free scan whose per-row work skews
      // 1000× — cost must track total BYTES, heap must stay flat
      ("gopher_pathological", Seq(5000L, 50000L, 500000L),
        (s, n) => graft.ext.TextOps.gopherRules(
          staged(s, "pathdocs", n)(pathDocs(s, n)), "doc_id", "text")),
      // temperature sampling with a 10^6x stratum-count ratio: the
      // O(strata) broadcast aggregate and integer-ppm thresholds under
      // the most extreme mixture a multilingual corpus plausibly has
      ("temperature_sample_skew", Seq(100000L, 1000000L, 10000000L),
        (s, n) => graft.ext.Curation.temperatureAnnotate(
          staged(s, "skewstrata", n)(skewStrata(s, n)), "lang", col("doc_id"))),
      // BPE segmenter kernel on 100-400-char tokens under 32 trained
      // merges: per-row cost is merges x chars — the long-token profile
      // the 4-8-char fixture vocabulary never exercises
      ("bpe_segment_long", Seq(1000L, 10000L, 100000L),
        (s, n) => graft.ext.Bpe.segmentCounts(
          staged(s, "longtok", n)(longTokenDocs(s, n)), "doc_id", "text",
          longTokenMerges)),
      // BM25 more-like-this over the hot-cluster corpus: every 97th doc
      // shares doc 0's text, so each of its shingles reaches df ≈ n/97 —
      // 250× the maxDf=20 ceiling at the top size. The ceiling must drop
      // those posting lists BEFORE the query join (the Zipf stopword
      // guard; without it the hot postings × query-term product is the
      // quadratic), while the near-dup chains supply the df 2-3 terms
      // that actually score. Linear postings volume under Zipfian df is
      // the claim measured.
      ("bm25", Seq(5000L, 50000L, 500000L),
        (s, n) => TextOps.bm25MoreLikeThis(
          staged(s, "docs", n)(docs(s, n)), "doc_id", "text",
          nQueries = 8, k = 10, maxDf = 20L)),
      // Naive Bayes train + classify end-to-end over the 12-label,
      // 50 k-vocabulary corpus: training's groupBy(label, h) output is
      // VOCABULARY-bounded (600 k rows at every corpus size — the
      // map-side combine claim), the pruned model (12 k rows) broadcasts,
      // and classification shuffles only (doc, class)-collapsed rows
      // keyed by doc_id — a Zipfian-hot token is never a shuffle key.
      ("nb_classify", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val d = staged(s, "docs", n)(docs(s, n))
          graft.ext.NaiveBayes.classify(
            d, graft.ext.NaiveBayes.train(d, "doc_id", "text", "lang"),
            "doc_id", "text")
        }),
      // fixed-point PCA end-to-end (second-moment pass + driver-side
      // power loop + projection pass): two linear scans of the corpus;
      // the aggregation shuffle must carry ONE (1+d²)-long buffer per
      // partition REGARDLESS of rows — flat shuffle bytes alongside
      // linear CPU is the claim; the hot cluster (every 33rd vector on
      // one direction) makes the recovered top direction real.
      ("pca_project", Seq(20000L, 200000L, 2000000L),
        (s, n) => graft.ext.Linalg.pcaProjectTop(
          staged(s, "embs", n)(knnEmbeddings(s, n)), "vec_id", "embedding")),
      // the SQ8 serving pair: identical 10-query workload, float brute
      // force vs the int8-coded shortlist + exact re-rank over the
      // STAGED stored tier (production scans codes, not floats). Both
      // must be linear; measured (SCALING.md r15) the 2M point sits at
      // CPU PARITY (65 vs 62 CPU-s min) because the 20M-row shortlist
      // rank dominates both — the SQ8 win here is the ¼-width in-memory
      // tier (array<byte>), not the pair loop.
      ("topk_brute", Seq(20000L, 200000L, 2000000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          graft.ext.Similarity.topK(emb.filter(col("vec_id") < 10), emb, k = 10)
        }),
      ("topk_sq8", Seq(20000L, 200000L, 2000000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          val coded = staged(s, "sq8", n)(graft.ext.Similarity.sq8Coded(emb))
          graft.ext.Similarity.topKSq8Coded(
            emb.filter(col("vec_id") < 10), coded, emb, k = 10, shortlistFactor = 4)
        }),
      // banded multi-bucket kNN under the banded plane-growth contract:
      // per-band planes = single-bucket rule + ceil(log2(bands)), so the
      // TOTAL candidate volume (B · N²/2^P′) matches the single-bucket
      // budget while recall rises (any-band-agrees). Without the
      // correction the first measurement tripled the candidate stream
      // and the dedup/rank stages spilled ~97 GB at 500 k rows.
      ("knn_banded", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          val bands = 3
          val rule = math.max(8, (math.log(n.toDouble / 32.0) / math.log(2)).ceil.toInt)
          val bandPlanes = math.min(rule + (math.log(bands.toDouble) / math.log(2)).ceil.toInt, 20)
          graft.ext.Similarity.knnGraphBanded(emb, k = 4, bands = bands,
            bandPlanes = bandPlanes, bucketCap = 2000L)
        }),
      // the r13 multi-probe recall lever under the SAME P' growth
      // contract: 2 probes double per-band candidate volume by a
      // CONSTANT, so the curve must stay linear with roughly 2x the
      // knn_banded cost — the "measured linear cost" half of the
      // >=500k-ppm recall claim
      ("knn_banded_multiprobe", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          val bands = 3
          val rule = math.max(8, (math.log(n.toDouble / 32.0) / math.log(2)).ceil.toInt)
          val bandPlanes = math.min(rule + (math.log(bands.toDouble) / math.log(2)).ceil.toInt, 20)
          graft.ext.Similarity.knnGraphBanded(emb, k = 4, bands = bands,
            bandPlanes = bandPlanes, bucketCap = 2000L, probes = 2)
        }),
      // the SYMMETRIZED-discovery face (what knn_communities consumes;
      // post-heap since r16): the cosine volume AND heap volume equal the
      // multiprobe family's — symmetrization is a slim survivor-list
      // reversal after the heaps — so the claim is the same linear curve
      // at a near-zero constant over knn_banded_multiprobe, zero spill
      ("knn_banded_sym", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          val bands = 3
          val rule = math.max(8, (math.log(n.toDouble / 32.0) / math.log(2)).ceil.toInt)
          val bandPlanes = math.min(rule + (math.log(bands.toDouble) / math.log(2)).ceil.toInt, 20)
          graft.ext.Similarity.knnGraphBanded(emb, k = 4, bands = bands,
            bandPlanes = bandPlanes, bucketCap = 2000L, probes = 2, symmetric = true)
        }),
      // the r13 end-to-end pipeline composition over the near-dup-heavy
      // docs corpus: six chained stages, each staged once; the claim is
      // that COMPOSITION adds no super-linear term beyond its parts
      ("pipeline_e2e", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val d = staged(s, "docs", n)(docs(s, n))
          graft.ext.Pipeline.curationPipeline(
            d.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))),
            "doc_id", "text", "lang", "source",
            bounds = graft.ext.TextOps.GopherBounds(minWords = 20, maxWords = 80))
        }),
      // r14 incremental pipeline: corpus FIXED at 500 k (the stored-state
      // ledger is staged to parquet once, outside the clock — production
      // reads it as tables), delta grows 1% -> 10% -> 100%. The claim:
      // ingest cost scales with the DELTA and its touched footprint, and
      // at delta == corpus it approaches (never exceeds by more than the
      // state-scan floor) the 500 k pipeline_e2e rebuild cost — the same
      // regime boundary knn_incremental documents. Stages 5/6 and the
      // census aggregates are corpus-linear state SCANS by design (the
      // documented floor); the expensive kernels run on delta+touched only.
      ("pipeline_incremental", Seq(5000L, 50000L, 500000L),
        (s, nd) => {
          val corpusN = 500000L
          val b = graft.ext.TextOps.GopherBounds(minWords = 20, maxWords = 80)
          def withSrc(d: org.apache.spark.sql.DataFrame) =
            d.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
          val corpus = withSrc(staged(s, "docs", corpusN)(docs(s, corpusN)))
          // the stored ledger: built once, each frame staged to parquet
          // (keyed by corpusN, so all three delta sizes share it)
          lazy val st0 = graft.ext.PipelineIncremental.curationState(
            corpus, "doc_id", "text", "lang", "source", bounds = b)
          val st = graft.ext.PipelineIncremental.CurationState(
            train0 = staged(s, "pinc_train0", corpusN)(st0.train0),
            kept1 = staged(s, "pinc_kept1", corpusN)(st0.kept1),
            chunks = staged(s, "pinc_chunks", corpusN)(st0.chunks),
            chunkDf = staged(s, "pinc_chunkdf", corpusN)(st0.chunkDf),
            kept2 = staged(s, "pinc_kept2", corpusN)(st0.kept2),
            melted = staged(s, "pinc_melted", corpusN)(st0.melted),
            verifiedTagged = staged(s, "pinc_vtag", corpusN)(st0.verifiedTagged),
            shingles = staged(s, "pinc_shingles", corpusN)(st0.shingles),
            evalSh = staged(s, "pinc_evalsh", corpusN)(st0.evalSh),
            contaminated = staged(s, "pinc_contam", corpusN)(st0.contaminated))
          // delta = the NEXT nd docs of the same stream: fresh texts,
          // with the generator's natural near-dup seam at the boundary
          val delta = withSrc(staged(s, s"pinc_delta", nd)(
            docs(s, corpusN + nd).filter(col("doc_id") >= corpusN)))
          graft.ext.PipelineIncremental.curationPipelineIncremental(
            st, delta, "doc_id", "text", "lang", "source", bounds = b)
        }),
      // incremental kNN maintenance with a realistic 1% ingest batch;
      // the stored state (base directed edges) is STAGED — the measured
      // cost is the per-batch ingest. The op's floor is one linear
      // corpus re-bucketing scan (production stores the bucket index as
      // state and skips even that); the SAVINGS are in the quadratic
      // candidate stage, which runs only over the delta's bucket
      // footprint — a 10% delta at these bucket counts touches
      // essentially every bucket and degenerates to rebuild cost
      // (measured: 155 vs 108 rebuild CPU-s at 500 k), which is exactly
      // the regime boundary the operator contract documents
      ("knn_incremental", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          val planes = math.max(8, (math.log(n.toDouble / 32.0) / math.log(2)).ceil.toInt)
          val base = emb.filter(pmod(col("vec_id"), lit(100)) =!= 99)
          val delta = emb.filter(pmod(col("vec_id"), lit(100)) === 99)
          val state = staged(s, s"knnstate_p$planes", n)(
            graft.ext.Similarity.knnDirected(base, k = 4, planes = planes, bucketCap = 2000L))
          graft.ext.Similarity.knnGraphIncremental(base, delta, state,
            k = 4, planes = planes, bucketCap = 2000L)
        }),
      // r14 banded-incremental: same 1% delta against the stored BANDED
      // multi-probe state (the production face of the communities graph).
      // A query recomputes only if one of its PROBED (band, bucket) keys
      // is delta-touched. A UNIFORM delta is the measured WORST case —
      // 5 k uniform vectors touch ~60% of all (band, bucket) keys and a
      // 2-probe query tests six of them, so essentially every query is
      // affected and cost ≈ rebuild + state scans (695 vs 713 CPU-s at
      // 500 k) — the same regime boundary knn_incremental documents. The
      // win regime is a LOCALIZED batch (knn_banded_incr_local below).
      ("knn_banded_incremental", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          val bands = 3
          val rule = math.max(8, (math.log(n.toDouble / 32.0) / math.log(2)).ceil.toInt)
          val bandPlanes = math.min(rule + (math.log(bands.toDouble) / math.log(2)).ceil.toInt, 20)
          val base = emb.filter(pmod(col("vec_id"), lit(100)) =!= 99)
          val delta = emb.filter(pmod(col("vec_id"), lit(100)) === 99)
          val state = staged(s, s"knnbsurv_p$bandPlanes", n)(
            graft.ext.Similarity.bandSurvivors(base, k = 4, bands = bands,
              bandPlanes = bandPlanes, bucketCap = 2000L, probes = 2))
          graft.ext.Similarity.knnGraphBandedIncremental(base, delta, state,
            k = 4, bands = bands, bandPlanes = bandPlanes, bucketCap = 2000L,
            probes = 2, symmetric = true)
        }),
      // the banded-incremental WIN regime: a LOCALIZED 1% batch (new
      // content in one embedding direction — the production shape of an
      // ingest dominated by a new source/topic). The delta's true buckets
      // concentrate in the cluster's few (band, bucket) keys, so the
      // affected-query footprint is the cluster neighborhood, not the
      // corpus — cost should sit far under both the uniform-delta case
      // and the rebuild, at the linear re-bucketing floor.
      ("knn_banded_incr_local", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          val bands = 3
          val rule = math.max(8, (math.log(n.toDouble / 32.0) / math.log(2)).ceil.toInt)
          val bandPlanes = math.min(rule + (math.log(bands.toDouble) / math.log(2)).ceil.toInt, 20)
          val delta = staged(s, "embsloc", n)(
            s.range(n, n + math.max(n / 100, 50)).select(
              col("id").as("vec_id"),
              transform(sequence(lit(1), lit(64)), i =>
                (pmod(xxhash64(i), lit(1000)) / lit(1000.0f) +
                  pmod(xxhash64(col("id") * 64 + i), lit(7)) / lit(1000.0f))
                  .cast("float")).as("embedding")))
          val state = staged(s, s"knnbsurvF_p$bandPlanes", n)(
            graft.ext.Similarity.bandSurvivors(emb, k = 4, bands = bands,
              bandPlanes = bandPlanes, bucketCap = 2000L, probes = 2))
          graft.ext.Similarity.knnGraphBandedIncremental(emb, delta, state,
            k = 4, bands = bands, bandPlanes = bandPlanes, bucketCap = 2000L,
            probes = 2, symmetric = true)
        }),
      // mutual k-NN graph: the per-bucket quadratic is the risk — the
      // plane count must grow with N (P = log2(N/32) here, the operator's
      // documented scaling rule) and 3% of vectors collapse onto one hot
      // embedding so the bucketCap actually fires. Linear CPU/shuffle
      // under GROWING P is the claim being measured.
      ("knn_graph", Seq(5000L, 50000L, 500000L),
        (s, n) => {
          val emb = staged(s, "embs", n)(knnEmbeddings(s, n))
          val planes = math.max(8, (math.log(n.toDouble / 32.0) / math.log(2)).ceil.toInt)
          graft.ext.Similarity.knnGraphMutual(emb, k = 4, planes = planes, bucketCap = 2000L)
        }),
      // THE hot-key cap enforcement itself, isolated: ONE key carries 1 %
      // of corpus mass (a mega LSH bucket / stop shingle / degenerate
      // linkage block — the mass concentration every cap in this library
      // exists to drop), the rest spread uniformly (~50 rows/key). The
      // claim under measurement: HotKeys.dropOverCap (map-side-combined
      // count + broadcast anti-join over a staged input) keeps CPU linear
      // and per-task peak FLAT as the hot key grows 1x/10x/100x, because
      // the hot key's rows collapse map-side and never shuffle. The
      // _window companion family below is the shape it replaced — its
      // one-reducer funnel is the curve to contrast in SCALING.md.
      // stage = false: the input here IS a stored parquet scan — the
      // staging lever exists for expensive kernel lineage (minhash,
      // simhash, chunk pipelines), and the first cut of this family
      // measured what staging a cheap scan costs instead (cache write of
      // the full corpus: 9 GB heap and super-linear CPU at 100M rows).
      // With stage = false the shape is two pruned scans (count branch +
      // anti-join branch), zero cache, and the hot key never shuffles.
      // downstream consumer is a GLOBAL aggregate (map-side partials, no
      // keyed shuffle of its own) so the measured shuffle bytes isolate
      // the cap-ENFORCEMENT shapes: this one's count branch map-side
      // combines (only (key, n) partials shuffle) and the over-cap list
      // anti-joins broadcast — the corpus itself never crosses the wire
      ("hotkey_megabucket", Seq(1000000L, 10000000L, 100000000L),
        (s, n) => {
          val in = staged(s, "hotkey", n)(hotKeyed(s, n))
          graft.ext.HotKeys.dropOverCap(in, Seq("key"), cap = 1000L, stage = false)
            .agg(count(lit(1)).as("n"), sum("payload").as("p"))
        }),
      // the count-over-Window shape this library removed, same input —
      // the contrast curve: the ENTIRE corpus shuffles on the key and the
      // 1%-mass key's rows all funnel through the one reducer that owns
      // them (per-task peak grows with the hot key's mass; the anti-join
      // form's stays flat)
      ("hotkey_megabucket_window", Seq(1000000L, 10000000L, 100000000L),
        (s, n) => {
          val in = staged(s, "hotkey", n)(hotKeyed(s, n))
          in.withColumn("__n", count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy("key")))
            .filter(col("__n") <= 1000L).drop("__n")
            .agg(count(lit(1)).as("n"), sum("payload").as("p"))
        }),
      // S4/A3 counter_merge (the grouped exact-DECIMAL delta sum),
      // r16-verdict adjudication condition (c): the fixed-cost carve-out
      // needs the shape proven LINEAR with a skewed PK. Same hotKeyed
      // input as the cap families — ONE key owns 1 % of all delta rows
      // (the hottest counter a migrate ever merges), the rest ~50
      // rows/key. groupBy+sum map-side combines, so the hot key's rows
      // collapse to one partial per task and never mass on the wire;
      // linear cpu_sec + flat per-task peak = no hot-reducer risk at
      // 100 TB, and the sf0.1 wall number is pure fixed overhead.
      ("counter_merge", Seq(1000000L, 10000000L, 100000000L),
        (s, n) => {
          val in = staged(s, "hotkey", n)(hotKeyed(s, n))
          graft.ops.Counters.mergeDeltas(in, Seq("key"), "payload")
        }))

    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").map(_.trim).toSet) else None

    families.filter { case (f, _, _) => only.forall(_.contains(f)) }
      .foreach { case (family, sizes, run) =>
        sizes.foreach { n =>
          // pass 1: stages the parquet inputs and pays codegen/JIT.
          // Cannot be a mere plan-build — the iterative operators
          // (star-CC) execute EAGERLY when the frame is constructed, so
          // the only way to keep them on the clock is to run the whole
          // thing twice. Pass 1's CPU is ALSO measured (minus a separate
          // staging prefix measurement is impractical, but staging cost
          // is IO-dominated) and the reported cpu_sec is the MIN of the
          // two passes: at the largest sizes AQE can flip a join between
          // broadcast and SMJ run-to-run near the size threshold, and
          // JIT state drifts — a single sample can read 5× off; the min
          // of two is the steadier figure for a curve.
          probe.drain(spark.sparkContext)
          probe.reset()
          run(spark, n).write.mode("overwrite").format("noop").save()
          probe.drain(spark.sparkContext)
          val cpu1 = probe.cpuTimeNs.get
          probe.reset()
          val t0 = System.nanoTime()
          run(spark, n).write.mode("overwrite").format("noop").save()
          val sec = (System.nanoTime() - t0) / 1e9
          probe.drain(spark.sparkContext)
          val heap = usedHeapMb()
          def mb(b: Long): Long = b / (1024 * 1024)
          // cpu_sec (summed task CPU) is the primary scale metric: this
          // harness runs on a shared VM with 20-44% hypervisor steal,
          // which makes wall seconds jump 2-20× run-to-run; CPU seconds
          // and shuffle bytes are steal-immune
          println(f"""{"family":"$family","rows":$n,"sec":${math.rint(sec * 100) / 100},""" +
            f""""cpu_sec":${math.rint(math.min(cpu1, probe.cpuTimeNs.get) / 1e7) / 100},"heap_mb":$heap,""" +
            f""""shuffle_write_mb":${mb(probe.shuffleWriteB.get)},"shuffle_read_mb":${mb(probe.shuffleReadB.get)},""" +
            f""""spill_mb":${mb(probe.spilledB.get)},"peak_task_exec_mb":${mb(probe.peakTaskExecB.get)}}""")
        }
      }
    spark.stop()
  }
}
