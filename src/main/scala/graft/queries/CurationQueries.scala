package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.{Curation, TextOps}
import graft.io.TableIO

/**
 * Corpus-curation queries (ext/Curation + the TextOps PII/diversity
 * additions): the selection/mixing steps of a training-data pipeline —
 * group-wise top-k, stratified sampling, cross-source survivor dedup,
 * length histograms, PII scrubbing, lexical-diversity scoring.
 */
object CurationQueries {

  /** Mirror of Curation.importanceWeights up to the per-doc score: hashed
   * token buckets (`tok`), target-vs-raw bucket weights in µ-units (`w`)
   * and each scored doc's token count and weight sum (`scored`). */
  private val importanceScoredCtes: String =
    s"""tok AS (
       |  SELECT doc_id, source = 'src0' AS is_t,
       |         ${OracleSql.tokenHash("t")} % 64 AS b
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t FROM documents)),
       |counts AS (
       |  SELECT b, count(*) AS n_raw,
       |         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_target
       |  FROM tok GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n_raw) AS BIGINT) AS t_raw,
       |         CAST(sum(n_target) AS BIGINT) AS t_target
       |  FROM counts),
       |w AS (
       |  SELECT b, (1000000 * n_target * t_raw) // (n_raw * t_target) AS w_us
       |  FROM counts, tot),
       |scored AS (
       |  SELECT tok.doc_id, count(*) AS n_tokens,
       |         CAST(sum(w.w_us) AS BIGINT) AS score_us
       |  FROM tok JOIN w ON tok.b = w.b
       |  GROUP BY 1)""".stripMargin

  /** Mirror of Curation.mixtureEpochPlan's weights: per-source inventory
   * (`inv`), √n-token weight (`w`) and the weight total (`t`). */
  private val mixtureWeightCtes: String =
    """inv AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |w AS (SELECT source, n_docs, n_tokens,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s_w
      |      FROM inv),
      |t AS (SELECT CAST(sum(s_w) AS BIGINT) AS w_total FROM w)""".stripMargin

  /** The int64-exact share of the 200k-token budget for weight s_w. */
  private val mixtureTargetTokens =
    "(200000 // w_total) * s_w + ((200000 % w_total) * s_w) // w_total AS target_tokens"

  /** Mirror of Curation.mixtureEpochPlan's epochs and the final partial
   * epoch's ppm keep rate, from target_tokens and n_tokens. */
  private val mixtureEpochCols =
    """(target_tokens + n_tokens - 1) // n_tokens AS epochs,
      |       CAST(CASE WHEN target_tokens = 0 THEN 0
      |            WHEN target_tokens % n_tokens = 0 THEN 1000000
      |            ELSE (CAST(target_tokens % n_tokens AS HUGEINT) * 1000000) // n_tokens END
      |         AS BIGINT) AS last_epoch_keep_ppm""".stripMargin

  val all: Seq[Q] = Seq(

    // Best-k-per-group curation: the 3 longest documents per language,
    // deterministic tiebreak on doc_id. The engine side is the two-phase
    // top-k (local rank caps the shuffle at k per input partition before
    // the per-group window); the oracle states the single-window form the
    // two-phase plan must equal.
    Q("quality_topk_per_lang",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        Curation.topkPerGroup(docs, Seq("lang"),
            Seq(col("n_tokens").desc, col("doc_id").asc), k = 3)
          .select(col("lang"), col("rank").cast("long").as("rank"), col("doc_id"), col("n_tokens"))
          .orderBy("lang", "rank")
      },
      Some("""SELECT lang, rank, doc_id, n_tokens FROM (
             |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS BIGINT) AS rank
             |  FROM documents)
             |WHERE rank <= 3
             |ORDER BY lang, rank""".stripMargin)),

    // Deterministic stratified sampling — per-language keep rates (60%
    // en, 40% zh, 20% everything else) decided by a multiplicative hash
    // of the PK, never rand(): reruns, task retries, and the oracle all
    // agree row-for-row. The predicate fuses into the scan (zero
    // shuffle); per-stratum counts audit the realized rates.
    Q("stratified_sample",
      (s, dir) => Curation.stratifiedSample(
          TableIO.read(s, dir, "documents"),
          "lang", col("doc_id"), Map("en" -> 60, "zh" -> 40), defaultPct = 20)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
             |FROM documents
             |WHERE ((doc_id % 2147483648) * 2654435761) % 100 <
             |  CASE lang WHEN 'en' THEN 60 WHEN 'zh' THEN 40 ELSE 20 END
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // Cross-source survivor dedup: same 3-token-prefix content key, the
    // copy from the most-trusted source wins (src0 beats src1 beats the
    // crawl), doc_id breaks remaining ties. One key shuffle.
    Q("priority_dedup",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
          .withColumn("prefix_key", TextOps.prefixKey(col("text")))
          .withColumn("src_priority",
            when(col("source") === "src0", lit(0L))
              .when(col("source") === "src1", lit(1L)).otherwise(lit(2L)))
        Curation.keepByPriority(docs, Seq("prefix_key"),
            Seq(col("src_priority").asc, col("doc_id").asc))
          .select("doc_id", "source", "src_priority", "lang")
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, source, src_priority, lang FROM (
              |  SELECT doc_id, source, lang,
              |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 ELSE 2 END AS src_priority,
              |    row_number() OVER (PARTITION BY ${OracleSql.prefixKey}
              |      ORDER BY CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 ELSE 2 END, doc_id) AS rn
              |  FROM documents)
              |WHERE rn = 1
              |ORDER BY doc_id""".stripMargin)),

    // Corpus length distribution as a fixed-width histogram (bucket =
    // token count div 20) with per-bucket min/max envelopes — the table
    // quality-filter thresholds are tuned against. One map-side-combined
    // groupBy.
    Q("doc_length_hist",
      (s, dir) => Curation.histogram(
          TableIO.read(s, dir, "documents")
            .select(TextOps.tokenCount(col("text")).as("n_tokens")),
          col("n_tokens"), width = 20L)
        .orderBy("bucket"),
      Some("""SELECT len(string_split(text, ' ')) // 20 AS bucket,
             |  count(*) AS n,
             |  min(len(string_split(text, ' '))) AS min_v,
             |  max(len(string_split(text, ' '))) AS max_v
             |FROM documents
             |GROUP BY 1
             |ORDER BY 1""".stripMargin)),

    // PII scrub: the fixtures are PII-free word soup, so each document
    // gets a deterministic synthetic contact line appended (same
    // expression in both engines), then the redaction chain + audit
    // counts run over it — regexp_replace / regexp_extract_all per row,
    // shuffle-free, patterns restricted to the Java-regex ∩ RE2 dialect.
    Q("text_pii_scrub",
      (s, dir) => {
        val synth = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          (lit(1000L) + pmod(col("doc_id"), lit(9000L))).cast("string"))
        TableIO.read(s, dir, "documents")
          .withColumn("__synth", synth)
          .select(
            col("doc_id"),
            TextOps.emailCount(col("__synth")).cast("long").as("n_emails"),
            TextOps.phoneCount(col("__synth")).cast("long").as("n_phones"),
            substring(TextOps.scrubPii(col("__synth")), -30, 30).as("tail30"))
          .orderBy("doc_id")
      },
      Some(s"""WITH synth AS (
              |  SELECT doc_id,
              |    text || ' contact user' || CAST(doc_id AS VARCHAR)
              |         || '@example.com or 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS s
              |  FROM documents)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(s, '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
              |  CAST(len(regexp_extract_all(s, '${TextOps.PhonePattern}')) AS BIGINT) AS n_phones,
              |  right(regexp_replace(regexp_replace(s, '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
              |        '${TextOps.PhonePattern}', '<PHONE>', 'g'), 30) AS tail30
              |FROM synth
              |ORDER BY doc_id""".stripMargin)),

    // Adaptive per-facet quality gate: each language's p25 token count
    // becomes its own admission threshold (fixed global thresholds
    // over-prune low-resource languages). The threshold table is 5 rows —
    // broadcast — so the gate costs one aggregate plus a map-side join;
    // Spark percentile() and DuckDB quantile_cont share the (n-1)*p
    // interpolation (parity proven by corpus_percentiles).
    Q("quality_gate_percentile",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        val thresholds = docs.groupBy("lang")
          .agg(expr("percentile(n_tokens, 0.25)").as("p25"))
        docs.join(broadcast(thresholds), Seq("lang"))
          .filter(col("n_tokens").cast("double") >= col("p25"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            min("n_tokens").as("min_kept"),
            sum("doc_id").as("kept_id_sum"))
          .orderBy("lang")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents),
             |t AS (SELECT lang, quantile_cont(n_tokens, 0.25) AS p25 FROM d GROUP BY lang)
             |SELECT d.lang, count(*) AS n_kept,
             |  min(n_tokens) AS min_kept,
             |  CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
             |FROM d JOIN t ON d.lang = t.lang
             |WHERE CAST(n_tokens AS DOUBLE) >= t.p25
             |GROUP BY d.lang
             |ORDER BY d.lang""".stripMargin)),

    // Exact-N uniform sampling per stratum: hash-ordered rank ≤ N — the
    // deterministic reservoir ("give me exactly 100 random-looking docs
    // per language"), reusing the two-phase top-k so no stratum funnels
    // through one reducer. Hash order, doc_id tiebreak: total order,
    // rerun-stable.
    Q("sample_n_per_group",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
          .withColumn("__h",
            pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L), lit(1048573L)))
        Curation.topkPerGroup(docs, Seq("lang"),
            Seq(col("__h").asc, col("doc_id").asc), k = 10)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum FROM (
             |  SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY ((doc_id % 2147483648) * 2654435761) % 1048573, doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 10
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // Temperature-scaled source mixing weights (alpha = 0.5): each
    // source's sampling weight ∝ sqrt(its doc count), the standard
    // flatten-the-head reweighting for multi-source training corpora.
    // sqrt is IEEE-correctly-rounded in both engines; the normalizer sum
    // goes through DECIMAL accumulation (order-independent), and the
    // 1-row totals frame is broadcast, never a shuffle of the counts.
    Q("source_mix_weights",
      (s, dir) => {
        val counts = TableIO.read(s, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n"))
        val totals = counts.agg(
          sum("n").as("n_total"),
          sum(sqrt(col("n").cast("double")).cast("decimal(28,12)")).as("z"))
        counts.crossJoin(broadcast(totals))
          .select(
            col("source"), col("n"),
            round(col("n").cast("double") / col("n_total").cast("double"), 6).as("share"),
            round(sqrt(col("n").cast("double")) / col("z").cast("double"), 6).as("mix_weight"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
             |             sum(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(28,12))) AS z
             |      FROM c)
             |SELECT source, n,
             |  round(CAST(n AS DOUBLE) / n_total, 6) AS share,
             |  round(sqrt(CAST(n AS DOUBLE)) / CAST(z AS DOUBLE), 6) AS mix_weight
             |FROM c CROSS JOIN t
             |ORDER BY source""".stripMargin)),

    // Lexical diversity: type-token ratio (per-row HOF, shuffle-free) +
    // Gini-Simpson index over the token distribution — rational
    // arithmetic only (counts and one division), no transcendentals, so
    // both engines agree bit-for-bit (same discipline as text_tfidf).
    Q("text_diversity",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
          .withColumn("__toks", TextOps.tokens(col("text")))
        val perDoc = docs.select(
          col("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("__toks"))).cast("long").as("n_distinct"),
          TextOps.typeTokenRatio(col("__toks")).as("ttr"))
        // explode_outer + null filter: see Dedup.ngramJaccardPairs on the
        // InferFiltersFromGenerate re-inlining pathology
        val simpson = docs
          .select(col("doc_id"), explode_outer(col("__toks")).as("token"))
          .filter(col("token").isNotNull)
          .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c") * col("c")).as("sum_sq"), sum("c").as("n"))
          .withColumn("simpson",
            round(lit(1.0) - col("sum_sq").cast("double") / (col("n") * col("n")).cast("double"), 6))
        perDoc.join(simpson.select("doc_id", "simpson"), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("ttr"),
            coalesce(col("simpson"), lit(0.0)).as("simpson"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tok AS (SELECT doc_id, unnest(w) AS token FROM t),
             |cnt AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
             |s AS (SELECT doc_id, CAST(sum(c*c) AS BIGINT) AS sum_sq,
             |             CAST(sum(c) AS BIGINT) AS n
             |      FROM cnt GROUP BY 1)
             |SELECT t.doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
             |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS ttr,
             |  coalesce(round(1.0 - CAST(s.sum_sq AS DOUBLE) / (s.n * s.n), 6), 0.0) AS simpson
             |FROM t LEFT JOIN s USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin)),

    // The NATIVE group-wise top-k operator (custom LogicalPlan + Strategy
    // + two-phase SparkPlan + pushdown Rule, via SparkSessionExtensions):
    // same semantics as quality_topk_per_lang's window form, but bounded
    // heaps instead of per-group sorts, with the partial exec capping the
    // shuffle at k rows per (group, input partition). Same oracle shape.
    Q("grouptopk_native",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        org.apache.spark.sql.graft.plans.GroupTopK.topkPerKey(
            docs, Seq("lang"), Seq(col("n_tokens").desc, col("doc_id").asc), k = 3)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_tokens
             |FROM (
             |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
             |         row_number() OVER (PARTITION BY lang
             |                            ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 3
             |ORDER BY doc_id""".stripMargin)),

    // DSIR-style importance weighting (arXiv:2302.03169): hashed-token
    // bucket ratios target-vs-raw in exact integer fixed point; the
    // src0 slice is the target distribution, every doc scores the sum of
    // its tokens' bucket ratios. target_like = more target-ish than the
    // corpus average.
    Q("importance_weights",
      (s, dir) => Curation.importanceWeights(
          TableIO.read(s, dir, "documents"), "doc_id", "text",
          isTarget = col("source") === "src0")
        .orderBy("doc_id"),
      Some(s"""WITH $importanceScoredCtes
              |SELECT d.doc_id,
              |       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
              |       CAST(coalesce(s.score_us, 0) AS BIGINT) AS score_us,
              |       CAST(CASE WHEN coalesce(s.score_us, 0) > coalesce(s.n_tokens, 0) * 1000000
              |            THEN 1 ELSE 0 END AS INTEGER) AS target_like
              |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
              |ORDER BY 1""".stripMargin)),

    // DSIR stage 2 (arXiv:2302.03169): resample the corpus with
    // probability proportional to the stage-1 importance weight —
    // acceptance min(w̄, cap)/cap against a deterministic per-doc uniform
    // draw (high bits of a mixed id hash, in ppm). cap = 2e6 µ-units:
    // a corpus-average doc (w̄ = 1e6) keeps at 50%, twice-average or
    // better always keeps. Every row returns with its kept verdict so
    // the realized rate is auditable.
    Q("dsir_resample",
      (s, dir) => Curation.dsirResample(
          Curation.importanceWeights(
            TableIO.read(s, dir, "documents"), "doc_id", "text",
            isTarget = col("source") === "src0"),
          "doc_id", capUs = 2000000L)
        .select("doc_id", "w_avg_us", "accept_ppm", "u_ppm", "kept")
        .orderBy("doc_id"),
      Some(s"""WITH $importanceScoredCtes,
              |iw AS (
              |  SELECT d.doc_id,
              |         CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
              |         CAST(coalesce(s.score_us, 0) AS BIGINT) AS score_us
              |  FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id),
              |res AS (
              |  SELECT doc_id,
              |         CAST(CASE WHEN n_tokens > 0 THEN score_us // n_tokens ELSE 0 END AS BIGINT) AS w_avg_us
              |  FROM iw)
              |SELECT doc_id, w_avg_us,
              |       CAST(least(w_avg_us, 2000000) * 1000000 // 2000000 AS BIGINT) AS accept_ppm,
              |       CAST(((doc_id % 2147483648) * 3266489917 % 2147483648) * 1000000 >> 31 AS BIGINT) AS u_ppm,
              |       CAST(CASE WHEN ((doc_id % 2147483648) * 3266489917 % 2147483648) * 1000000 >> 31
              |                      < least(w_avg_us, 2000000) * 1000000 // 2000000
              |            THEN 1 ELSE 0 END AS INTEGER) AS kept
              |FROM res
              |ORDER BY 1""".stripMargin)),

    // X12t — temperature-scaled source sampling (the XLM-R exponential
    // smoothing mixture rule, α = 1/2): per-stratum keep-ppm =
    // floor((1e6·√n_min)/√n_s), per-row multiplicative-hash draw.
    // Strata audit rollup: counts in/out plus the threshold applied.
    Q("lang_temperature_sample",
      (s, dir) => Curation.temperatureAnnotate(
          TableIO.read(s, dir, "documents"), "lang", col("doc_id"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          max("keep_ppm").as("keep_ppm"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang"),
      Some("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
             |m AS (SELECT min(n_docs) AS nmin FROM c),
             |k AS (SELECT lang, n_docs,
             |        CAST(floor((1000000.0 * sqrt(CAST(nmin AS DOUBLE)))
             |             / sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS keep_ppm
             |      FROM c CROSS JOIN m),
             |d AS (SELECT doc_id, lang,
             |        ((doc_id % 2147483648) * 2654435761) % 1000000 AS u
             |      FROM documents)
             |SELECT d.lang, count(*) AS n_docs, max(keep_ppm) AS keep_ppm,
             |       CAST(sum(CASE WHEN u < keep_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM d JOIN k ON d.lang = k.lang
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X41 — data-mixture/epoch planner: √n-weighted token allocation of
    // a fixed 200k-token budget across sources, with repeat epochs for
    // over-allocated sources (Muennighoff 2023) and the final partial
    // epoch's ppm keep rate. The floor-division identity keeps the
    // budget share int64-exact in both engines without overflow.
    Q("mixture_epoch_plan",
      (s, dir) => Curation.mixtureEpochPlan(
          TableIO.read(s, dir, "documents"), "source",
          size(split(col("text"), " ")).cast("long"),
          budgetTokens = 200000L)
        .orderBy("source"),
      Some(s"""WITH $mixtureWeightCtes,
              |p AS (SELECT source, n_docs, n_tokens,
              |        (s_w * 1000000) // w_total AS weight_ppm,
              |        $mixtureTargetTokens
              |      FROM w CROSS JOIN t)
              |SELECT source, n_docs, n_tokens, weight_ppm, target_tokens,
              |       $mixtureEpochCols
              |FROM p ORDER BY source""".stripMargin)),

    // X41-exec — the plan's EXECUTION face: epochs-1 full repetitions per
    // source plus a ppm-drawn partial epoch, rolled up per source so the
    // hash match proves the realized stream meets the plan (realized
    // tokens land within one partial-epoch draw of target_tokens).
    Q("mixture_execute",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        val tok = size(split(col("text"), " ")).cast("long")
        val plan = Curation.mixtureEpochPlan(docs, "source", tok, budgetTokens = 200000L)
        Curation.mixtureExecute(docs, col("doc_id"), "source", tok, plan)
          .groupBy("source")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("__tok")).as("realized_tokens"),
            (max("epoch") + 1).as("epochs_run"))
          .join(plan.select(col("source"), col("target_tokens"), col("epochs")), "source")
          .orderBy("source")
      },
      Some(s"""WITH $mixtureWeightCtes,
              |pl AS (SELECT source, n_tokens,
              |        $mixtureTargetTokens
              |      FROM w CROSS JOIN t),
              |pl2 AS (SELECT source, target_tokens,
              |        $mixtureEpochCols
              |      FROM pl),
              |ep AS (SELECT source, epochs, last_epoch_keep_ppm,
              |         unnest(range(0, epochs)) AS epoch FROM pl2 WHERE epochs > 0),
              |d AS (SELECT source, doc_id,
              |        CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
              |r AS (SELECT d.source, d.doc_id, d.tok, ep.epoch
              |      FROM d JOIN ep USING (source)
              |      WHERE ep.epoch < ep.epochs - 1 OR
              |       (((((d.doc_id % 2147483648) + 2147483648) % 2147483648 * 2654435761)
              |          % 1000000 + 1000000) % 1000000) < ep.last_epoch_keep_ppm)
              |SELECT r.source, count(*) AS n_rows,
              |       CAST(sum(r.tok) AS BIGINT) AS realized_tokens,
              |       CAST(max(r.epoch) + 1 AS BIGINT) AS epochs_run,
              |       first(pl2.target_tokens) AS target_tokens,
              |       first(pl2.epochs) AS epochs
              |FROM r JOIN pl2 ON r.source = pl2.source
              |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
