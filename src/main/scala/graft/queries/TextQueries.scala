package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.TextOps
import graft.io.TableIO

/**
 * X4 — text-analysis queries over the documents corpus. The shared
 * cross-engine token hash is the base-131 first-8-chars polynomial
 * (TextOps.tokenHashSql / the OracleSql.tokenHash mirror).
 */
object TextQueries {

  /** Mirror of TextOps.stopwordHits over the text's tokens: how many
   * of them are in `words`. */
  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(x => s"'$x'").mkString(", ")})))"

  /** Mirror of TextOps.predictedLang: the marker profile with more hits,
   * else 'tie'. */
  private val predictedLangSql: String =
    s"""CASE
       |      WHEN ${hitsSql(TextOps.EnglishMarkers)}
       |         > ${hitsSql(TextOps.TechMarkers)} THEN 'en'
       |      WHEN ${hitsSql(TextOps.TechMarkers)}
       |         > ${hitsSql(TextOps.EnglishMarkers)} THEN 'tech'
       |      ELSE 'tie' END AS predicted_lang""".stripMargin

  /** Mirror of TextOps.cdcChunks' candidate boundaries: the positions
   * 4..len-1 whose 4-char window polynomial is 0 mod 64. */
  private val cdcBoundsSql: String =
    """list_filter(range(4, len + 1),
      |      i -> i < len AND
      |        (ascii(substr(text, CAST(i - 3 AS INTEGER), 1)) * 2248091
      |         + ascii(substr(text, CAST(i - 2 AS INTEGER), 1)) * 17161
      |         + ascii(substr(text, CAST(i - 1 AS INTEGER), 1)) * 131
      |         + ascii(substr(text, CAST(i AS INTEGER), 1))) % 64 = 0)""".stripMargin

  /** Mirror of TextOps.cdcChunks' boundaries: CTEs `b`, `c` (each doc's
   * content-defined cut list) and `ch` (one row per chunk with `cols`,
   * its c_start and c_len). */
  private def cdcChunkCtes(cols: String): String =
    s"""b AS (SELECT doc_id, text, strlen(text) AS len FROM documents),
       |c AS (SELECT doc_id, text,
       |  CASE WHEN len >= 4 THEN
       |    list_concat(list_concat([0], $cdcBoundsSql),
       |      [len])
       |  ELSE [0, len] END AS cuts
       |  FROM b),
       |ch AS (SELECT doc_id, text,$cols
       |         cuts[CAST(j AS INTEGER)] AS c_start,
       |         cuts[CAST(j + 1 AS INTEGER)] - cuts[CAST(j AS INTEGER)] AS c_len
       |       FROM c, unnest(range(1, len(cuts))) AS u(j))""".stripMargin

  /** Mirror of TextOps.cdcChunks' chunk hash: the base-131 rolling hash
   * of the chunk's chars, mod Dedup.P. */
  private val cdcHash: String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, c_len + 1),
       |        k -> CAST(ascii(substr(text, CAST(c_start + k AS INTEGER), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 131 + x) % ${graft.ext.Dedup.P})""".stripMargin

  val all: Seq[Q] = Seq(

    // Token + byte counting (the unit of every corpus-size estimate).
    Q("text_tokens",
      (s, dir) => TableIO.read(s, dir, "documents")
        .select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  strlen(text) AS n_bytes
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // BPE-style subword budget: regex pre-tokenizer counts (letter runs /
    // digits / punctuation) beside whitespace tokens — the two numbers a
    // training pipeline budgets against.
    Q("text_tokens_bpe",
      (s, dir) => TableIO.read(s, dir, "documents")
        .select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
        .withColumn("bpe_per_ws",
          round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"), 6))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  len(string_split(text, ' ')) AS n_ws_tokens,
              |  len(regexp_extract_all(text, '${TextOps.BpeTokenPattern}')) AS n_bpe_tokens,
              |  round(CAST(len(regexp_extract_all(text, '${TextOps.BpeTokenPattern}')) AS DOUBLE)
              |        / len(string_split(text, ' ')), 6) AS bpe_per_ws
              |FROM documents
              |ORDER BY doc_id""".stripMargin)),

    // Per-language corpus stats (count + exact total/avg token counts).
    Q("text_lang_stats",
      (s, dir) => TableIO.read(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"))
        .withColumn("avg_tokens", col("total_tokens").cast("double") / col("n_docs"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens
             |FROM documents
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // Quality scoring: stopword ratio + minimum-length gate.
    Q("text_quality",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        TableIO.read(s, dir, "documents")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            TextOps.stopwordHits(toks, TextOps.Stopwords).cast("long").as("stop_hits"))
          .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens").cast("double"))
          .withColumn("has_min_len", col("n_tokens") >= 20)
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  len(string_split(text, ' ')) AS n_tokens,
              |  ${hitsSql(TextOps.Stopwords)} AS stop_hits,
              |  CAST(${hitsSql(TextOps.Stopwords)} AS DOUBLE)
              |    / len(string_split(text, ' ')) AS stop_ratio,
              |  len(string_split(text, ' ')) >= 20 AS has_min_len
              |FROM documents
              |ORDER BY doc_id""".stripMargin)),

    // Model-based quality filtering plumbing: hashed bag-of-words linear
    // scorer (fastText-classifier shape, deterministic weight table —
    // TextOps.hashedLinearScore). Integer accumulation, shuffle-free scan.
    Q("quality_model_score",
      (s, dir) => TableIO.read(s, dir, "documents")
        .select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextOps.hashedLinearScore("text").as("score_millis"))
        .withColumn("pred_keep", when(col("score_millis") > 0, 1).otherwise(0))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  len(string_split(text, ' ')) AS n_tokens,
              |  CAST(coalesce(list_sum(list_transform(string_split(text, ' '),
              |    t -> ((CAST(${OracleSql.tokenHash("t")} AS BIGINT) % ${TextOps.QualityBuckets}) * 2654435761) % 1999 - 999)), 0) AS BIGINT) AS score_millis,
              |  CASE WHEN coalesce(list_sum(list_transform(string_split(text, ' '),
              |    t -> ((CAST(${OracleSql.tokenHash("t")} AS BIGINT) % ${TextOps.QualityBuckets}) * 2654435761) % 1999 - 999)), 0) > 0
              |       THEN 1 ELSE 0 END AS pred_keep
              |FROM documents
              |ORDER BY doc_id""".stripMargin)),

    // Tokenizer-fit plumbing: build the top-K token vocabulary (the
    // frequency cut every BPE/WordPiece fit starts from), then score each
    // document's out-of-vocabulary fraction against it. The vocab is a
    // map-side-combined groupBy + TakeOrdered (tiny), broadcast back over
    // the token stream — the corpus is scanned, never re-shuffled by text.
    Q("vocab_oov",
      (s, dir) => {
        val tok = TableIO.read(s, dir, "documents")
          .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("t"))
          .filter(col("t").isNotNull)
        val vocab = tok.groupBy("t").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("t")).limit(20)
          .select(col("t"), lit(1).as("in_vocab"))
        tok.join(broadcast(vocab), Seq("t"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), count(col("in_vocab")).as("n_known"))
          .withColumn("oov_frac6",
            round((col("n_tokens") - col("n_known")).cast("double") / col("n_tokens").cast("double"), 6))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
             |v AS (
             |  SELECT t FROM (
             |    SELECT t, count(*) AS cnt FROM tok GROUP BY 1
             |    ORDER BY cnt DESC, t LIMIT 20))
             |SELECT doc_id, count(*) AS n_tokens, count(v.t) AS n_known,
             |  round(CAST(count(*) - count(v.t) AS DOUBLE) / count(*), 6) AS oov_frac6
             |FROM tok LEFT JOIN v ON tok.t = v.t
             |GROUP BY 1
             |ORDER BY 1""".stripMargin)),

    // Language-ID heuristic: marker-profile hit counts + argmax.
    Q("text_langid",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        TableIO.read(s, dir, "documents")
          .select(
            col("doc_id"),
            TextOps.stopwordHits(toks, TextOps.EnglishMarkers).cast("long").as("score_en"),
            TextOps.stopwordHits(toks, TextOps.TechMarkers).cast("long").as("score_tech"),
            TextOps.predictedLang(toks).as("predicted_lang"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  ${hitsSql(TextOps.EnglishMarkers)} AS score_en,
              |  ${hitsSql(TextOps.TechMarkers)} AS score_tech,
              |  $predictedLangSql
              |FROM documents
              |ORDER BY doc_id""".stripMargin)),

    // Token-budget shard packing: per language, documents in id order are
    // packed into training shards of <= 5000 tokens via a running-sum
    // window — the "write shards under a token budget" step of a training
    // pipeline, shuffle-keyed on the partition column only.
    Q("shard_packing",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        TableIO.read(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
          .withColumn("cum_tokens", sum("n_tokens").over(w))
          .withColumn("shard_id", expr("(cum_tokens - 1) div 5000"))
          .orderBy("lang", "doc_id")
      },
      Some("""SELECT doc_id, lang,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  CAST(SUM(len(string_split(text, ' ')))
             |       OVER (PARTITION BY lang ORDER BY doc_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
             |  (CAST(SUM(len(string_split(text, ' ')))
             |       OVER (PARTITION BY lang ORDER BY doc_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1) // 5000 AS shard_id
             |FROM documents
             |ORDER BY lang, doc_id""".stripMargin)),

    // C4-style cleaning pipeline in ONE declarative lineage: length gate →
    // language-ID confidence gate → deterministic exact dedup by 3-token
    // prefix. The composition is the point — every stage fuses into the
    // same scan + one window shuffle.
    Q("corpus_clean",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val scored = TableIO.read(s, dir, "documents")
          .select(
            col("doc_id"), col("text"),
            size(toks).cast("long").as("n_tokens"),
            TextOps.predictedLang(toks).as("predicted_lang"))
          .filter(col("n_tokens") >= 20 && col("predicted_lang") =!= "tie")
          .withColumn("prefix_key", TextOps.prefixKey(col("text")))
        graft.ext.Dedup.exactKeep(scored, Seq("prefix_key"), "doc_id")
          .select("doc_id", "predicted_lang", "n_tokens")
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id,
              |    len(string_split(text, ' ')) AS n_tokens,
              |    $predictedLangSql,
              |    ${OracleSql.prefixKey} AS prefix_key
              |  FROM documents
              |  WHERE len(string_split(text, ' ')) >= 20),
              |gated AS (SELECT * FROM scored WHERE predicted_lang != 'tie')
              |SELECT doc_id, predicted_lang, n_tokens
              |FROM (SELECT doc_id, predicted_lang, n_tokens,
              |        row_number() OVER (PARTITION BY prefix_key ORDER BY doc_id) AS rn
              |      FROM gated)
              |WHERE rn = 1
              |ORDER BY doc_id""".stripMargin)),

    // Exact interpolated percentiles of per-doc token counts by language
    // (corpus length distribution — the standard quality-filter input).
    // Spark percentile() and DuckDB quantile_cont share the
    // (n-1)*p linear-interpolation definition.
    Q("corpus_percentiles",
      (s, dir) => TableIO.read(s, dir, "documents")
        .select(col("lang"), size(split(col("text"), " ")).as("n_tokens"))
        .groupBy("lang")
        .agg(
          expr("percentile(n_tokens, 0.5)").as("p50_tokens"),
          expr("percentile(n_tokens, 0.9)").as("p90_tokens"))
        .orderBy("lang"),
      Some("""SELECT lang,
             |  quantile_cont(len(string_split(text, ' ')), 0.5) AS p50_tokens,
             |  quantile_cont(len(string_split(text, ' ')), 0.9) AS p90_tokens
             |FROM documents
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // Domain capping: keep at most 5 documents per source (the "no
    // domain dominates the mixture" step of corpus curation) — one
    // window shuffle on the partition column, deterministic survivors.
    Q("source_cap",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
        TableIO.read(s, dir, "documents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
             |FROM (SELECT source, doc_id,
             |        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             |      FROM documents)
             |WHERE rn <= 5
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // Deterministic train/val split by multiplicative hash of the PK —
    // reproducible across reruns, partitionings, and engines (never
    // rand()); per-(split, lang) counts audit the stratification.
    Q("train_val_split",
      (s, dir) => TableIO.read(s, dir, "documents")
        .withColumn("split",
          when(pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L), lit(100L)) < 90, lit("train"))
            .otherwise(lit("val")))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("split", "lang"),
      Some("""SELECT CASE WHEN ((doc_id % 2147483648) * 2654435761) % 100 < 90
             |            THEN 'train' ELSE 'val' END AS split,
             |       lang, count(*) AS n
             |FROM documents
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // Order-sensitive rolling document fingerprint.
    Q("text_fingerprint",
      (s, dir) => TableIO.read(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint("text").as("fp"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(text, ' '), t -> CAST(${OracleSql.tokenHash("t")} AS BIGINT))),
              |    (acc, x) -> (acc * 131 + x) % ${TextOps.FingerprintMod}) AS fp
              |FROM documents
              |ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition scoring: the most-frequent word 2-gram's
    // share of all 2-grams, plus the duplicate-word fraction — the two
    // repetition filters that catch boilerplate/spam padding. Bigram
    // counts go through (doc, bigram) groupBy with map-side combine; the
    // per-row fractions are shuffle-free HOFs joined back by doc_id.
    Q("text_repetition",
      (s, dir) => {
        // stage the token array in a column: bigrams() reads it 3× and
        // per ELEMENT in its lambda — an inline split(text) expression
        // would re-split the whole text per bigram (quadratic per doc)
        //
        // SHUFFLE-FREE (r18): the top-bigram count is a PER-DOCUMENT
        // statistic, so it never needed the (doc_id, bigram) groupBy at
        // all — the max multiplicity of a row's bigram array is the
        // longest run in its SORTED array, one codegen aggregate() HOF
        // per row. This deletes both exchanges AND the doc_id join-back
        // of the r15 two-branch form (guide §2.4: remove shuffles
        // outright): scan → project → output sort is the whole plan, and
        // at 100 TB the corpus-sized bigram stream (~tokens·rows) never
        // shuffles. Bit-equal to the aggregate form: count of non-null
        // bigrams = array size (bigrams() never emits null elements),
        // max group count = max sorted-run length, same long/double
        // arithmetic (BenchAB probe_trmap + the unchanged oracle hash).
        val docs = TableIO.read(s, dir, "documents")
          .withColumn("__toks", TextOps.tokens(col("text")))
          .withColumn("__bg", TextOps.bigrams(col("__toks")))
        val nbg = when(col("__bg").isNull, lit(0L))
          .otherwise(size(col("__bg")).cast("long"))
        // longest run in the sorted bigram array = the max bigram
        // multiplicity; null-safe <=> keeps the fold total
        val topRun = expr("""aggregate(array_sort(__bg),
            named_struct('prev', cast(null as string),
                         'run', cast(0 as bigint), 'best', cast(0 as bigint)),
            (acc, x) -> named_struct('prev', x,
              'run', if(acc.prev <=> x, acc.run + 1L, 1L),
              'best', greatest(acc.best, if(acc.prev <=> x, acc.run + 1L, 1L))),
            acc -> acc.best)""")
        docs
          .withColumn("n_bigrams", nbg)
          .withColumn("top_bigram_n", coalesce(topRun, lit(0L)))
          .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
            when(col("n_bigrams") > 0L,
              round(col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"), 6))
              .otherwise(lit(0.0)).as("top_bigram_frac"),
            TextOps.dupWordFrac(col("__toks")).as("dup_word_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
             |                  i -> w[i] || ' ' || w[i+1])) AS bigram
             |  FROM t),
             |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
             |top AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             |         CAST(max(c) AS BIGINT) AS top_bigram_n,
             |         round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
             |  FROM cnt GROUP BY 1)
             |SELECT t.doc_id,
             |  coalesce(top.n_bigrams, 0) AS n_bigrams,
             |  coalesce(top.top_bigram_n, 0) AS top_bigram_n,
             |  coalesce(top.top_bigram_frac, 0.0) AS top_bigram_frac,
             |  round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS dup_word_frac
             |FROM t LEFT JOIN top ON t.doc_id = top.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // Sparse tf-cosine pairs through the inverted index — the lexical
    // twin of embed_neardup, over 3-gram shingle hashes (unigrams are
    // useless here: the synthetic corpus shares one small vocabulary, so
    // every unigram's df exceeds any useful ceiling). Integer tf/dot/
    // norm² accumulation keeps the comparison cross-engine exact; the
    // df-ceiling (20) is the same prefix-filter lever as
    // dedup_ngram_pairs' shingle ceiling.
    // Perf note (round 8): r6→r7 delta (0.63→1.10 s) triaged with BenchAB
    // on a quiet machine — min-of-4 = 0.99 s, no code change to this path
    // between rounds; the r7 machine was contended and sub-second deltas
    // at sf0.1 are scheduling noise on a 32-slot local run.
    Q("sparse_cosine_pairs",
      (s, dir) => TextOps.sparseCosinePairs(
          graft.ext.Dedup.withShingleHashes(
            TableIO.read(s, dir, "documents").filter(col("doc_id") < 300), "text"),
          "doc_id", graft.ext.Dedup.ShinglesCol, minDot = 3L, maxTermDf = 20L)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${OracleSql.sparseDotCtes("d", 3)}
              |SELECT id_a, id_b, dot,
              |  ${OracleSql.sparseCos("d")}
              |ORDER BY id_a, id_b""".stripMargin)),

    // Count-min-sketch heavy-hitter probe — the custom-Aggregator tier
    // (§2.12): a 4×512 sketch built in one pass (fixed 16 KiB state
    // regardless of corpus size), probed for fixed words. The oracle
    // mirrors the SKETCH arithmetic cell-for-cell (merge is elementwise
    // addition → partition-order independent → exactly reproducible).
    Q("cms_heavy_hitters",
      (s, dir) => {
        import graft.functions.CountMinSketch
        val toks = TableIO.read(s, dir, "documents")
          .select(explode_outer(org.apache.spark.sql.graft.SignatureKernels.tokenHashes(
            split(col("text"), " "), graft.ext.Dedup.P)).as("tok"))
          .filter(col("tok").isNotNull)
        val sketch = toks.agg(CountMinSketch.udafFn(col("tok")).as("sketch"))
        val probes = s.range(1)
          .select(explode(array(Seq("the", "data", "of", "query", "zzzunseen").map(lit): _*)).as("word"))
          .withColumn("h", expr(s"CAST(${TextOps.tokenHashSql("word")} AS BIGINT)"))
        probes.crossJoin(broadcast(sketch))
          .withColumn("est", least((0 until CountMinSketch.Depth).map(i =>
            element_at(col("sketch"),
              (lit(i * CountMinSketch.Width) +
                expr(CountMinSketch.bucketSql(i, "h")) + lit(1)).cast("int"))): _*))
          .select("word", "est")
          .orderBy("word")
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(list_transform(string_split(text, ' '),
              |           t -> CAST(${OracleSql.tokenHash("t")} AS BIGINT))) AS tok
              |  FROM documents),
              |hp AS (SELECT i, a, b FROM (VALUES (0, 131, 17), (1, 10007, 257),
              |         (2, 92821, 8191), (3, 486187739, 131071)) t(i, a, b)),
              |bk AS (
              |  SELECT i, ((a * (tok % 1000000007) + b) % 1000000007) % 512 AS bkt, count(*) AS c
              |  FROM tk, hp GROUP BY 1, 2),
              |probes AS (
              |  SELECT word, CAST(${OracleSql.tokenHash("word")} AS BIGINT) AS h
              |  FROM (VALUES ('the'), ('data'), ('of'), ('query'), ('zzzunseen')) v(word)),
              |e AS (
              |  SELECT p.word, min(coalesce(b.c, 0)) AS est
              |  FROM probes p
              |  CROSS JOIN hp r
              |  LEFT JOIN bk b ON b.i = r.i
              |    AND b.bkt = ((r.a * (p.h % 1000000007) + r.b) % 1000000007) % 512
              |  GROUP BY 1)
              |SELECT word, est FROM e ORDER BY word""".stripMargin)),

    // X4g — Gopher-style composite rule filter (arXiv:2112.11446): every
    // per-doc signal plus the first failing rule, the audit shape that
    // explains WHERE corpus mass went. Pure codegen scan, no shuffle.
    Q("quality_gopher_rules",
      // word bound 20..80 passed EXPLICITLY: the GopherBounds defaults
      // are the paper's web-page 50..100k (spec-pinned); the fixture
      // docs are 20-80-word soup, so the corpus-adapted bound keeps the
      // rule informative here (every other threshold is the published
      // default).
      (s, dir) => TextOps.gopherRules(
          TableIO.read(s, dir, "documents"), "doc_id", "text", TextOps.Stopwords,
          TextOps.GopherBounds(minWords = 20, maxWords = 80))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |sig AS (SELECT doc_id,
              |  ${OracleSql.gopherSignals}
              |  FROM t),
              |lab AS (SELECT *,
              |  CASE WHEN n_words < 20 OR n_words > 80 THEN 'word_count'
              |       WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_word_len'
              |       WHEN frac_alpha < 0.8 THEN 'alpha_ratio'
              |       WHEN n_stop < 2 THEN 'stopwords'
              |       WHEN dup_frac >= 0.5 THEN 'repetition'
              |       ELSE 'ok' END AS fail_reason
              |  FROM sig)
              |SELECT doc_id, n_words, mean_word_len, frac_alpha, n_stop, dup_frac,
              |       fail_reason, fail_reason = 'ok' AS passes
              |FROM lab ORDER BY doc_id""".stripMargin)),

    // X4h — self-trained bigram-LM surprisal (the KenLM/CCNet perplexity
    // scoring shape) with the integer-log2 digit-count proxy standing in
    // for -log2 P so both engines agree bit-for-bit. Three token-keyed
    // shuffles, text never crosses the wire.
    Q("lm_bigram_surprisal",
      (s, dir) => TextOps.bigramSurprisal(
          TableIO.read(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |inst AS (
              |  SELECT doc_id,
              |    CAST(${OracleSql.tokenHash("w[i]")} AS BIGINT) AS ph,
              |    CAST((${OracleSql.tokenHash("w[i]")} * 10007 + ${OracleSql.tokenHash("w[i+1]")})
              |         % ${graft.ext.Dedup.P} AS BIGINT) AS bh
              |  FROM t, unnest(range(1, len(w))) AS u(i)),
              |bc AS (SELECT bh, count(*) AS big_n FROM inst GROUP BY 1),
              |cc AS (SELECT ph, count(*) AS ctx_n FROM inst GROUP BY 1)
              |SELECT i.doc_id,
              |  count(*) AS n_bigrams,
              |  CAST(sum(length(bin(ctx_n)) - length(bin(big_n))) AS BIGINT) AS surprisal_sum,
              |  round(CAST(sum(length(bin(ctx_n)) - length(bin(big_n))) AS DOUBLE)
              |        / CAST(count(*) AS DOUBLE), 6) AS avg_surprisal
              |FROM inst i JOIN bc USING (bh) JOIN cc USING (ph)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X4i — content-defined chunking (LBFS/FastCDC boundary idiom):
    // window-hash boundaries make chunk identity shift-robust, the other
    // half of chunk-level dedup beside the fixed-stride chunk_boilerplate.
    Q("chunk_cdc",
      (s, dir) => TextOps.cdcChunks(
          TableIO.read(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH ${cdcChunkCtes(" j - 1 AS chunk_idx,")}
              |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
              |  CAST(c_start AS BIGINT) AS c_start, CAST(c_len AS BIGINT) AS c_len,
              |  CAST(CASE WHEN c_len > 0 THEN
              |    $cdcHash
              |  ELSE 0 END AS BIGINT) AS c_hash
              |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),

    // X4i(b) — the dedup application of CDC chunks: content-defined
    // chunk hashes repeated across the corpus (shift-robust boilerplate).
    // One shuffle on the chunk hash.
    Q("chunk_cdc_repeats",
      (s, dir) => TextOps.cdcChunks(
          TableIO.read(s, dir, "documents"), "doc_id", "text")
        .filter(col("c_len") > 0)
        .groupBy("c_hash")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct("doc_id").as("n_docs"))
        .filter(col("n_occurrences") > 1)
        .orderBy(col("n_occurrences").desc, col("c_hash")),
      Some(s"""WITH ${cdcChunkCtes("")},
              |h AS (SELECT doc_id,
              |  $cdcHash AS c_hash
              |  FROM ch WHERE c_len > 0)
              |SELECT c_hash, count(*) AS n_occurrences,
              |       count(DISTINCT doc_id) AS n_docs
              |FROM h GROUP BY 1 HAVING count(*) > 1
              |ORDER BY n_occurrences DESC, c_hash""".stripMargin)),

    // X4i(c) — CDC with FastCDC-style min/max chunk-length normalization
    // [32, 128] around the 64-char target: the production posture that
    // bounds adversarial periodic text (divisor-aligned patterns blow the
    // unclamped chunk table up ~16×) and divisor-avoiding text (one
    // doc-sized chunk). The boundary rule depends on the previous cut —
    // a sequential recurrence — but the CANDIDATE boundary set stays
    // position-independent (the rolling window polynomial), so the
    // oracle expresses the recurrence as a DuckDB recursive CTE over the
    // per-doc candidate list: from cut p the next cut is the first
    // candidate ≥ p+minLen, forced at p+maxLen if none arrives sooner
    // (r17 verdict #4 — graduated from rows-only; CdcClampSpec keeps the
    // independent sequential reference pin).
    Q("chunk_cdc_clamped",
      (s, dir) => TextOps.cdcChunksClamped(
          TableIO.read(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH RECURSIVE b AS (SELECT doc_id, text, length(text) AS len FROM documents),
              |bnd AS (SELECT doc_id, len,
              |  CASE WHEN len >= 4 THEN $cdcBoundsSql
              |  ELSE [] END AS bounds
              |  FROM b),
              |cuts AS (
              |  SELECT doc_id, CAST(0 AS BIGINT) AS cut FROM b
              |  UNION ALL
              |  SELECT doc_id, nxt FROM (
              |    SELECT c.doc_id,
              |      least(coalesce(list_min(list_filter(n.bounds, x -> x >= c.cut + ${TextOps.CdcMinLen})),
              |                     c.cut + ${TextOps.CdcMaxLen}),
              |            c.cut + ${TextOps.CdcMaxLen}) AS nxt,
              |      n.len AS len
              |    FROM cuts c JOIN bnd n USING (doc_id)) q
              |  WHERE nxt < len),
              |sp AS (
              |  SELECT c.doc_id, c.cut AS c_start,
              |    coalesce(lead(c.cut) OVER (PARTITION BY c.doc_id ORDER BY c.cut), n.len) - c.cut AS c_len,
              |    row_number() OVER (PARTITION BY c.doc_id ORDER BY c.cut) - 1 AS chunk_idx
              |  FROM cuts c JOIN bnd n USING (doc_id)),
              |h AS (
              |  SELECT sp.doc_id, sp.chunk_idx, sp.c_start, sp.c_len,
              |    CASE WHEN sp.c_len > 0 THEN
              |      list_reduce(list_prepend(CAST(0 AS BIGINT),
              |        list_transform(range(1, sp.c_len + 1),
              |          k -> CAST(ascii(substr(b.text, CAST(sp.c_start + k AS INTEGER), 1)) AS BIGINT))),
              |        (acc, x) -> (acc * 131 + x) % ${graft.ext.Dedup.P})
              |    ELSE CAST(0 AS BIGINT) END AS c_hash
              |  FROM sp JOIN b USING (doc_id))
              |SELECT doc_id, chunk_idx, c_start, c_len, c_hash FROM h
              |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // X21b — REAL BPE merge training (Sennrich 2016): distributed
    // word-type count (capped, deterministic), driver merge loop over
    // the O(K) type table. The merge loop is data-dependent sequential
    // rewriting — not ANSI-SQL-expressible — so like the murmur3 ring
    // and the dependency patcher this is rows-only here and bit-pinned
    // in BpeSpec against an independent instance-level reference.
    Q("bpe_merges",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        graft.ext.Bpe.mergesDf(s,
            graft.ext.Bpe.train(docs, "text", merges = 20, maxTypes = 500))
          .orderBy("rank")
      },
      None),

    // X21b(b) — the trained tokenizer APPLIED corpus-wide: per-doc
    // subword count under the 20 learned merges via the BpeSegmentCount
    // codegen kernel (shuffle-free scan; merges baked as expression
    // parameters). Rows-only for the same reason as bpe_merges.
    Q("bpe_subword_budget",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        val merges = graft.ext.Bpe.train(docs, "text", merges = 20, maxTypes = 500)
        graft.ext.Bpe.segmentCounts(docs, "doc_id", "text", merges)
          .orderBy("doc_id")
      },
      None),

    // X38 — BM25 more-like-this retrieval (Okapi k1=1.2, b=0.75) in
    // all-integer µ-units: digit-count idf (the bigramSurprisal device)
    // × one-integer-division tf saturation, df-ceiling postings (the
    // Zipf stopword guard), broadcast query sets, native-GroupTopK
    // ranking. Both engines compute the identical int64 score.
    Q("bm25_topk",
      (s, dir) => TextOps.bm25MoreLikeThis(
          TableIO.read(s, dir, "documents"), "doc_id", "text",
          nQueries = 5, k = 10, maxDf = 20L)
        .orderBy("query_id", "rank"),
      Some(s"""WITH terms AS (
             |  SELECT doc_id, unnest(${OracleSql.shingles}) AS token FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
             |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
             |st AS (SELECT count(*) AS n_docs,
             |              (sum(dl) * 100) // count(*) AS a_c FROM dl),
             |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1
             |          HAVING count(*) <= 20),
             |q AS (SELECT doc_id AS query_id, token FROM tf WHERE doc_id < 5),
             |cand AS (
             |  SELECT q.query_id, t.doc_id,
             |    CAST((CAST(length(bin(st.n_docs)) - length(bin(d.df)) AS BIGINT)
             |          * 22 * t.tf * st.a_c * 1000000)
             |      // (10 * st.a_c * t.tf + 3 * st.a_c + 900 * dl.dl) AS BIGINT) AS contrib
             |  FROM tf t JOIN dfreq d USING (token) JOIN q USING (token)
             |  JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN st
             |  WHERE t.doc_id <> q.query_id),
             |sc AS (SELECT query_id, doc_id,
             |       CAST(sum(contrib) AS BIGINT) AS score_fixed FROM cand GROUP BY 1, 2)
             |SELECT query_id,
             |  CAST(row_number() OVER (PARTITION BY query_id
             |       ORDER BY score_fixed DESC, doc_id) AS BIGINT) AS rank,
             |  doc_id, score_fixed
             |FROM sc
             |QUALIFY rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // X4j — trigram LM with stupid backoff (Brants 2007; α = 1/2 ⇒ one
    // exact bit per backoff level): counts trained on the doc_id%5!=0
    // split, held-out docs scored with per-level backoff tallies — the
    // novelty/perplexity curation profile. Both engines compute the
    // identical integer surprisals.
    Q("lm_trigram_backoff",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        TextOps.trigramBackoffSurprisal(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(s"""WITH th AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '),
              |    x -> CAST(${OracleSql.tokenHash("x")} AS BIGINT)) AS h
              |  FROM documents),
              |tr AS (SELECT doc_id, h FROM th WHERE doc_id % 5 <> 0),
              |tc AS (SELECT (h[i]*10007 + h[i+1]*131 + h[i+2]) % ${graft.ext.Dedup.P} AS tri,
              |              CAST(count(*) AS BIGINT) AS tri_n
              |       FROM tr, unnest(range(1, len(h) - 1)) AS u(i) GROUP BY 1),
              |bc AS (SELECT (h[i]*10007 + h[i+1]) % ${graft.ext.Dedup.P} AS bh,
              |              CAST(count(*) AS BIGINT) AS big_n
              |       FROM tr, unnest(range(1, len(h))) AS u(i) GROUP BY 1),
              |uc AS (SELECT u, CAST(count(*) AS BIGINT) AS uni_n
              |       FROM (SELECT unnest(h) AS u FROM tr) GROUP BY 1),
              |n AS (SELECT CAST(sum(len(h)) AS BIGINT) AS n_tok FROM tr),
              |inst AS (
              |  SELECT doc_id,
              |    (h[i]*10007 + h[i+1]*131 + h[i+2]) % ${graft.ext.Dedup.P} AS tri,
              |    (h[i]*10007 + h[i+1]) % ${graft.ext.Dedup.P} AS c2,
              |    (h[i+1]*10007 + h[i+2]) % ${graft.ext.Dedup.P} AS fb,
              |    h[i+1] AS c1, h[i+2] AS wt
              |  FROM th, unnest(range(1, len(h) - 1)) AS u(i)
              |  WHERE doc_id % 5 = 0),
              |sc AS (
              |  SELECT i.doc_id,
              |    CASE WHEN tc.tri_n IS NOT NULL THEN 0
              |         WHEN bcf.big_n IS NOT NULL THEN 1 ELSE 2 END AS lvl,
              |    CASE WHEN tc.tri_n IS NOT NULL
              |           THEN length(bin(coalesce(bc2.big_n, tc.tri_n))) - length(bin(tc.tri_n))
              |         WHEN bcf.big_n IS NOT NULL
              |           THEN 1 + length(bin(coalesce(uc1.uni_n, bcf.big_n))) - length(bin(bcf.big_n))
              |         ELSE 2 + length(bin(n.n_tok)) - length(bin(coalesce(ucw.uni_n, 0) + 1))
              |    END AS surp
              |  FROM inst i
              |  LEFT JOIN tc ON tc.tri = i.tri
              |  LEFT JOIN bc bc2 ON bc2.bh = i.c2
              |  LEFT JOIN bc bcf ON bcf.bh = i.fb
              |  LEFT JOIN uc uc1 ON uc1.u = i.c1
              |  LEFT JOIN uc ucw ON ucw.u = i.wt
              |  CROSS JOIN n)
              |SELECT doc_id, count(*) AS n_scored,
              |  CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hits,
              |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_backoffs,
              |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_backoffs,
              |  CAST(sum(surp) AS BIGINT) AS surprisal_sum,
              |  round(CAST(sum(surp) AS DOUBLE) / count(*), 6) AS avg_surprisal
              |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X39 — integer-exact multinomial Naive Bayes (the learned
    // language/quality classifier stage): trained on the doc_id%5!=0
    // split, pruned to 20 features/class (count-desc, hash-asc — the
    // native GroupTopK), digit-count surprisal scoring. Both engines
    // compute the identical model counts and identical predictions.
    Q("nb_train_model",
      (s, dir) => graft.ext.NaiveBayes.train(
          TableIO.read(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", "lang", vocabPerClass = 20)
        .feat.orderBy(col("label"), col("cnt").desc, col("h")),
      Some(s"""${nbCtes}
             |SELECT label, h, cnt FROM feat ORDER BY label, cnt DESC, h""".stripMargin)),

    Q("nb_classify_confusion",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        val test = docs.filter(col("doc_id") % 5 === 0)
        val m = graft.ext.NaiveBayes.train(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", "lang", vocabPerClass = 20)
        graft.ext.NaiveBayes.classify(test, m, "doc_id", "text")
          .join(test.select(col("doc_id"), col("lang").as("actual")), "doc_id")
          .groupBy("actual", "predicted").agg(count(lit(1)).as("n_docs"))
          .orderBy("actual", "predicted")
      },
      Some(s"""${nbCtes}
             |, voc AS (SELECT count(DISTINCT h) AS v FROM cnt),
             |cls AS (SELECT lang AS label, count(*) AS n_docs,
             |               CAST(sum(dl) + (SELECT v FROM voc) AS BIGINT) AS t_c
             |        FROM dlt WHERE doc_id % 5 <> 0 GROUP BY 1),
             |corp AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cls),
             |hits AS (SELECT t.doc_id, f.label,
             |                CAST(sum(t.tf * (length(bin(f.cnt + 1)) - 1)) AS BIGINT) AS hit_sum
             |         FROM tf t JOIN feat f USING (h)
             |         WHERE t.doc_id % 5 = 0 GROUP BY 1, 2),
             |grid AS (SELECT d.doc_id, d.lang AS actual, c.label,
             |                CAST((length(bin(corp.n_total)) - length(bin(c.n_docs)))
             |                  + d.dl * (length(bin(c.t_c)) - 1)
             |                  - coalesce(h.hit_sum, 0) AS BIGINT) AS surp
             |         FROM dlt d CROSS JOIN cls c CROSS JOIN corp
             |         LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.label = c.label
             |         WHERE d.doc_id % 5 = 0),
             |pred AS (SELECT doc_id, actual, label AS predicted,
             |                row_number() OVER (PARTITION BY doc_id
             |                  ORDER BY surp, label) AS rk
             |         FROM grid)
             |SELECT actual, predicted, count(*) AS n_docs FROM pred WHERE rk = 1
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // X44 — full-batch integer perceptron (the discriminative sibling of
    // X39): trained from zero weights on the doc_id%5=0 split over
    // 64 hashed-token buckets for exactly 3 epochs (margin, misclassified
    // set incl. margin 0, gradient — all exact int64 sums, so partition
    // order cannot perturb the model), then the trajectory's final
    // weight table pinned dim by dim. The oracle unrolls the 3 epochs
    // as CTE triples m_t/g_t/w_t.
    Q("perceptron_weights",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        val feats = graft.ext.Perceptron.featureStream(
            docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
            when(col("source") === "src0", lit(1)).otherwise(lit(-1)), dims = 64)
          .localCheckpoint(eager = false) // (a): read 2x per epoch
        graft.ext.Perceptron.train(feats, "doc_id", dims = 64, epochs = 3)
          .orderBy("dim")
      },
      Some(s"""$perceptronCtes
             |SELECT dim, w FROM w3 ORDER BY dim""".stripMargin)),

    // X44 scoring face: the held-out 80% scored against the trained
    // boundary — per-doc integer margin and the ±1 prediction (margin 0
    // predicts -1, the same side the training rule calls misclassified).
    Q("perceptron_quality",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        val feats = graft.ext.Perceptron.featureStream(
            docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
            when(col("source") === "src0", lit(1)).otherwise(lit(-1)), dims = 64)
          .localCheckpoint(eager = false) // (a): read 2x per epoch
        val w = graft.ext.Perceptron.train(feats, "doc_id", dims = 64, epochs = 3)
        graft.ext.Perceptron.classify(
            docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", w, dims = 64)
          .orderBy("doc_id")
      },
      Some(s"""$perceptronCtes
             |SELECT f.doc_id, CAST(sum(f.tf * w.w) AS BIGINT) AS margin,
             |       CASE WHEN sum(f.tf * w.w) > 0 THEN 1 ELSE -1 END AS pred
             |FROM feat f JOIN w3 w USING (dim)
             |WHERE f.doc_id % 5 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** Shared perceptron oracle prelude: ±1 labels from the source column,
   * 64-bucket hashed tf stream, the %5=0 train split, zero init, and the
   * three unrolled epochs (mirror of Perceptron.train at epochs = 3). */
  private lazy val perceptronCtes: String = {
    val epochs = (1 to 3).map { t =>
      s"""m$t AS (SELECT tr.doc_id, tr.y, CAST(sum(tr.tf * w.w) AS BIGINT) AS margin
         |        FROM tr JOIN w${t - 1} w USING (dim) GROUP BY 1, 2),
         |g$t AS (SELECT tr.dim, CAST(sum(tr.y * tr.tf) AS BIGINT) AS g
         |        FROM tr JOIN m$t ON tr.doc_id = m$t.doc_id
         |        WHERE m$t.y * m$t.margin <= 0 GROUP BY 1),
         |w$t AS (SELECT w.dim, w.w + coalesce(g.g, 0) AS w
         |        FROM w${t - 1} w LEFT JOIN g$t g USING (dim))""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (
       |  SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE -1 END AS y,
       |         unnest(string_split(text, ' ')) AS t FROM documents),
       |feat AS (SELECT doc_id, y, CAST(${OracleSql.tokenHash("t")} % 64 AS BIGINT) AS dim,
       |                CAST(count(*) AS BIGINT) AS tf
       |         FROM tok GROUP BY 1, 2, 3),
       |tr AS (SELECT * FROM feat WHERE doc_id % 5 = 0),
       |w0 AS (SELECT CAST(range AS BIGINT) AS dim, CAST(0 AS BIGINT) AS w
       |       FROM range(0, 64)),
       |$epochs""".stripMargin
  }

  /** Shared NB oracle prelude: token-hash tf stream, doc lengths, the
   * train-split class-conditional counts, and the pruned model (mirror
   * of NaiveBayes.train at vocabPerClass = 20). */
  private lazy val nbCtes: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
       |tf AS (SELECT doc_id, lang, CAST(${OracleSql.tokenHash("t")} AS BIGINT) AS h,
       |              CAST(count(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY 1, 2, 3),
       |dlt AS (SELECT doc_id, lang,
       |               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |cnt AS (SELECT lang AS label, h, CAST(sum(tf) AS BIGINT) AS cnt
       |        FROM tf WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
       |feat AS (SELECT label, h, cnt FROM (
       |           SELECT label, h, cnt,
       |                  row_number() OVER (PARTITION BY label
       |                    ORDER BY cnt DESC, h) AS rk
       |           FROM cnt) WHERE rk <= 20)""".stripMargin
}
