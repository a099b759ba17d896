package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * X4 — text analysis for large-scale training-data pipelines: tokenizing,
 * counting, quality scoring, language-ID heuristics, and document
 * fingerprinting. Extension surface mandated by BASELINE.json's north star
 * (not present in the reference — SURVEY.md §2.11).
 *
 * Everything is a pure Catalyst expression over built-in higher-order
 * functions — no UDFs, fully codegen-compatible, shuffle-free per row —
 * so a 100 TB corpus scan stays embarrassingly parallel.
 *
 * Portability note: hashes are built from `ascii`/`length` arithmetic
 * (not xxhash64/md5-hex) so the DuckDB oracle can evaluate the identical
 * function — see SURVEY.md §7.6 on cross-engine function choice.
 */
object TextOps {

  /** Whitespace tokenizer (the fixtures are single-space word soup). */
  def tokens(text: Column): Column = split(text, " ")

  /**
   * Deterministic, cross-engine-portable token hash: a base-131
   * polynomial over the first 8 characters plus last-char and length
   * terms, reduced mod [[graft.ext.Dedup.P]]. Base 131 > any ASCII
   * codepoint, so the polynomial is injective on ASCII tokens up to 8
   * chars BEFORE the mod; longer tokens still disperse via the tail
   * terms. Out-of-range `substring` yields '' and `ascii('') = 0` in
   * both engines (verified against DuckDB), so short tokens need no
   * guards.
   *
   * History: until round 9 this was `ascii(first)*96 + ascii(last) +
   * length*7` — injective on the fixtures' 31-token vocabulary, but on a
   * realistic vocabulary it collapses to a few hundred values (every
   * token hash equal ⇒ every shingle equal ⇒ LSH buckets saturate). The
   * scale harness measured the blow-up: 7.7 M candidate pairs at 500 k
   * scale-generator docs (~60 k real near-dups), a 33× CPU step for a
   * 10× row step. A token hash must read more than two characters.
   */
  private val PolyChars = 8
  private val Pows: Seq[Long] = Seq.iterate(1L, PolyChars)(_ * 131L)
  // bounds: 127·Σ131^k (k<8) + 127·1000003 + 7·maxlen ≈ 8.5e16 « 2^63
  // under ANSI arithmetic; the final mod keeps downstream shingle/chunk
  // polynomials at their pre-round-9 ranges
  def tokenHash(t: Column): Column = {
    val poly = Pows.zipWithIndex
      .map { case (p, i) => ascii(substring(t, i + 1, 1)).cast("long") * lit(p) }
      .reduce(_ + _)
    (poly + ascii(substring(t, -1, 1)).cast("long") * lit(1000003L) +
      length(t).cast("long") * lit(7L)) % lit(graft.ext.Dedup.P)
  }

  /** SQL-text form of [[tokenHash]], for composing expr() strings that the
   * oracle mirrors verbatim. */
  def tokenHashSql(t: String): String = {
    val terms = Pows.zipWithIndex
      .map { case (p, i) => s"CAST(ascii(substring($t,${i + 1},1)) AS BIGINT)*$p" }
    s"((${terms.mkString(" + ")} + CAST(ascii(substring($t,-1,1)) AS BIGINT)*1000003" +
      s" + CAST(length($t) AS BIGINT)*7) % ${graft.ext.Dedup.P})"
  }

  /**
   * BPE-style subword token counting: a GPT-2-flavored pre-tokenizer
   * pattern reduced to dialect-shared character classes (letter runs,
   * single digits, single punctuation marks) so Spark's Java regex and
   * DuckDB's RE2 match identically. Counts approximate BPE token budgets
   * (real BPE merges within letter runs; the run count is the stable
   * lower-bound pipelines budget against).
   */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))

  /** First-[[PrefixTokens]]-token prefix key — the exact-dedup blocking
   * key used by the dedup and corpus-cleaning queries (SQL mirror:
   * OracleSql.prefixKey). */
  def prefixKey(text: Column): Column =
    concat_ws(" ", slice(split(text, " "), 1, PrefixTokens))

  val PrefixTokens = 3

  /** The stopword list of the Gopher rules and the text-quality signals
   * (the oracle SQL interpolates the same list). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Count of tokens appearing in a fixed stopword list. `array_contains`
   * over a literal array, not array_intersect (which would dedup). */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column = {
    val set = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  /** Token count — the length signal of the quality heuristics. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word 2-grams ("a b") of the token array — the unit of Gopher-style
   * repetition scoring. Empty for < 2 tokens (mirrors DuckDB
   * `range(1, len(w))`, empty on the same inputs). */
  def bigrams(toks: Column): Column =
    transform(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      (_, i) => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2)))

  /** Within-document duplicate-word fraction, 1 − distinct/total — the
   * Gopher repetition-filter signal that catches boilerplate padding.
   * Shuffle-free per row. */
  def dupWordFrac(toks: Column): Column =
    // size(toks) = 0 is unreachable for split()-produced arrays today
    // (empty text tokenizes to [""]) but a null/empty array from another
    // producer must yield 0.0, not NaN/null, so the guard pins the edge.
    when(size(toks) > 0,
      round(lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 6))
      .otherwise(lit(0.0))

  /** Type-token ratio (distinct/total tokens) — the complementary view of
   * [[dupWordFrac]]; 0.0 for empty/null arrays, same guard. */
  def typeTokenRatio(toks: Column): Column =
    when(size(toks) > 0,
      round(size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 6))
      .otherwise(lit(0.0))

  /**
   * PII redaction patterns, kept to character classes Java regex and
   * DuckDB's RE2 interpret identically (no lookarounds, no \b): emails
   * and NNN-NNNN...-style phone fragments. Real deployments swap in their
   * compliance patterns; the operator shape (regexp_replace chain +
   * regexp_extract_all counts, shuffle-free per row) is what scales.
   */
  val EmailPattern = "[a-z0-9._]+@[a-z0-9.-]+"
  val PhonePattern = "[0-9]{3}-[0-9]{4,}"

  /** Redact emails then phones; counts come from [[piiCounts]] so the
   * audit and the scrub share one pattern definition. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0)))

  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhonePattern), lit(0)))

  /**
   * Rolling polynomial fingerprint over the token stream:
   * fold(0, (acc, h(t)) => (acc*131 + h(t)) mod 1e9+7). Order-sensitive,
   * so it distinguishes permuted documents that bag-of-words hashes merge.
   */
  val FingerprintMod = 1000000007L

  def fingerprint(textCol: String): Column =
    // token hashing via the codegen kernel (one primitive loop; the SQL
    // formulation is the oracle's); only the trivial fold lambda stays HOF
    aggregate(
      org.apache.spark.sql.graft.SignatureKernels.tokenHashes(
        split(col(textCol), " "), graft.ext.Dedup.P),
      lit(0L).cast("bigint"),
      (acc, x) => (acc * lit(131L) + x) % lit(FingerprintMod))

  /**
   * Model-based quality scoring plumbing: a hashed bag-of-words LINEAR
   * scorer — the shape of the fastText-style quality classifiers in
   * public pipelines (CCNet, GPT-3's quality filter), with the trained
   * weights replaced by a deterministic integer weight table so the score
   * is exactly reproducible in the oracle. Per token: bucket =
   * tokenHash mod [[QualityBuckets]]; weight(b) =
   * (b·2654435761) mod 1999 − 999 ∈ [−999, 999] (thousandths). The score
   * accumulates in int64 — order-independent and exact, where a float
   * fold would vary by partitioning. Swapping real trained weights for
   * the synthetic table is a literal-array change; the Spark-side cost
   * (shuffle-free per-row codegen scan) is identical.
   */
  val QualityBuckets = 64

  def hashedLinearScore(textCol: String): Column =
    aggregate(
      transform(
        org.apache.spark.sql.graft.SignatureKernels.tokenHashes(
          split(col(textCol), " "), graft.ext.Dedup.P),
        h => (h % lit(QualityBuckets)) * lit(2654435761L) % lit(1999L) - lit(999L)),
      lit(0L).cast("bigint"), (acc, x) => acc + x)

  /** Language-ID by marker-token hit counts — the classic n-gram/stopword
   * profile heuristic reduced to two deterministic profiles. */
  val EnglishMarkers = Seq("the", "a", "of", "and", "to", "in")
  val TechMarkers = Seq("data", "table", "query", "row", "filter", "join")

  def langScores(toks: Column): (Column, Column) =
    (stopwordHits(toks, EnglishMarkers), stopwordHits(toks, TechMarkers))

  def predictedLang(toks: Column): Column = {
    val (en, tech) = langScores(toks)
    when(en > tech, "en").when(tech > en, "tech").otherwise("tie")
  }

  /**
   * Sparse term-frequency cosine pairs via an inverted index — the
   * lexical-overlap companion to the dense-embedding near-dup (X2d):
   * documents become sparse tf vectors over `termsCol` (an array<bigint>
   * of term hashes — unigram [[tokenHash]]es or
   * [[graft.ext.Dedup.withShingleHashes]] 3-gram hashes, caller's
   * choice of granularity), candidate pairs are generated ONLY through
   * shared terms (join on the term hash — never all-pairs), and
   * cos = dot / (‖a‖·‖b‖) over the integer tf vectors.
   *
   * Exactness across engines: tf, tf², and the dot accumulate in int64 —
   * order-independent; the only float ops are two sqrt's, one multiply,
   * one divide, one round — bit-deterministic IEEE on both engines.
   *
   * Scale levers, same posture as [[graft.ext.Dedup.ngramJaccardPairs]]:
   * `maxTermDf` is the document-frequency ceiling (prefix-filter idiom)
   * that keeps the inverted-index self-join linear when a stop-term
   * appears in d documents (O(d²) rows otherwise); norms are computed
   * over the SAME ceiled term set, so the reported cosine is
   * consistently "cosine over non-stop terms"; `minDot` prunes the pair
   * stream before the norm joins. The ceiling is enforced hot-key-safely
   * ([[graft.ext.HotKeys.dropOverCap]]): a stop term collapses map-side
   * to one count row and its instances are anti-joined away before any
   * shuffle, instead of funneling through the reducer that owns it.
   */
  def sparseCosinePairs(df: org.apache.spark.sql.DataFrame, idCol: String, termsCol: String,
      minDot: Long, maxTermDf: Long): org.apache.spark.sql.DataFrame = {
    val tf = df.select(col(idCol), explode_outer(col(termsCol)).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    // hot-key-safe df ceiling (HotKeys doc): a stop term's rows are
    // dropped map-side by the broadcast anti-join instead of all funneling
    // through one reducer under count-over-Window; the slim (id, tok, tf)
    // frame is staged once inside dropOverCap, and norms + both join
    // sides below read that same staged frame
    val filtered = graft.ext.HotKeys.dropOverCap(tf, Seq("tok"), maxTermDf)
    val norms = filtered.groupBy(idCol).agg(sum(col("tf") * col("tf")).as("n2"))
    val a = filtered.select(col(idCol).as("id_a"), col("tok"), col("tf").as("tf_a"))
    val b = filtered.select(col(idCol).as("id_b"), col("tok"), col("tf").as("tf_b"))
    a.join(b, Seq("tok")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("tf_a") * col("tf_b")).as("dot"))
      .filter(col("dot") >= minDot)
      .join(norms.select(col(idCol).as("id_a"), col("n2").as("n2_a")), "id_a")
      .join(norms.select(col(idCol).as("id_b"), col("n2").as("n2_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("dot"),
        round(col("dot").cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))), 6).as("cos6"))
  }

  /**
   * X33 — RAG-style document chunking: cut each document into
   * `chunkTokens`-token windows advancing by `stride` (overlap =
   * chunkTokens − stride), the retrieval-prep step between curation and
   * embedding. The LAST window is allowed to run short rather than
   * re-anchoring to the tail (re-anchoring duplicates content
   * non-uniformly and breaks offset arithmetic downstream).
   *
   * Chunk count is PURE integer arithmetic — `1 + max(0, (n − chunk +
   * stride − 1) div stride)` — identical under Spark's `div` and
   * DuckDB's `//` (both truncate toward zero; the numerator is only
   * negative when the answer is 0, which `greatest` absorbs), so the
   * oracle mirrors it without float ceil. Shuffle-free: one staged
   * tokenization per row, one generate — chunking 100 TB is a pure map.
   */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(stride > 0 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens], got $stride")
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(sequence(lit(0L),
          greatest(lit(0L), expr(s"(__n - $chunkTokens + ${stride - 1}) div $stride")))))
      .withColumnRenamed("pos", "chunk_idx")
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(chunkTokens.toLong), col("__n") - col("chunk_idx") * stride)
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("__toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(chunkTokens))).as("chunk_text"))
  }

  // ---------------------------------------------------------------------
  // Gopher-style composite quality rules (Rae et al. 2021, public
  // arXiv:2112.11446 Table A1): the rule-set face of quality filtering,
  // complementing the continuous scores (text_quality's ratios,
  // hashedLinearScore's model shape). Each rule is a pure per-row
  // predicate; a document carries every signal plus the FIRST failing
  // rule's name, the shape a pipeline needs to audit WHY mass was
  // dropped (per-rule kill counts), not just how much.
  // ---------------------------------------------------------------------

  /** Rule thresholds. The DEFAULTS are the published Gopher Table A1
   * bounds (arXiv:2112.11446, Rae et al. 2021, Appendix A1.1): word
   * count 50..100 000, mean word length 3..10 characters, ≥ 80 % of
   * words containing at least one alphabetic character, ≥ 2 stopword
   * hits — pinned by GopherBoundsSpec so a refactor cannot silently
   * drift the thresholds that define the operator. `maxDupWordFrac` is
   * this library's duplicate-word adaptation of the paper's separate
   * repetition filters (Table A1 bounds duplicate lines/paragraphs and
   * top-n-gram mass, units the fixture corpus doesn't carry). Callers
   * on corpora with a different document unit override per call — the
   * registered query passes the fixture-adapted 20..80 word bound
   * explicitly. */
  final case class GopherBounds(
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopwords: Int = 2,
      maxDupWordFrac: Double = 0.5)

  /**
   * Per-document Gopher rule evaluation. Output: every signal column
   * (n_words, mean_word_len, frac_alpha, n_stop, dup_frac), `passes`,
   * and `fail_reason` ('ok' | first failing rule in fixed audit order).
   *
   * Exactness: counts and length sums are int64; the three ratios are a
   * single IEEE division each (bit-deterministic), rounded to 6 dp on
   * both engines. Shuffle-free codegen scan — quality-gating 100 TB is
   * a pure map, same posture as [[scrubPii]]/[[hashedLinearScore]].
   */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Stopwords,
      b: GopherBounds = GopherBounds()): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    val meanLen = round(sumLen.cast("double") / n.cast("double"), 6)
    // [A-Za-z], not [a-z]: Gopher's rule is "contains at least one
    // ALPHABETIC character" — lowercase-only matching counted all-caps
    // words (NASA, USA) as non-alphabetic and over-fired alpha_ratio on
    // shouty but legitimate text (round-10 advisory). Oracle mirrors.
    val alphaFrac = round(
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / n.cast("double"), 6)
    val nStop = stopwordHits(toks, stopwords)
    val dupFrac = dupWordFrac(toks)
    df.select(
        col(idCol),
        n.cast("long").as("n_words"),
        meanLen.as("mean_word_len"),
        alphaFrac.as("frac_alpha"),
        nStop.cast("long").as("n_stop"),
        dupFrac.as("dup_frac"))
      .withColumn("fail_reason",
        when(col("n_words") < b.minWords || col("n_words") > b.maxWords, "word_count")
          .when(col("mean_word_len") < b.minMeanWordLen ||
            col("mean_word_len") > b.maxMeanWordLen, "mean_word_len")
          .when(col("frac_alpha") < b.minAlphaFrac, "alpha_ratio")
          .when(col("n_stop") < b.minStopwords, "stopwords")
          .when(col("dup_frac") >= b.maxDupWordFrac, "repetition")
          .otherwise("ok"))
      .withColumn("passes", col("fail_reason") === "ok")
  }

  // ---------------------------------------------------------------------
  // Self-trained bigram language-model surprisal — the KenLM-perplexity
  // shape of CCNet/RedPajama quality scoring (score each document by how
  // predictable its token stream is under an n-gram LM trained on the
  // corpus itself), made cross-engine exact: the published −log₂ P is
  // replaced by the INTEGER log₂ floor via binary digit counts
  // (bitlen(ctx_count) − bitlen(bigram_count) ∈ [0, 63]), a monotone
  // proxy for the MLE surprisal that two engines compute bit-identically
  // with no transcendentals. Swapping a real smoothed LM in changes one
  // expression; the distributed shape is identical.
  // ---------------------------------------------------------------------

  /**
   * Per-document mean bigram surprisal. The instance stream travels as
   * int64 hash pairs (kernel-hashed tokens packed shingle-style) — text
   * never crosses the wire. Documents with < 2 tokens have no bigrams
   * and drop out (the oracle's `range(1, len)` is empty on the same
   * inputs).
   *
   * Skew posture (the round-10 finding this shape fixes): bigram
   * frequencies are Zipfian — the top bigram is O(1 %) of ALL instances
   * at corpus scale, so the previous `count().over(Window.partitionBy
   * (bh|ph))` form, which must ship every instance row of a key to the
   * one reducer owning it (a window, unlike groupBy, cannot partially
   * aggregate OR be split), was a straggler/spill scale-killer. Now the
   * two count tables are map-side-combined `groupBy`s (hot keys collapse
   * to one row per map task before the shuffle) joined back to the
   * staged instance frame — and a JOIN, unlike a window, is
   * AQE-skew-splittable (the instance side of a hot key can be divided
   * across tasks with the one matching count row replicated). The
   * instance frame is staged once (localCheckpoint) so the
   * scan→kernel→explode lineage executes exactly once across its three
   * consumers, and the count-table joins are SHUFFLE_HASH-hinted (see
   * inline note). Cost vs the skew-broken window shape at the 500 k-doc
   * ScaleBench point: 97 vs 72 CPU-s (+35 %), wall 7.6 vs 7.0 s — the
   * price of the hot-key safety; measured LINEAR on the hot-bigram
   * corpus (≥1 % single-bigram mass) in `bigram_surprisal_zipf`.
   */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Staged eagerly, (a): THREE consumers read the instance stream and
    // Spark does not reuse the exchange across them (verified in the
    // plan — the kernel scan ran 3× unstaged).
    val inst = bigramInstances(df, idCol, textCol).localCheckpoint()
    // Map-side-combined count tables: a hot key collapses to one row per
    // map task before the shuffle (the groupBy property the window
    // lacked). The context table is VOCABULARY-sized (distinct ph ≤
    // distinct tokens), so its join broadcasts under AQE; the bigram
    // table is larger (distinct bigrams) — SHUFFLE_HASH-hinted, because
    // the default sort-merge join would re-sort the full instance stream
    // AND the count table (measured +60 CPU-s at 500 k ScaleBench docs)
    // where a per-partition hash build of the count side costs neither
    // sort. Both joins stay AQE-skew-splittable (the hot key's instance
    // rows divide across tasks; the one matching count row replicates).
    val bc = inst.groupBy("bh").agg(count(lit(1)).as("big_n"))
    val cc = inst.groupBy("ph").agg(count(lit(1)).as("ctx_n"))
    inst.join(bc.hint("SHUFFLE_HASH"), "bh").join(cc.hint("SHUFFLE_HASH"), "ph")
      .withColumn("surprisal",
        (length(bin(col("ctx_n"))) - length(bin(col("big_n")))).cast("long"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum("surprisal").as("surprisal_sum"))
      .withColumn("avg_surprisal",
        round(col("surprisal_sum").cast("double") / col("n_bigrams").cast("double"), 6))
  }

  /** The (doc, context-hash, bigram-hash) instance stream feeding
   * [[bigramSurprisal]] — exposed package-private so the plan spec can
   * pin the kernel in the pre-checkpoint lineage. The (ph, bh) pairs
   * come from ONE codegen kernel emitting 16-byte structs — both the
   * ArrayTransform formulation (CodegenFallback) and the
   * explode-one-array-index-the-other shape (which drags the token-hash
   * array through the Generate, O(tokens²) bytes/doc) measured ~2 s of
   * this query's cost at sf0.1. */
  private[graft] def bigramInstances(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val P = graft.ext.Dedup.P
    val K = org.apache.spark.sql.graft.SignatureKernels
    val th = K.tokenHashes(tokens(col(textCol)), P)
    df.select(col(idCol), explode(K.bigramPairs(th, P)).as("pair"))
      .select(col(idCol), col("pair.ph").as("ph"), col("pair.bh").as("bh"))
  }

  // ---------------------------------------------------------------------
  // Content-defined chunking (the rsync/LBFS/FastCDC boundary idiom,
  // public since Muthitacharoen et al. 2001): chunk boundaries are
  // decided by a hash of the LOCAL character window, so an insertion
  // early in a document shifts only the chunks it touches — unlike
  // fixed-stride chunking (chunkDocs / Dedup.withChunkHashes) where one
  // inserted token re-aligns every downstream chunk. This is the
  // shift-robust half of chunk-level dedup.
  // ---------------------------------------------------------------------

  /** Boundary window width and divisor: a boundary falls after char i
   * when the base-131 polynomial of chars (i−3..i) ≡ 0 mod 64 — expected
   * chunk length 64 chars. The basic CDC form (no min/max chunk clamp):
   * the boundary test depends only on a fixed-width window, so every
   * position is testable INDEPENDENTLY — which is what makes the
   * operator a pure per-row map (and SQL-expressible for the oracle)
   * instead of a sequential scan. */
  val CdcWindow = 4
  val CdcDivisor = 64L

  /**
   * Explode each document into content-defined chunks:
   * (id, chunk_idx, c_start, c_len, c_hash) with c_hash the base-131
   * char polynomial of the chunk mod [[graft.ext.Dedup.P]]. All-integer
   * arithmetic; documents shorter than the window are one whole-document
   * chunk. Shuffle-free per row via the [[org.apache.spark.sql.graft.CdcSpans]]
   * codegen kernel (one code-point pass; the HOF formulation below is
   * O(len²) interpreted — measured 12 s vs sub-second over 500 sf0.01
   * docs — and stays only as the oracle-shaped equivalence reference).
   */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String): DataFrame =
    chunkRows(df, idCol, org.apache.spark.sql.graft.SignatureKernels.cdcSpans(
      col(textCol), CdcWindow, CdcDivisor, graft.ext.Dedup.P))

  /** One (id, chunk_idx, c_start, c_len, c_hash) row per element of the
   * `spans` array of each row of `df`. */
  private def chunkRows(df: DataFrame, idCol: String, spans: Column): DataFrame =
    df.select(col(idCol), posexplode(spans).as(Seq("chunk_idx", "sp")))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("sp.c_start").cast("long").as("c_start"),
        col("sp.c_len").cast("long").as("c_len"),
        col("sp.c_hash").as("c_hash"))

  /** Default clamp bounds for [[cdcChunksClamped]]: expected chunk 64
   * chars ([[CdcDivisor]]), normalized to [32, 128] — the ±2× window the
   * FastCDC evaluation uses around its target size. */
  val CdcMinLen = 32
  val CdcMaxLen = 128

  /**
   * [[cdcChunks]] with min/max chunk-length NORMALIZATION (the FastCDC
   * production posture): a content boundary counts only once the open
   * chunk reaches `minLen` code points, and a cut is forced at `maxLen`.
   * This bounds the two degenerate corpora the unclamped form admits —
   * adversarial periodic text whose window polynomial hits the divisor
   * every few chars (chunk table blows up ~divisor/window ×) and
   * divisor-avoiding text that yields one document-sized chunk. Forced
   * cuts are position-dependent, so shift-robustness is lost AT a forced
   * boundary only; content cuts re-synchronize downstream.
   *
   * The normalization makes the boundary rule depend on the previous cut
   * — a sequential scan, NOT ANSI-SQL-expressible per position — so like
   * the BPE trainer this variant is registered rows-only and spec-pinned
   * against an independent sequential reference (CdcClampSpec); the
   * unclamped [[cdcChunks]] stays the oracle-matched face. Same O(len)
   * codegen kernel, same pure-map scale posture.
   */
  def cdcChunksClamped(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = CdcMinLen, maxLen: Int = CdcMaxLen): DataFrame =
    chunkRows(df, idCol, org.apache.spark.sql.graft.SignatureKernels.cdcSpansClamped(
      col(textCol), CdcWindow, CdcDivisor, graft.ext.Dedup.P, minLen, maxLen))

  /** HOF/SQL-shaped reference formulation of [[cdcChunks]] — the exact
   * expression family the DuckDB oracle evaluates; spec-pinned equal to
   * the kernel. Not for production paths. */
  private[ext] def cdcChunksHof(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val P = graft.ext.Dedup.P
    val w = CdcWindow
    val len = length(col(textCol))
    // window polynomial ending at 1-based char position i
    def winPoly(i: Column): Column =
      (0 until w).map { k =>
        ascii(charAt(col(textCol), i - lit(w - 1 - k))) * lit(pow131(w - 1 - k))
      }.reduce(_ + _)
    val bounds = filter(sequence(lit(w), len),
      i => i < len && winPoly(i) % lit(CdcDivisor) === 0)
    val cuts = when(len >= w,
        concat(array(lit(0)), bounds, array(len)))
      .otherwise(array(lit(0), len))
    val spans = transform(
      slice(cuts, lit(1), greatest(size(cuts) - 1, lit(0))),
      (s, j) => struct(s.as("s"), (element_at(cuts, j + 2) - s).as("l")))
    df.select(col(idCol), col(textCol).as("__t"), posexplode(spans).as(Seq("chunk_idx", "sp")))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("sp.s").cast("long").as("c_start"),
        col("sp.l").cast("long").as("c_len"),
        // zero-length chunk (only possible for empty input text) hashes
        // to 0; the guard also keeps sequence() from going descending
        when(col("sp.l") > 0,
          aggregate(
            sequence(col("sp.s") + 1, col("sp.s") + col("sp.l")),
            lit(0L),
            (acc, k) => (acc * lit(131L) + ascii(charAt(col("__t"), k))) % lit(P)))
          .otherwise(lit(0L)).as("c_hash"))
  }

  /** 1-char substring at a (column) position — functions.substring wants
   * literal ints; Column.substr takes columns. Shared shim for
   * [[cdcChunks]]'s window reads. */
  private def charAt(text: Column, pos: Column): Column =
    text.substr(pos.cast("int"), lit(1).cast("int"))

  private def pow131(k: Int): Long = Seq.fill(k)(131L).product

  /**
   * X4j — trigram LM with STUPID BACKOFF (Brants et al. 2007, "Large
   * Language Models in Machine Translation" — the backoff scheme
   * designed for MapReduce-scale counts: no discounting state, just
   * relative frequencies with a constant backoff factor α). Counts are
   * trained on `train` and score every ≥3-token document of `score` —
   * the held-out novelty/perplexity profile a curation pipeline uses
   * (CCNet's LM filter stage), with per-level backoff counts as the
   * audit signal (how much of a doc is three-gram-predictable vs novel).
   *
   * Integer-exact cross-engine form: −log₂ relative frequencies become
   * binary digit-count differences (the X4h device), and α = 1/2 — a
   * power of two — makes each backoff level cost EXACTLY one extra bit:
   *
   *   tri seen:      surp = bitlen(cnt(c2)) − bitlen(cnt(tri))
   *   else big seen: surp = 1 + bitlen(cnt(c1)) − bitlen(cnt(big))
   *   else:          surp = 2 + bitlen(N) − bitlen(cnt(w) + 1)
   *
   * (the unigram floor is Laplace add-one so out-of-vocabulary tokens
   * stay finite; a seen trigram implies its context bigram is seen and
   * a seen bigram implies its first token is seen, so the taken branch
   * never reads a null count). Σ over a doc's positions, with
   * tri/bigram/unigram level tallies.
   *
   * Shape (the X4h discipline): the train hash arrays are staged once
   * (localCheckpoint — four count consumers); trigram counts come from
   * the EXISTING ShingleHashes3 stream and bigram counts from
   * BigramPairs' bh (the kernel formulas are shared by construction —
   * see [[org.apache.spark.sql.graft.TrigramTuples]]); all three count
   * tables are map-side-combined groupBys; the scorer's five per-
   * position keys come from ONE TrigramTuples kernel pass and join the
   * count tables SHUFFLE_HASH (a sort-merge would re-sort the full
   * instance stream per join; hash builds cost neither sort and stay
   * AQE-skew-splittable on Zipfian-hot n-grams).
   */
  def trigramBackoffSurprisal(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val K = org.apache.spark.sql.graft.SignatureKernels
    val P = graft.ext.Dedup.P
    def hashed(d: DataFrame) =
      d.select(col(idCol), K.tokenHashes(tokens(col(textCol)), P).as("th"))
    val tr = hashed(train).localCheckpoint() // (a): the four count tables below
    val tc = tr.select(explode(K.shingleHashes3(col("th"), P)).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("tri_n"))
    val bc = tr.select(explode(K.bigramPairs(col("th"), P)).as("pr"))
      .select(col("pr.bh").as("bh"))
      .groupBy("bh").agg(count(lit(1)).as("big_n"))
    val uc = tr.select(explode(col("th")).as("u"))
      .groupBy("u").agg(count(lit(1)).as("uni_n"))
    val nTok = tr.agg(sum(size(col("th"))).cast("long").as("n_tok"))
    val inst = hashed(score)
      .select(col(idCol), explode(K.trigramTuples(col("th"), P)).as("t"))
      .select(col(idCol), col("t.tri").as("tri"), col("t.c2").as("c2"),
        col("t.fb").as("fb"), col("t.c1").as("c1"), col("t.w").as("wt"))
    def bl(c: Column): Column = length(bin(c)).cast("long")
    val scored = inst
      .join(tc.hint("SHUFFLE_HASH"), inst("tri") === tc("tri"), "left_outer")
      .join(bc.select(col("bh").as("__c2"), col("big_n").as("c2_n")).hint("SHUFFLE_HASH"),
        col("c2") === col("__c2"), "left_outer")
      .join(bc.select(col("bh").as("__fb"), col("big_n").as("fb_n")).hint("SHUFFLE_HASH"),
        col("fb") === col("__fb"), "left_outer")
      .join(uc.select(col("u").as("__c1"), col("uni_n").as("c1_n")).hint("SHUFFLE_HASH"),
        col("c1") === col("__c1"), "left_outer")
      .join(uc.select(col("u").as("__wt"), col("uni_n").as("w_n")).hint("SHUFFLE_HASH"),
        col("wt") === col("__wt"), "left_outer")
      .crossJoin(broadcast(nTok))
      .withColumn("lvl",
        when(col("tri_n").isNotNull, lit(0))
          .when(col("fb_n").isNotNull, lit(1)).otherwise(lit(2)))
      // collision floor: a tri/fb hash can hit the count table while the
      // CONTEXT hash misses (different trigram in train shares the hash).
      // An uncoalesced NULL context count nulls the whole surprisal —
      // sum() then skips the instance while n_scored counts it, silently
      // deflating avg_surprisal. Floor at the matched n-gram count (in an
      // uncollided model count(context) >= count(ngram), so the floor is
      // the tightest value that keeps surp >= 0). Oracle mirrors it.
      .withColumn("surp",
        when(col("lvl") === 0, bl(coalesce(col("c2_n"), col("tri_n"))) - bl(col("tri_n")))
          .when(col("lvl") === 1,
            lit(1L) + bl(coalesce(col("c1_n"), col("fb_n"))) - bl(col("fb_n")))
          .otherwise(lit(2L) + bl(col("n_tok")) - bl(coalesce(col("w_n"), lit(0L)) + 1)))
    scored.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_scored"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_big_backoffs"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_uni_backoffs"),
        sum("surp").as("surprisal_sum"))
      .withColumn("avg_surprisal",
        round(col("surprisal_sum").cast("double") / col("n_scored").cast("double"), 6))
  }

  // ---------------------------------------------------------------------
  // X38 — BM25 lexical retrieval (Robertson & Spärck Jones; the Okapi
  // tf-saturation form with k1 = 1.2, b = 0.75), made cross-engine exact:
  // the transcendental idf log₂((N)/(df)) becomes the INTEGER binary
  // digit-count floor bitlen(N) − bitlen(df) (the bigramSurprisal
  // device), and the tf-saturation ratio — rational in (tf, dl, avgdl)
  // for rational k1, b — is evaluated as one integer division in
  // micro-units. Both engines compute the identical int64 score.
  // ---------------------------------------------------------------------

  /**
   * "More-like-this" BM25: each document with id < `nQueries` is a
   * query (its distinct term set); every other document is scored by
   * Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), and
   * the top `k` per query survive. Output: (query_id, rank, doc_id,
   * score_fixed) with score_fixed in µ-units.
   *
   * Terms are the engine's 3-gram shingle HASHES ([[Dedup.withShingleHashes]]),
   * not raw unigrams: int64 terms keep posting rows slim (text never
   * leaves its scan), and shingles stay discriminative on
   * small-vocabulary corpora where every unigram is a stopword (the
   * fixture's 31-word vocabulary puts every unigram in ~80 % of
   * documents — unigram BM25 there is all idf≈0 ties). Documents
   * shorter than 3 tokens have no shingles and drop out of both corpus
   * statistics and scoring, in both engines.
   *
   * Integer form (exact in both engines; A_c = ⌊100·Σdl/N⌋ is avgdl in
   * hundredths, idf = bitlen(N) − bitlen(df) ≥ 0):
   *   contrib_µ = (idf · 22·tf·A_c · 10⁶) div (10·A_c·tf + 3·A_c + 900·dl)
   * — numerator/denominator are the BM25 ratio scaled by 10·A_c (k1+1 =
   * 11/5, k1·(1−b) = 3/10, k1·b = 9/10). Overflow: safe while
   * idf·22·tf·A_c·10⁶ < 2⁶³, i.e. tf·avgdl ≲ 6·10⁹ — any real document
   * family (a 10⁵-token doc against a 10⁴-token average is 10⁹).
   *
   * Scale posture — ZERO corpus-sized shuffles. Every (doc, term) tf is
   * computed INSIDE the row that already holds all the doc's shingles
   * (the `HashCounts` kernel: one O(k log k) sort+run-length pass per
   * doc — the O(k²) HOF form is a straggler on long documents), so the
   * classic inverted-index groupBy exchange never exists; dl rides the
   * same row as `size(shingles)`. The per-doc frame is staged once
   * (localCheckpoint — three consumers, and Spark does not reuse the
   * scan across them), then: corpus stats are one map-side-combined
   * aggregate; the posting stream is restricted to QUERY terms by a
   * broadcast semi-join before anything wide (only t ∈ q ∩ d can score,
   * so df needs counting only for query terms — over all their postings,
   * which the semi-join keeps); df comes from a map-side-combined
   * groupBy over that restricted stream (≤ nQueries·|q| distinct keys);
   * and a Zipfian-hot query term (df ≈ O(N)) costs one linear
   * scan-and-drop — the `maxDf` ceiling (production's stopword drop,
   * sparseCosinePairs' device) removes it in the broadcast df join, so
   * surviving candidates are ≤ nQueries·|q|·maxDf rows INDEPENDENT of
   * corpus size. Ranking goes through the native GroupTopK — bounded
   * per-partition heaps, candidates never shuffle unranked. Measured in
   * the `bm25` ScaleBench family (hot-cluster corpus, 250× maxDf terms).
   */
  def bm25MoreLikeThis(df: DataFrame, idCol: String, textCol: String,
      nQueries: Int = 5, k: Int = 10, maxDf: Long = 20L): DataFrame = {
    val K = org.apache.spark.sql.graft.SignatureKernels
    val sh = col(graft.ext.Dedup.ShinglesCol)
    // per-doc inverted-index rows, built row-locally: (id, dl, [(h, c)])
    val docTf = graft.ext.Dedup.withShingleHashes(df.select(col(idCol), col(textCol)), textCol)
      .filter(size(sh) > 0)
      .select(col(idCol), size(sh).cast("long").as("dl"), K.hashCounts(sh).as("tfs"))
      .localCheckpoint() // (a): the corpus stats, the queries and the postings
    // one tiny stat row: corpus doc count and the avgdl hundredths
    val stats = docTf.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tok"))
      .select(col("n_docs"), expr("(n_tok * 100) div n_docs").as("a_c"))
    val tf = docTf.select(col(idCol), col("dl"), explode(col("tfs")).as("tc"))
      .select(col(idCol), col("dl"), col("tc.h").as("token"), col("tc.c").as("tf"))
    val queries = tf.filter(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"), col("token"))
    val qtok = queries.select("token").distinct()
    // all postings of query terms — and nothing else crosses this point
    val posting = tf.join(broadcast(qtok), "token")
    val dfreq = posting.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val cand = posting.join(broadcast(dfreq), "token")
      .join(broadcast(queries), "token")
      .filter(col(idCol) =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", (length(bin(col("n_docs"))) - length(bin(col("df")))).cast("long"))
      .withColumn("contrib",
        expr("(idf * 22 * tf * a_c * 1000000) div (10 * a_c * tf + 3 * a_c + 900 * dl)"))
    val scored = cand.groupBy(col("query_id"), col(idCol).as("doc_id"))
      .agg(sum("contrib").as("score_fixed"))
    org.apache.spark.sql.graft.plans.GroupTopK
      .topkPerKey(scored, Seq("query_id"),
        Seq(col("score_fixed").desc, col("doc_id").asc), k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score_fixed").desc, col("doc_id").asc)))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score_fixed"))
  }
}
