package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * X42 — the END-TO-END curation pipeline composition: the six curation
 * stages this library implements individually, chained the way a
 * production training-data run chains them, with a per-stage census (the
 * run-ledger view of where corpus mass went):
 *
 *   ingest → Gopher quality rules → span-level dedup (rewrite) →
 *   verified near-dup drop → Bloom-prefiltered eval decontamination →
 *   temperature sampling → sequence packing.
 *
 * Stage order is the standard one (quality first so later, more
 * expensive stages see less data; dedup before decontamination so the
 * eval comparison runs on final text; sampling after all drops so strata
 * sizes reflect the curated corpus; packing last). Each stage's output
 * is staged once (lazy localCheckpoint) because it feeds BOTH the next
 * stage and its census aggregate — unstaged, every census row would
 * re-run the whole prefix of the pipeline (the exact double-lineage
 * class the HotKeys round fixed). That is clause (a) of the staging rule
 * (README, scale design) for all seven staged frames, the eval set
 * included: the Bloom build and the probe join both read it.
 *
 * Census semantics: one row per stage with the documents and whitespace
 * tokens REMAINING after the stage (`n_docs`, `n_tokens`), and for the
 * packing stage the total number of [[SeqLen]]-token training sequences
 * the survivors pack into (`n_seqs`, 0 elsewhere). Token counts after
 * the span-dedup rewrite count the REWRITTEN text. Documents rewritten
 * to zero tokens are dropped by the rewrite stage. The near-dup drop
 * keeps the lower id of each verified pair (every `id_b` of a verified
 * pair drops — deterministic, single-pass; a chain a<b<c keeps exactly
 * `a` because both pairs orient their drop at the greater id).
 *
 * The eval set for decontamination is the [[EvalSource]] split's
 * ORIGINAL text (benchmarks don't get curated); a surviving train doc
 * sharing ≥ 1 3-gram shingle with it is quarantined. At scale the
 * membership probe runs behind the [[Bloom]] prefilter (map-side
 * discard, exact verify join) — the bitset is an execution strategy, not
 * a semantics change, so the census is oracle-exact.
 *
 * The stages shared with the ledger build and the incremental fold
 * ([[PipelineIncremental]]) are defined once below; each caller stages
 * their outputs itself.
 */
object Pipeline {
  import Dedup.{BandBucketCap, ChunkSize, NearDupMinJaccard}

  /** The source value of the eval split: its documents are the
   * decontamination reference and never enter the training corpus. */
  val EvalSource = "src0"

  /** Tokens per packed training sequence (stage 6). */
  val SeqLen = 512L

  def curationPipeline(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, srcCol: String,
      bounds: TextOps.GopherBounds = TextOps.GopherBounds(),
      chunkSize: Int = ChunkSize, minJaccard: Double = NearDupMinJaccard, bucketCap: Int = BandBucketCap): DataFrame = {
    // fail-fast on the working-column names the stages introduce onto
    // frames derived from `docs` (sibling-operator convention; the
    // stage-2 join would otherwise be ambiguous at runtime)
    graft.ops.SqlTypes.requireFreeColumns(docs,
      Seq("n_kept_tokens", "kept_text", "keep", "sh", "n_raw_tokens",
        Dedup.ShinglesCol))
    // n_raw_tokens computed ONCE into the checkpoint (r18): census rows
    // 0 and 1 used to re-tokenize the cached text — two full corpus
    // tokenize passes for two sums the projection can carry as one long
    val train0 = trainRows(docs, idCol, textCol, langCol, srcCol)
      .localCheckpoint(eager = false)

    // 1 — Gopher composite quality rules
    val kept1 = gopherSurvivors(train0, idCol, textCol, bounds)
      .localCheckpoint(eager = false)

    // 2 — span-level dedup rewrite (cross-doc duplicated chunks removed);
    // chunk document frequency is computed over the CURRENT corpus
    // (kept1), not the raw input — the pipeline's df is the curated df
    val kept2 = spanSurvivors(Dedup.dedupSpans(kept1, idCol, textCol, chunkSize),
        kept1, idCol, textCol, langCol)
      .localCheckpoint(eager = false)

    // 3 — verified near-dup drop over the REWRITTEN text (LSH recall,
    // exact-Jaccard precision); drop the greater id of each pair
    val dropIds = Dedup.verifiedNearDupPairs(kept2, idCol, textCol, minJaccard, bucketCap)
      .select(col("id_b").as(idCol)).distinct()
    val kept3 = kept2.join(dropIds, Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)

    // 4 — eval decontamination: Bloom prefilter map-side, exact verify
    val evalSh = evalShingles(docs, textCol, srcCol).distinct()
      .localCheckpoint(eager = false)
    val contaminated = contaminatedIds(
      Dedup.explodeShingles(kept3, idCol, textCol, "sh"), evalSh, idCol)
    val kept4 = kept3.join(contaminated, Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)

    // 5 — temperature sampling by stratum over the CURATED strata counts
    val kept5 = Curation.temperatureAnnotate(kept4, langCol, col(idCol))
      .filter(col("keep"))
      .select(col(idCol), col(textCol), col(langCol), col("n_kept_tokens"))
      .localCheckpoint(eager = false)

    // 6 — sequence packing: survivors concatenate per stratum into
    // SeqLen-token training sequences; the census records the total
    val packed = Curation.packSequences(kept5, idCol, langCol,
      col("n_kept_tokens"), SeqLen)

    Seq(
      census(0, "ingest", train0, col("n_raw_tokens")),
      census(1, "gopher", kept1, col("n_raw_tokens")),
      census(2, "span_dedup", kept2, col("n_kept_tokens")),
      census(3, "neardup_drop", kept3, col("n_kept_tokens")),
      census(4, "decontaminate", kept4, col("n_kept_tokens")),
      census(5, "temperature", kept5, col("n_kept_tokens")),
      packCensus(kept5, packed, langCol)
    ).reduce(_ union _).orderBy("stage_idx")
  }

  /** Stage 0 — ingest: every row outside the eval split, as (id, text,
   * lang, n_raw_tokens). */
  private[ext] def trainRows(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, srcCol: String): DataFrame =
    docs.filter(col(srcCol) =!= EvalSource)
      .select(col(idCol), col(textCol), col(langCol),
        rawTok(col(textCol)).as("n_raw_tokens"))

  /** The eval split's 3-gram shingles (`sh`), one row per occurrence;
   * callers take the distinct set. */
  private[ext] def evalShingles(docs: DataFrame, textCol: String,
      srcCol: String): DataFrame =
    Dedup.withShingleHashes(docs.filter(col(srcCol) === EvalSource), textCol)
      .select(explode_outer(col(Dedup.ShinglesCol)).as("sh"))
      .filter(col("sh").isNotNull)

  /** Stage 1 — the rows of `train` that pass every Gopher rule. */
  private[ext] def gopherSurvivors(train: DataFrame, idCol: String, textCol: String,
      bounds: TextOps.GopherBounds): DataFrame =
    train.join(TextOps.gopherRules(train, idCol, textCol, TextOps.Stopwords, bounds)
        .filter(col("passes")).select(col(idCol)), Seq(idCol))

  /** Stage 2 — the span-dedup rewrite (`rewritten`, [[Dedup.spanRewrite]]
   * output over `src`) as (id, text, lang, n_kept_tokens), documents
   * rewritten to zero tokens dropped. */
  private[ext] def spanSurvivors(rewritten: DataFrame, src: DataFrame,
      idCol: String, textCol: String, langCol: String): DataFrame =
    rewritten.filter(col("n_kept_tokens") > 0)
      .join(src.select(col(idCol), col(langCol)), Seq(idCol))
      .select(col(idCol), col("kept_text").as(textCol), col(langCol), col("n_kept_tokens"))

  /** Per-document distinct shingle index (id, sh) of `df`'s text. */
  private[ext] def shingleIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.explodeShingles(df, idCol, textCol, "sh", array_distinct)

  /** Stage 4 — the distinct ids of `shingles` (id, sh) sharing a shingle
   * with the distinct eval set `evalSh` (sh): a Bloom filter of `evalSh`
   * discards map-side, the join verifies exactly. */
  private[ext] def contaminatedIds(shingles: DataFrame, evalSh: DataFrame,
      idCol: String): DataFrame = {
    val words = Bloom.buildWords(evalSh, "sh")
    shingles.filter(Bloom.mightContain(words, col("sh")))
      .join(evalSh, Seq("sh"))
      .select(col(idCol)).distinct()
  }

  /** Whitespace token count — the census unit both engines agree on
   * (`len(string_split(text, ' '))`, NOT the trimming tokenizer). */
  private[ext] def rawTok(c: Column): Column = size(split(c, " ")).cast("long")

  /** One census row: documents and tokens REMAINING after a stage. */
  private[ext] def census(idx: Int, name: String, df: DataFrame, tok: Column): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(tok), lit(0L)).as("n_tokens"))
      .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
        col("n_docs"), col("n_tokens"), lit(0L).as("n_seqs"))

  /** The packing census row: survivors plus the total number of training
   * sequences they pack into (per-stratum last sequence index, summed). */
  private[ext] def packCensus(kept5: DataFrame, packed: DataFrame,
      langCol: String): DataFrame = {
    val nSeqs = packed.groupBy(col(langCol))
      .agg(max(col("first_seq") + col("n_seqs")).as("__ls"))
      .agg(coalesce(sum("__ls"), lit(0L)).as("n_seqs"))
    kept5
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_kept_tokens")), lit(0L)).as("n_tokens"))
      .crossJoin(broadcast(nSeqs))
      .select(lit(6).as("stage_idx"), lit("pack").as("stage"),
        col("n_docs"), col("n_tokens"), col("n_seqs"))
  }
}
