package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Dedup
import graft.io.TableIO

/**
 * X1/X2 — deduplication queries over the documents corpus. Full texts are
 * unique in the fixture, so exact dedup keys on the 3-token prefix (which
 * does collide); near-dup signatures hash 3-gram shingles.
 */
object DedupQueries {

  private val shinglesSql = OracleSql.shingles
  /** Mirror of Dedup.minhash incl. the 62-bit-masked short-doc sentinel
   * (Dedup.sentinel): ≤ -2 for every id, so never in [0, P). */
  private def sigSql(a: Long, b: Long) =
    s"coalesce(list_min(list_transform($shinglesSql, s -> (s * $a + $b) % ${Dedup.P})), -(doc_id & ${Dedup.SentinelMask}) - 2)"
  private val sigsSelect = Dedup.MinhashSeeds.zipWithIndex
    .map { case ((a, b), i) => s"${sigSql(a, b)} AS sig$i" }.mkString(",\n  ")
  private val prefixKeySql = OracleSql.prefixKey

  /** Mirror of Dedup.connectedComponents over the banded pairs `p` of the
   * documents (recursive, so the query opens with WITH RECURSIVE). */
  private val bandedReachCtes: String =
    s"""${OracleSql.cappedBandsCtes("documents")},
       |p AS (
       |  ${OracleSql.bucketPairsSql("")}),
       |${OracleSql.reachCtes("p")}""".stripMargin

  /** The oracle of both connected-components algorithms: each clustered
   * doc with its min-id cluster. */
  private val clustersOracle =
    s"""WITH RECURSIVE $bandedReachCtes
       |${OracleSql.reachClusters}
       |ORDER BY id""".stripMargin

  /** Mirror of Dedup.verifiedNearDupPairs' candidates: the banded pairs
   * `p` (with `cols`) and each document's distinct shingle set `sets`
   * (Dedup.shingleSets). */
  private def verifiedCandidateCtes(cols: String): String =
    s"""${OracleSql.cappedBandsCtes("documents")},
       |p AS (
       |  ${OracleSql.bucketPairsSql(cols)}),
       |sets AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM documents)""".stripMargin

  /** Mirror of Dedup.withPairSets: both endpoints' sets attached to `p`. */
  private val pairSetsJoin = "FROM p JOIN sets sa ON sa.doc_id = id_a JOIN sets sb ON sb.doc_id = id_b"

  /** Mirror of Dedup.verifiedNearDupPairs up to the Jaccard: CTE `v`
   * holds each candidate pair's n_bands, n_common, n_a and n_b, filtered
   * by `where`. */
  private def verifiedCountsCtes(where: String): String =
    s"""${verifiedCandidateCtes(", count(*) AS n_bands")},
       |v AS (
       |  SELECT id_a, id_b, n_bands,
       |         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common,
       |         CAST(len(sa.sh) AS BIGINT) AS n_a, CAST(len(sb.sh) AS BIGINT) AS n_b
       |  $pairSetsJoin$where)""".stripMargin

  /** Mirror of Dedup.simhash16 over `documents$where`: CTE `hs` stages
   * each doc's 16-bit shingle hashes once. */
  private def simhash16HashesCte(where: String): String =
    s"""hs AS (
       |  SELECT doc_id,
       |    list_transform($shinglesSql,
       |      s -> CAST((s * 2654435761) % 65536 AS BIGINT)) AS hl
       |  FROM documents$where)""".stripMargin

  /** Mirror of Dedup's simhash bit vote: a `bits`-bit sketch of the hash
   * list `hl`, bit b set at position `shift` when most hashes have it. */
  private def simhashBits(hl: String, bits: Int, shift: String): String =
    s"""CAST(list_sum(list_transform(range(0, $bits), b ->
       |      CASE WHEN list_sum(list_transform($hl, h -> ((h >> b) & 1) * 2 - 1)) > 0
       |           THEN CAST(1 AS BIGINT) << $shift ELSE 0 END)) AS BIGINT)""".stripMargin

  /** The 16-bit simhash select item over `hs`. */
  private val simhash16Sql =
    s"""CASE WHEN len(hl) = 0 THEN NULL ELSE
       |    ${simhashBits("hl", 16, "b")} END AS simhash""".stripMargin

  /** Mirror of Dedup.simhashPairs' outcome over the sketches `s`: the
   * brute-force pairs within Hamming distance Dedup.SimhashMaxHamming. */
  private val simhashPairsSql =
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.SimhashMaxHamming}
       |ORDER BY id_a, id_b""".stripMargin

  /** Mirror of Dedup.ngramJaccardPairs' inverted index over
   * `documents$where`: each doc's distinct shingles `sh`, dropping
   * shingles of df above `maxDf`. */
  private def ngramShinglesCtes(where: String, maxDf: Int): String =
    s"""sh0 AS (
       |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS shingle
       |  FROM documents$where),
       |sh AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
       |    FROM sh0)
       |  WHERE df <= $maxDf)""".stripMargin

  /** Mirror of Dedup.ngramJaccardPairs' pair count: doc pairs sharing at
   * least `minCommon` shingles of `sh`. */
  private def ngramCommonCte(minCommon: Int): String =
    s"""common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $minCommon)""".stripMargin

  val all: Seq[Q] = Seq(

    // X1 — exact dedup summary: representative id + cluster size per key.
    Q("dedup_exact",
      (s, dir) => Dedup.representatives(
          TableIO.read(s, dir, "documents")
            .withColumn("prefix_key", graft.ext.TextOps.prefixKey(col("text"))),
          Seq("prefix_key"), "doc_id")
        .select("keep_id", "dup_count")
        .orderBy("keep_id"),
      Some(s"""SELECT min(doc_id) AS keep_id, count(*) AS dup_count
              |FROM documents
              |GROUP BY $prefixKeySql
              |ORDER BY keep_id""".stripMargin)),

    // X1 — deterministic survivor selection (row_number tiebreak, NOT
    // dropDuplicates whose survivor depends on partitioning).
    Q("dedup_exact_keep",
      (s, dir) => Dedup.exactKeep(
          TableIO.read(s, dir, "documents")
            .withColumn("prefix_key", graft.ext.TextOps.prefixKey(col("text"))),
          Seq("prefix_key"), "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, source
              |FROM (SELECT doc_id, lang, source,
              |        row_number() OVER (PARTITION BY $prefixKeySql ORDER BY doc_id) AS rn
              |      FROM documents)
              |WHERE rn = 1
              |ORDER BY doc_id""".stripMargin)),

    // X2 — minhash signatures (4 universal hashes over 3-gram shingles).
    Q("dedup_minhash",
      (s, dir) => Dedup.withMinhashSignature(TableIO.read(s, dir, "documents"), "text")
        .select("doc_id", "sig0", "sig1", "sig2", "sig3")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  $sigsSelect
              |FROM documents
              |ORDER BY doc_id""".stripMargin)),

    // X2 — LSH candidate pairs: full-signature agreement, bucket-join
    // (shuffle on signature, never all-pairs).
    Q("dedup_minhash_pairs",
      (s, dir) => Dedup.minhashPairs(
          Dedup.withMinhashSignature(TableIO.read(s, dir, "documents"), "text"), "doc_id")
        .orderBy("doc_id", "doc_id_b"),
      Some(s"""WITH sigs AS (SELECT doc_id, $sigsSelect FROM documents)
              |SELECT a.doc_id AS doc_id, b.doc_id AS doc_id_b
              |FROM sigs a JOIN sigs b
              |  ON a.sig0 = b.sig0 AND a.sig1 = b.sig1 AND a.sig2 = b.sig2 AND a.sig3 = b.sig3
              | AND a.doc_id < b.doc_id
              |ORDER BY doc_id, doc_id_b""".stripMargin)),

    // X2 — banded LSH pairs (4 bands × 2 rows, OR across bands) with the
    // per-bucket size cap; n_bands = how many bands voted for the pair.
    Q("dedup_minhash_banded",
      (s, dir) => Dedup.minhashPairsBanded(
          Dedup.withBandKeys(TableIO.read(s, dir, "documents"), "text"), "doc_id", bucketCap = 50)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${OracleSql.cappedBandsCtes("documents")}
              |${OracleSql.bucketPairsSql(", count(*) AS n_bands")}
              |ORDER BY id_a, id_b""".stripMargin)),

    // X2 — INCREMENTAL near-dup: a 10% ingest batch (deterministic hash
    // split) against the 90% existing corpus — candidates are
    // batch × corpus band collisions only, the corpus is never
    // self-joined (the continuously-updated-training-set shape; at scale
    // the corpus band index is a materialized table each ingest joins).
    Q("dedup_incremental",
      (s, dir) => {
        val banded = Dedup.withBandKeys(TableIO.read(s, dir, "documents"), "text")
        val batch = banded.filter(pmod(col("doc_id"), lit(10L)) === 0)
        val corpus = banded.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
        Dedup.minhashPairsIncremental(corpus, batch, "doc_id")
          .orderBy("id_new", "id_corpus")
      },
      Some(s"""WITH b AS (
              |  ${OracleSql.meltBands("documents")}),
              |corpus AS (
              |  SELECT doc_id, band, bkey,
              |         count(*) OVER (PARTITION BY band, bkey) AS bsize
              |  FROM b WHERE doc_id % 10 != 0),
              |capped AS (SELECT * FROM corpus WHERE bsize <= 50),
              |batch AS (SELECT * FROM b WHERE doc_id % 10 = 0)
              |SELECT n.doc_id AS id_new, c.doc_id AS id_corpus, count(*) AS n_bands
              |FROM batch n JOIN capped c ON n.band = c.band AND n.bkey = c.bkey
              |GROUP BY 1, 2
              |ORDER BY id_new, id_corpus""".stripMargin)),

    // X2 — dedup CLUSTERS: connected components over the banded-LSH
    // candidate graph (iterative min-label propagation; oracle = the
    // recursive-CTE transitive closure). cluster = min reachable doc id,
    // the deterministic survivor.
    Q("dedup_clusters",
      (s, dir) => Dedup.connectedComponents(
          Dedup.minhashPairsBanded(
            Dedup.withBandKeys(TableIO.read(s, dir, "documents"), "text"), "doc_id", bucketCap = 50),
          "id_a", "id_b")
        .orderBy("id"),
      Some(clustersOracle)),

    // X2 — the same clusters via alternating LARGE-STAR/SMALL-STAR
    // (Kiveris et al. 2014): O(log n) rounds regardless of graph
    // diameter — the production-scale alternative when candidate graphs
    // chain deep. Oracle identical to dedup_clusters, so both CC
    // algorithms are pinned to the same transitive closure.
    Q("dedup_clusters_star",
      (s, dir) => Dedup.connectedComponentsStar(
          Dedup.minhashPairsBanded(
            Dedup.withBandKeys(TableIO.read(s, dir, "documents"), "text"), "doc_id", bucketCap = 50),
          "id_a", "id_b")
        .orderBy("id"),
      Some(clustersOracle)),

    // X2 — near-dup REMOVAL end-to-end: the corpus minus everything but
    // each cluster's representative (min doc id); singletons pass
    // untouched. This is the query a training pipeline actually ships.
    Q("dedup_apply",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        val clusters = Dedup.connectedComponents(
          Dedup.minhashPairsBanded(
            Dedup.withBandKeys(docs, "text"), "doc_id", bucketCap = 50),
          "id_a", "id_b")
        docs.join(clusters, docs("doc_id") === clusters("id"), "left_outer")
          .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
          .select(docs("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $bandedReachCtes,
              |cl AS (
              |  ${OracleSql.reachClusters})
              |SELECT d.doc_id, d.lang, d.source
              |FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
              |WHERE cl.id IS NULL OR cl.cluster = d.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // X2b — 16-bit simhash per document. The shingle-hash list is staged
    // ONCE per doc (the per-bit lambda would otherwise re-evaluate the
    // whole shingle expression 16x per row — 21 s of the round-15 oracle
    // suite; OracleSql.mat pins the staging).
    Q("dedup_simhash",
      (s, dir) => Dedup.simhash16(TableIO.read(s, dir, "documents"), "text", "simhash")
        .select("doc_id", "simhash")
        .orderBy("doc_id"),
      Some(s"""WITH ${simhash16HashesCte("")}
              |SELECT doc_id,
              |  $simhash16Sql
              |FROM hs
              |ORDER BY doc_id""".stripMargin)),

    // X2b — SimHash pairs within Hamming distance 3 via the 4-block
    // pigeonhole join (complete for d<=3, never all-pairs; the oracle IS
    // the brute-force comparison, so completeness is hash-verified).
    // Bounded to doc_id < 300 like the ngram query; at production scale
    // the same code runs a 64-bit sketch with 16-bit blocks (65k buckets
    // per block) — the 16-bit fixture sketch keeps the oracle portable.
    Q("dedup_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(
          TableIO.read(s, dir, "documents").filter(col("doc_id") < 300),
          "text", "doc_id")
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${simhash16HashesCte(" WHERE doc_id < 300")},
              |s AS (
              |  SELECT doc_id,
              |    $simhash16Sql
              |  FROM hs)
              |$simhashPairsSql""".stripMargin)),

    // X2b at production sketch width: 60-bit simhash (two portable 30-bit
    // halves) with 4 x 15-bit pigeonhole blocks — 32768 buckets per block.
    // Oracle = brute force again, so block completeness at width 60 is
    // hash-verified too.
    Q("dedup_simhash_wide_pairs",
      (s, dir) => Dedup.simhashPairsWide(
          TableIO.read(s, dir, "documents").filter(col("doc_id") < 300),
          "text", "doc_id")
        .orderBy("id_a", "id_b"),
      Some {
        def half(hl: String, off: Int) = simhashBits(hl, 30, s"(b + $off)")
        s"""WITH shg AS (
           |  SELECT doc_id, $shinglesSql AS shl
           |  FROM documents WHERE doc_id < 300),
           |hs AS (
           |  SELECT doc_id,
           |    list_transform(shl, s -> CAST((s * 2654435761) % 1073741824 AS BIGINT)) AS hl1,
           |    list_transform(shl, s -> CAST((s * 2246822519) % 1073741824 AS BIGINT)) AS hl2
           |  FROM shg),
           |s AS (
           |  SELECT doc_id,
           |    CASE WHEN len(hl1) = 0 THEN NULL ELSE
           |    ${half("hl1", 0)}
           |    + ${half("hl2", 30)} END AS simhash
           |  FROM hs)
           |$simhashPairsSql""".stripMargin
      }),

    // X2c — n-gram Jaccard pairs via the inverted-index join (bounded to
    // doc_id < 300 so the pair set stays comparable across scale factors).
    // maxShingleDf=5 exercises the document-frequency ceiling (the fixture
    // subset's hottest shingle has df=6, so the ceiling is live here).
    Q("dedup_ngram_pairs",
      (s, dir) => Dedup.ngramJaccardPairs(
          TableIO.read(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", minCommon = 3L, maxShingleDf = 5L)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${ngramShinglesCtes(" WHERE doc_id < 300", 5)},
              |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
              |${ngramCommonCte(3)}
              |SELECT id_a, id_b, n_common, ca.n_sh AS n_a, cb.n_sh AS n_b,
              |  CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) AS jaccard
              |FROM common
              |JOIN counts ca ON ca.doc_id = id_a
              |JOIN counts cb ON cb.doc_id = id_b
              |ORDER BY id_a, id_b""".stripMargin)),

    // X2c — the df-ceiling at corpus scale: FULL documents table (hottest
    // shingle df=33 at sf0.1), ceiling 20 — proof the inverted-index join
    // stays linear when hot shingles exist. Aggregate output so the result
    // is scale-stable in size.
    Q("dedup_ngram_hot",
      (s, dir) => Dedup.ngramJaccardPairs(
          TableIO.read(s, dir, "documents"),
          "doc_id", "text", minCommon = 2L, maxShingleDf = 20L)
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(col("n_common")).as("sum_common"),
          countDistinct(col("id_a")).as("n_left_docs")),
      Some(s"""WITH ${ngramShinglesCtes("", 20)},
              |${ngramCommonCte(2)}
              |SELECT count(*) AS n_pairs, CAST(sum(n_common) AS BIGINT) AS sum_common,
              |       count(DISTINCT id_a) AS n_left_docs
              |FROM common""".stripMargin)),

    // X2e — two-stage near-dup: banded-LSH candidates re-verified with
    // the exact distinct-shingle Jaccard (sketch recall, exact
    // precision); the exact intersection touches only candidate pairs.
    Q("neardup_verified",
      (s, dir) => Dedup.verifiedNearDupPairs(
          TableIO.read(s, dir, "documents"), "doc_id", "text",
          minJaccard = 0.5, bucketCap = 50)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${verifiedCountsCtes("")}
              |SELECT id_a, id_b, n_bands, n_common, n_a, n_b,
              |       CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
              |FROM v
              |WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // X2e+ — asymmetric CONTAINMENT over the same verified candidates:
    // |A∩B|/|A| vs |A∩B|/|B| catches near-SUPERSETS (a doc quoting most
    // of another) that symmetric Jaccard under-scores — the
    // quote-inclusion scan of exact-substring dedup pipelines.
    Q("neardup_containment",
      (s, dir) => Dedup.verifiedNearDupPairs(
          TableIO.read(s, dir, "documents"), "doc_id", "text",
          minJaccard = 0.0, bucketCap = 50)
        .withColumn("containment_a", round(col("n_common").cast("double") / col("n_a").cast("double"), 6))
        .withColumn("containment_b", round(col("n_common").cast("double") / col("n_b").cast("double"), 6))
        .filter(greatest(col("containment_a"), col("containment_b")) >= 0.8)
        .select("id_a", "id_b", "n_common", "containment_a", "containment_b")
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${verifiedCandidateCtes("")},
              |v AS (
              |  SELECT id_a, id_b,
              |         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common,
              |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh), 6) AS containment_a,
              |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sb.sh), 6) AS containment_b
              |  $pairSetsJoin)
              |SELECT id_a, id_b, n_common, containment_a, containment_b
              |FROM v
              |WHERE greatest(containment_a, containment_b) >= 0.8
              |ORDER BY id_a, id_b""".stripMargin)),

    // X40 — eval-contamination audit: verified near-dup pairs CROSSING
    // the deterministic 20%-eval ppm split (Lee et al. 2021 §6.2 —
    // an eval doc near-duplicated in training data is memorization, not
    // generalization). Split membership is a pure function of the id
    // (the repo's Knuth-hash ppm draw), so the filter is a map over the
    // verified pair stream; output is oriented (eval_id, train_id).
    Q("split_leakage_audit",
      (s, dir) => Dedup.splitLeakageAudit(
          TableIO.read(s, dir, "documents"), "doc_id", "text",
          evalPpm = 200000L)
        .orderBy("eval_id", "train_id"),
      Some(s"""WITH ${verifiedCountsCtes(
                "\n  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)" +
                " / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5")},
              |e AS (
              |  SELECT *,
              |    (((((id_a % 2147483648) + 2147483648) % 2147483648 * 2654435761)
              |        % 1000000 + 1000000) % 1000000 < 200000) AS ea,
              |    (((((id_b % 2147483648) + 2147483648) % 2147483648 * 2654435761)
              |        % 1000000 + 1000000) % 1000000 < 200000) AS eb
              |  FROM v)
              |SELECT CASE WHEN ea THEN id_a ELSE id_b END AS eval_id,
              |       CASE WHEN ea THEN id_b ELSE id_a END AS train_id,
              |       n_bands, n_common,
              |       CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
              |FROM e WHERE ea <> eb
              |ORDER BY eval_id, train_id""".stripMargin)),

    // X2f — span-level boilerplate accounting: 8-token chunk hashes, a
    // global df per chunk, per-doc boilerplate fraction (the block-level
    // form of exact-substring dedup, Lee et al. 2021).
    Q("chunk_boilerplate",
      (s, dir) => Dedup.chunkBoilerplate(
          TableIO.read(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH ch AS (
              |  SELECT doc_id, unnest(${OracleSql.chunks}) AS chunk FROM documents),
              |pdc AS (
              |  SELECT doc_id, chunk, count(*) AS occ FROM ch GROUP BY 1, 2),
              |sized AS (
              |  SELECT doc_id, occ, count(*) OVER (PARTITION BY chunk) AS cdf FROM pdc),
              |agg AS (
              |  SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_chunks,
              |         CAST(sum(CASE WHEN cdf > 1 THEN occ ELSE 0 END) AS BIGINT) AS n_boiler
              |  FROM sized GROUP BY 1)
              |SELECT d.doc_id,
              |  coalesce(agg.n_chunks, 0) AS n_chunks,
              |  coalesce(agg.n_boiler, 0) AS n_boiler,
              |  CASE WHEN coalesce(agg.n_chunks, 0) > 0
              |       THEN round(CAST(agg.n_chunks - agg.n_boiler AS DOUBLE) / agg.n_chunks, 6)
              |       ELSE 1.0 END AS keep_frac6
              |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // X2c+ — stop-shingle discovery: the exact top-20 shingles by document
    // frequency. This is the scan that CALIBRATES ngramJaccardPairs'
    // df-ceiling (maxShingleDf) on a real corpus: one map-side-combined
    // groupBy, then TakeOrdered over the tiny aggregate — never a full
    // sort. Ties break on the shingle hash for determinism.
    Q("hot_shingles",
      (s, dir) => Dedup.withShingleHashes(TableIO.read(s, dir, "documents"), "text")
        .select(explode_outer(array_distinct(col(Dedup.ShinglesCol))).as("shingle"))
        .filter(col("shingle").isNotNull)
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("shingle"))
        .limit(20),
      Some(s"""SELECT shingle, count(*) AS df
              |FROM (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS shingle FROM documents)
              |GROUP BY 1
              |ORDER BY df DESC, shingle
              |LIMIT 20""".stripMargin)),

    // X6 — exact distinct stats (the oracle-checkable face of
    // approx_count_distinct; the HLL variant is registered rows-only).
    Q("distinct_stats",
      (s, dir) => TableIO.read(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources")),
      Some("""SELECT count(*) AS n_rows,
             |  count(DISTINCT lang) AS n_langs,
             |  count(DISTINCT source) AS n_sources
             |FROM documents""".stripMargin)),

    // X6 — HLL++ approximate distinct. The raw estimate is deterministic
    // within Spark but not reproducible in DuckDB, so the oracle-checkable
    // claim is the TOLERANCE: at rsd=0.02 the estimate must land within
    // max(6%·exact, 5 rows) of the exact count — 6% is 3σ of the
    // requested sketch precision, the absolute floor covers the tiny
    // per-group cardinalities of the small fixtures where a relative band
    // alone is narrower than ±1 row. Spark emits the exact count beside
    // the within-band verdict; DuckDB recomputes the exact count and
    // asserts the band literally — the hash compare then proves both
    // engines agree on the exact counts AND the estimate sat in-band.
    // Perf note (round 8, BenchAB probe_ad): the ~1.3 s bench time was the
    // rsd=0.01 HLL itself — Spark's HyperLogLogPlusPlus is an interpreted
    // ImperativeAggregate whose buffer at that precision is ~2.7k longs
    // (scan 0.10 s, distinct 0.19 s, +exact agg 0.22 s, +approx@0.01
    // 0.71 s, +approx@0.05 0.17 s; DuckDB's vectorized sketch: 0.01 s).
    // Round 9: rsd 0.02 with a ±max(6%, 5-row) band — 3σ of the sketch
    // precision, STRICTER against a driver fixture regen than the old
    // rsd 0.01 / 2% pairing (which was only 2σ) while shrinking the
    // buffer 4× (~0.7k longs; the r8 decomposition puts the aggregate at
    // roughly a quarter of the 0.71 s). Same trade window_approx_users
    // landed on: many-group sketching wants the lowest register count
    // the band tolerates. The exact twin beside it is the scale path
    // anyway — the sketch demonstrates the sketch surface, not the
    // benchmark row.
    Q("approx_distinct",
      (s, dir) => TableIO.read(s, dir, "documents")
        // HLL is SET-semantic (duplicates don't move the estimate), so
        // collapse to distinct (lang, doc_id) first and aggregate once:
        // one distinct shuffle + one plain agg, instead of the
        // Expand + mixed distinct/imperative-aggregate plan that
        // countDistinct-beside-HLL otherwise costs (2× the stages)
        // NULL ids carry no identity: count(DISTINCT x) and the HLL both
        // ignore NULLs, so the distinct+count(*) form must too
        .select("lang", "doc_id").filter(col("doc_id").isNotNull).distinct()
        .groupBy("lang")
        .agg(
          count(lit(1)).as("exact_docs"),
          approx_count_distinct(col("doc_id"), 0.02).as("__approx"))
        .withColumn("approx_in_band",
          abs(col("__approx") - col("exact_docs"))
            <= greatest(col("exact_docs") * lit(0.06), lit(5.0)))
        .drop("__approx")
        .orderBy("lang"),
      Some("""SELECT lang,
             |  count(DISTINCT doc_id) AS exact_docs,
             |  TRUE AS approx_in_band
             |FROM documents
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // Train/eval contamination check: per train document (source != src0),
    // the fraction of its distinct 3-gram shingles that also appear
    // anywhere in the held-out eval slice (source = src0) — the test-set
    // decontamination scan every training pipeline runs before a bake.
    // The eval shingle set is a sub-aggregation orders of magnitude
    // smaller than the corpus, so AQE turns the probe into a broadcast
    // join at runtime; the train side stays one (doc, shingle) shuffle.
    // Docs under 3 tokens have no shingles and drop out on both engines.
    Q("contamination_check",
      (s, dir) => {
        // explode_outer + null filter keeps InferFiltersFromGenerate from
        // re-inlining the staged shingle pipeline below the Generate
        // (see Dedup.ngramJaccardPairs)
        val sh = Dedup.withShingleHashes(TableIO.read(s, dir, "documents"), "text")
          .select(col("doc_id"), col("source"), explode_outer(col(Dedup.ShinglesCol)).as("sh"))
          .filter(col("sh").isNotNull)
        val train = sh.filter(col("source") =!= "src0").select("doc_id", "sh").distinct()
        val eval = sh.filter(col("source") === "src0").select("sh").distinct()
          .withColumn("hit", lit(1))
        train.join(eval, Seq("sh"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
          .withColumn("overlap_frac",
            round(col("n_overlap").cast("double") / col("n_shingles").cast("double"), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${OracleSql.trainEvalShingles}
              |SELECT tr.doc_id, count(*) AS n_shingles, count(ev.sh) AS n_overlap,
              |  round(CAST(count(ev.sh) AS DOUBLE) / count(*), 6) AS overlap_frac
              |FROM tr LEFT JOIN ev ON tr.sh = ev.sh
              |GROUP BY 1
              |ORDER BY 1""".stripMargin)),

    // X2h — LSH recall/precision AUDIT on a deterministic sample: exact
    // distinct-shingle Jaccard truth vs the banded candidate set, one
    // row of integer-ppm precision/recall — the number that says whether
    // the b×r/bucketCap parameters still hold on REAL data (the property
    // spec checks engineered corpora; this checks production's).
    Q("lsh_recall_audit",
      (s, dir) => graft.ext.Dedup.lshRecallAudit(
        TableIO.read(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text"),
      Some(s"""WITH sample AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
              |sets AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
              |         FROM sample),
              |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sets GROUP BY 1),
              |common AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              |  FROM sets a JOIN sets b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |truth AS (
              |  SELECT id_a, id_b
              |  FROM common
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5),
              |${OracleSql.cappedBandsCtes("sample")},
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM capped a JOIN capped b
              |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |hits AS (SELECT c.id_a, c.id_b FROM cand c JOIN truth t
              |         ON c.id_a = t.id_a AND c.id_b = t.id_b)
              |SELECT
              |  (SELECT count(*) FROM truth) AS n_true,
              |  (SELECT count(*) FROM cand) AS n_candidates,
              |  (SELECT count(*) FROM hits) AS n_hits,
              |  ((SELECT count(*) FROM hits) * 1000000)
              |    // greatest((SELECT count(*) FROM cand), 1) AS precision_ppm,
              |  ((SELECT count(*) FROM hits) * 1000000)
              |    // greatest((SELECT count(*) FROM truth), 1) AS recall_ppm""".stripMargin))
  )
}
