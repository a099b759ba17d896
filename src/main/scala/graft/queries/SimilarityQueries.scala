package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.{Linalg, Multimodal, Similarity}
import graft.io.TableIO
import graft.ops.Salting

/**
 * X3/X5 — similarity search and multimodal queries over the embeddings
 * fixture (64-dim float vectors modeling CQL `vector<float, 64>`).
 */
object SimilarityQueries {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Stored base-graph state of knn_graph_incremental, persisted ONCE per
   * JVM per sf dir (StateStore) — the query's own doc says it "joins the
   * stored base-graph state", and since r18 that is literally true: every
   * execution reloads the parquet ledger and pays state read + delta,
   * never the in-timer rebuild (r17 verdict #5 — the [2.0, 8.5] bench
   * spread was construction cost, not the operator). */
  private def knnGraphStateLoad(s: SparkSession, dir: String): DataFrame = {
    val base = TableIO.read(s, dir, "embeddings").filter(col("vec_id") % 5 =!= 4)
    graft.run.StateStore.materialize(
      s, s"knngraph_${graft.run.StateStore.dirKey(dir)}",
      Map("directed" -> graft.ext.Similarity.knnDirected(base, k = 4)))("directed")
  }

  /** Persisted survivor state of knn_banded_incremental (same contract). */
  private def bandedStateLoad(s: SparkSession, dir: String): DataFrame = {
    val base = TableIO.read(s, dir, "embeddings").filter(col("vec_id") % 5 =!= 4)
    graft.run.StateStore.materialize(
      s, s"knnbanded_${graft.run.StateStore.dirKey(dir)}",
      Map("survivors" -> graft.ext.Similarity.bandSurvivors(
        base, k = 4, bands = 12, bandPlanes = 5, probes = 2)))("survivors")
  }

  /** Bench staging hooks (r17 verdict #5): build + persist the stored
   * state OUTSIDE the timed region, so min-of-N samples measure the
   * operator (state read + delta pass) and the spread stops flagging
   * one-time construction. Verify ignores these — correctness still
   * covers build + reload + delta end-to-end on first execution. */
  val prepares: Map[String, (SparkSession, String) => Unit] = Map(
    "knn_graph_incremental" -> ((s, dir) => { knnGraphStateLoad(s, dir); () }),
    "knn_banded_incremental" -> ((s, dir) => { bandedStateLoad(s, dir); () }))

  /** DuckDB mirror of Similarity.dot: explicit left-fold so the summation
   * order (and hence the double result) is bit-identical to Spark's
   * aggregate(zip_with(...)). */
  private def dotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (acc, x) -> acc + x)""".stripMargin
  private def cosSql(a: String, b: String) =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"

  /** Shared CTE chain mirroring Similarity.kmeansUpdate: µ-quantized
   * vector/centroid dims, integer E-step, integer-mean M-step (`//`
   * truncates toward zero, matching Spark's `div`). */
  private val kmeansLloydCtes =
    """WITH cent AS (SELECT vec_id AS c_id, embedding AS cemb FROM embeddings WHERE vec_id < 8),
      |dims AS (SELECT CAST(range AS BIGINT) + 1 AS i FROM range(0, 64)),
      |vq AS (
      |  SELECT vec_id, i,
      |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS vq
      |  FROM embeddings, dims),
      |cq AS (
      |  SELECT c_id, i,
      |         CAST(floor(CAST(cemb[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS cq
      |  FROM cent, dims),
      |d1 AS (
      |  SELECT v.vec_id, c.c_id,
      |         CAST(sum((v.vq - c.cq) * (v.vq - c.cq)) AS BIGINT) AS dist_q
      |  FROM vq v JOIN cq c ON v.i = c.i
      |  GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, c_id
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_q, c_id) AS rn FROM d1)
      |  WHERE rn = 1),
      |m AS (
      |  SELECT a1.c_id AS centroid_id, v.i, count(*) AS n, CAST(sum(v.vq) AS BIGINT) AS s
      |  FROM vq v JOIN a1 ON v.vec_id = a1.vec_id
      |  GROUP BY 1, 2),
      |newc AS (SELECT centroid_id, i, s // n AS c_us, n FROM m)""".stripMargin

  /** DuckDB mirror of a per-subspace dot over Similarity.PqSubDim dims;
   * `sub` is captured from the enclosing row (DuckDB correlates outer
   * columns into list lambdas), matching Spark's slice(arr, sub*8+1, 8). */
  private def subDotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, ${Similarity.PqSubDim + 1}),
       |    i -> CAST($a[sub*${Similarity.PqSubDim}+i] AS DOUBLE) * CAST($b[sub*${Similarity.PqSubDim}+i] AS DOUBLE))),
       |  (acc, x) -> acc + x)""".stripMargin

  /** Mirror of Similarity.pqCodes' distances: the 16 sub-centroids
   * (vec_id < 16, `cent`), the subspaces `sp` and each (vector, subspace,
   * sub-centroid) squared distance `d`. */
  private val pqSubDistCtes: String =
    s"""cent AS (SELECT vec_id AS c_id, embedding AS cemb FROM embeddings WHERE vec_id < 16),
       |sp AS (SELECT CAST(range AS BIGINT) AS sub FROM range(0, ${Similarity.PqSubspaces})),
       |d AS (
       |  SELECT e.vec_id, sp.sub, c.c_id,
       |         round(${subDotSql("e.embedding", "e.embedding")}
       |               - 2.0 * ${subDotSql("e.embedding", "c.cemb")}
       |               + ${subDotSql("c.cemb", "c.cemb")}, 6) AS dist6
       |  FROM embeddings e, sp, cent c)""".stripMargin

  /** Shared CTE chain mirroring Similarity.pqCodes/pqAdcTopK through the
   * per-pair ADC sums (`pairs`): centroids vec_id<16, queries vec_id<5,
   * fixed-point µ-unit LUT entries. Used by pq_adc_topk, pq_rerank_topk
   * and (with `routed = true`, which adds the IVF cell equality to the
   * pair join — mirroring ivfPqServeTopK's (sub, code, cell) join key)
   * ann_serve_e2e, so the band arithmetic lives in one place. */
  private def pqAdcCtes(routed: Boolean): String = {
    val routeJoins =
      if (!routed) ""
      else """
        |  JOIN embeddings ce ON ce.vec_id = cd.vec_id
        |  JOIN embeddings qe2 ON qe2.vec_id = l.query_id AND qe2.label = ce.label""".stripMargin
    s"""WITH $pqSubDistCtes,
       |codes AS (
       |  SELECT vec_id, sub, c_id AS code
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist6, c_id) AS rn FROM d)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id < 5),
       |lut AS (
       |  SELECT q.query_id, sp.sub, c.c_id AS code,
       |         CAST(floor((${subDotSql("q.qemb", "q.qemb")}
       |               - 2.0 * ${subDotSql("q.qemb", "c.cemb")}
       |               + ${subDotSql("c.cemb", "c.cemb")}) * 1000000.0) AS BIGINT) AS pdist_us
       |  FROM q, sp, cent c),
       |pairs AS (
       |  SELECT l.query_id, cd.vec_id, CAST(sum(l.pdist_us) AS BIGINT) AS adc_us
       |  FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code$routeJoins
       |  WHERE cd.vec_id != l.query_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Mirror of Similarity.sq8Tier over `embeddings$where`: each vector's
   * scale `s`, norm `nrm` and int8 codes `q` (CTEs `base`, `coded`),
   * carrying `cols` beside vec_id. */
  private def sq8CodedCtes(cols: String, where: String): String =
    s"""base AS (
       |  SELECT vec_id, ${cols}embedding,
       |    $sq8ScaleSql AS s,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings$where),
       |coded AS (
       |  SELECT vec_id, ${cols}embedding, s, nrm,
       |    list_transform(embedding, v -> CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(floor(CAST(v AS DOUBLE) * 127.0 / s + 0.5) AS BIGINT) END) AS q
       |  FROM base)""".stripMargin

  /** Mirror of Similarity.quantizeInt8's scale: the max |component|. */
  private val sq8ScaleSql =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
      |      (acc, x) -> greatest(acc, x))""".stripMargin

  /** Mirror of Similarity.sq8Shortlist's pair score: CTE `p` holds every
   * (query, candidate) pair of `qs` × `coded` with the integer-dot
   * approximate cosine, restricted by `routePred`. */
  private def sq8PairsCte(routePred: String): String =
    s"""p AS (
       |  SELECT qs.query_id, c.vec_id AS neighbor_id, qs.q_emb, c.embedding AS c_emb,
       |    qs.q_nrm, c.nrm AS c_nrm,
       |    CASE WHEN qs.q_nrm * c.nrm = 0 THEN NULL
       |      ELSE ((qs.q_s * c.s) * CAST(list_sum(
       |          list_transform(range(1, 65), i -> qs.q_q[i] * c.q[i])) AS DOUBLE)
       |        / 16129.0) / (qs.q_nrm * c.nrm) END AS approx
       |  FROM coded c, qs
       |  WHERE c.vec_id != qs.query_id$routePred)""".stripMargin

  /** Mirror of Similarity.sq8Rerank's exact cosine of a shortlisted pair. */
  private val sq8RerankCos =
    s"""CASE WHEN q_nrm * c_nrm = 0 THEN NULL
       |      ELSE round(${dotSql("q_emb", "c_emb")} / (q_nrm * c_nrm), 6) END AS cos6""".stripMargin

  /** Shared DuckDB mirror of the SQ8 serving chain (Similarity.topKSq8 /
   * ivfSq8ServeTopK): quantize to struct(scale, codes), integer-dot
   * approx within the (optionally cell-ROUTED) pair stream, shortlist of
   * shortlistFactor·k = 12, exact re-rank to k = 3. `routed = true` adds
   * the IVF cell equality to the pair join — mirroring ivfSq8ServeTopK's
   * (__cell) join key — so ann_serve_sq8 reuses topk_cosine_sq8's
   * verified CTEs verbatim and the hash match proves the composition. */
  private def sq8ServeOracle(routed: Boolean, queryMax: Int): String = {
    val routePred = if (routed) "\n  AND c.label = qs.q_label" else ""
    s"""WITH ${sq8CodedCtes("label, ", "")},
       |qs AS (SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb,
       |              s AS q_s, nrm AS q_nrm, q AS q_q
       |       FROM coded WHERE vec_id < $queryMax),
       |${sq8PairsCte(routePred)},
       |short AS (
       |  SELECT query_id, neighbor_id, q_emb, c_emb, q_nrm, c_nrm,
       |         round(approx, 6) AS approx6,
       |         row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS srn
       |  FROM p
       |  QUALIFY srn <= 12),
       |rr AS (
       |  SELECT query_id, neighbor_id, approx6,
       |    -- zero-norm guard mirroring cosineFrom: a zero-norm vector can
       |    -- reach the shortlist when a query has fewer than
       |    -- shortlistFactor*k candidates (its NULL approx sorts last
       |    -- rather than being filtered), and must re-rank to NULL, not
       |    -- a raw division by zero
       |    $sq8RerankCos
       |  FROM short)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS INTEGER) AS rank,
       |       neighbor_id, cos6, approx6
       |FROM rr
       |QUALIFY rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Per-band (vec_id, bucket, margins) CTE chain over `embeddings` for
   * the X36e(f) regime audit — the bucket/argmin fragments of
   * [[bandedDirectedCtes]] without the capped index or pair stages. */
  private def bandedAuditCtes(bands: Int, bandPlanes: Int): String =
    (0 until bands).map { b =>
      s"""adb$b AS (SELECT vec_id, ${bandDotsSql(b, bandPlanes)} FROM embeddings WHERE embedding IS NOT NULL),
         |abb$b AS (SELECT vec_id, ${bandBucketMarginsSql(bandPlanes)} FROM adb$b)""".stripMargin
    }.mkString(",\n")

  /** Band `b`'s plane dots `d0..d{bandPlanes-1}` of `embedding` as select
   * items (planes b·P..b·P+P−1, mirroring Similarity.lshBucketBand). */
  private def bandDotsSql(b: Int, bandPlanes: Int): String =
    (0 until bandPlanes)
      .map(j => s"${planeDotSql("embedding", b * bandPlanes + j)} AS d$j").mkString(",\n        ")

  /** The band bucket over the dots `d0..`, and their |margins| `mg`. */
  private def bandBucketMarginsSql(bandPlanes: Int): String = {
    val dcols = (0 until bandPlanes).map(j => s"d$j")
    val bucket = dcols.zipWithIndex
      .map { case (d, j) => s"CASE WHEN $d > 0 THEN ${1L << j} ELSE 0 END" }
      .mkString("(", " + ", ")")
    s"$bucket AS bucket,\n        [${dcols.map(d => s"abs($d)").mkString(", ")}] AS mg"
  }

  /** DuckDB mirrors of the LSH plane machinery (identical plane literals
   * generated from Similarity.planeComponent). */
  private def planeListSql(j: Int): String =
    (0 until Similarity.VecDim).map(i => s"${Similarity.planeComponent(j, i).toDouble}").mkString("[", ", ", "]")
  private def planeDotSql(emb: String, j: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, 65), i -> CAST($emb[i] AS DOUBLE) * (${planeListSql(j)})[i])),
       |  (acc, x) -> acc + x)""".stripMargin
  private def bucketSql(emb: String): String =
    (0 until Similarity.LshPlanes)
      .map(j => s"CASE WHEN ${planeDotSql(emb, j)} > 0 THEN ${1 << j} ELSE 0 END")
      .mkString("(", " + ", ")")

  /** Shared CTE chain for the banded-candidate queries (12 bands of 5
   * planes, probes = 2, symmetric — the one geometry they all run),
   * mirroring Similarity.knnDirectedBanded incl. within-band multi-probe:
   * per band, plane dots staged once as columns, the TRUE-bucket index
   * capped, the query side probing its bucket plus the bucket with its
   * lowest-|margin| bit flipped — the argmin is `list_position(mg,
   * list_min(mg))`, first-occurrence = lowest plane index, the same
   * tie-break Spark's array_position applies to the bit-identical double
   * dots. Slim id-pair union + DISTINCT, cosine attached once per
   * surviving pair, per-src rank. Ends with CTE `d` = directed top-4
   * edges (src, dst, cos6).
   *
   * The symmetric face mirrors the engine's POST-HEAP symmetrization
   * (Similarity.bandSurvivors + directedFromSurvivors, the NN-descent
   * neighbor-LIST reversal): per band, the forward candidates rank to
   * top-k SURVIVORS (within one band a pair occurs at most once — a
   * candidate lives in exactly one bucket per band — so the per-band
   * rank is exact), the survivor rows are reversed, and the global
   * top-k runs over the DISTINCT union of both orientations. The
   * engine's GroupTopK stages compute the same sets under the identical
   * (cos6 DESC, id) tie-break.
   *
   * NULL embeddings are filtered at the per-band scan, mirroring the
   * engine's drop-null contract (a NULL embedding yields a NULL probe
   * array from LshBandProbes and the vector joins the graph as neither
   * query nor candidate — see knnDirectedBanded's NULL-EMBEDDING
   * SEMANTICS note); without the explicit filter the mirror would
   * bucket NULL rows at 0 via `NULL > 0 = false` and diverge on the
   * first corpus with null embedding rows. */
  private def bandedDirectedCtes: String = {
    val (bands, bandPlanes) = (12, 5)
    val perBand = (0 until bands).map { b =>
      val probeSide =
        s"""q$b AS (SELECT bb.vec_id,
           |        unnest([bb.bucket,
           |                xor(bb.bucket, 1 << (list_position(bb.mg, list_min(bb.mg)) - 1))]) AS qb
           |        FROM bb$b bb JOIN f$b f ON f.vec_id = bb.vec_id)""".stripMargin
      s"""db$b AS (SELECT vec_id,
         |        ${bandDotsSql(b, bandPlanes)}
         |        FROM embeddings WHERE embedding IS NOT NULL),
         |bb$b AS (SELECT vec_id, ${bandBucketMarginsSql(bandPlanes)} FROM db$b),
         |f$b AS (SELECT vec_id, bucket FROM bb$b
         |        QUALIFY count(*) OVER (PARTITION BY bucket) <= 10000),
         |$probeSide,
         |p$b AS (SELECT q.vec_id AS query_id, e.vec_id
         |        FROM q$b q JOIN f$b e ON q.qb = e.bucket AND e.vec_id != q.vec_id)"""
        .stripMargin
    }.mkString(",\n")
    val bandUnions = (0 until bands)
      .map(b => s"SELECT $b AS band, query_id, vec_id FROM p$b")
      .mkString("\n  UNION ALL ")
    s"""WITH $perBand,
       |pball AS ($bandUnions),
       |dp AS (SELECT DISTINCT query_id, vec_id FROM pball),
       |dsc AS (
       |  SELECT c.query_id, c.vec_id,
       |         ${cosSql("qe.embedding", "ce.embedding")} AS cos6
       |  FROM dp c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ce ON ce.vec_id = c.vec_id),
       |sv AS (
       |  SELECT band, query_id, vec_id, cos6 FROM (
       |    SELECT pball.band, pball.query_id, pball.vec_id, dsc.cos6,
       |           row_number() OVER (PARTITION BY pball.query_id, pball.band
       |                              ORDER BY dsc.cos6 DESC, pball.vec_id) AS rk
       |    FROM pball JOIN dsc USING (query_id, vec_id))
       |  WHERE rk <= 4),
       |cand AS (SELECT DISTINCT query_id, vec_id, cos6 FROM (
       |    SELECT query_id, vec_id, cos6 FROM sv
       |    UNION ALL
       |    SELECT vec_id AS query_id, query_id AS vec_id, cos6 FROM sv)),
       |r AS (SELECT query_id AS src, vec_id AS dst, cos6,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, vec_id) AS rk
       |      FROM cand),
       |d AS (SELECT src, dst, cos6 FROM r WHERE rk <= 4)""".stripMargin
  }

  /** Mirror of Similarity.firstN over the scored pairs of `from`: each
   * query's top 3 neighbors by (cos6 DESC, neighbor_id). */
  private def firstNSql(from: String): String =
    s"""SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS INTEGER) AS rank,
       |       neighbor_id, cos6
       |FROM $from
       |QUALIFY rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Mirror of Similarity.exactPairs + firstN: the exact cosine of every
   * query `q` × candidate `e` pair of `from` (CTE `p`), then the top 3. */
  private def exactTopKSql(from: String): String =
    s"""p AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         ${cosSql("q.q_emb", "e.embedding")} AS cos6
       |  FROM $from
       |  WHERE e.vec_id != q.query_id)
       |${firstNSql("p")}""".stripMargin

  /** Mirror of Similarity.pqRerank over pqAdcCtes' `pairs`: the ADC
   * shortlist of 10 per query, re-ranked by exact cosine to the top 3. */
  private val pqRerankSql: String =
    s"""short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY adc_us, vec_id) AS srn
       |    FROM pairs)
       |  WHERE srn <= 10),
       |exact AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |         ${cosSql("qe.embedding", "ne.embedding")} AS cos6
       |  FROM short s
       |  JOIN embeddings qe ON qe.vec_id = s.query_id
       |  JOIN embeddings ne ON ne.vec_id = s.vec_id)
       |${firstNSql("exact")}""".stripMargin

  /** CTE `name`: the top 10 of each query's `from` pairs by cos6, ranked. */
  private def top10Cte(name: String, from: String): String =
    s"""$name AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
       |  FROM $from QUALIFY rank <= 10)""".stripMargin

  /** The hybrid queries' sparse leg: the shingle-tf cosine top 10 of
   * documents 0..4 among documents below 300, as (query_id, neighbor_id,
   * rank). */
  private def sparseTop10(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ext.TextOps.sparseCosinePairs(
      graft.ext.Dedup.withShingleHashes(
        TableIO.read(s, dir, "documents").filter(col("doc_id") < 300), "text"),
      "doc_id", graft.ext.Dedup.ShinglesCol, minDot = 1L, maxTermDf = 20L)
    val directed = pairs.filter(col("id_a") < 5)
        .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"), col("cos6"))
      .unionByName(pairs.filter(col("id_b") < 5)
        .select(col("id_b").as("query_id"), col("id_a").as("neighbor_id"), col("cos6")))
    directed
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos6").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Mirror of the hybrid queries' sparse leg and Hybrid.rrfFuse: the
   * sparse shingle-tf cosine top 10 of queries 0..4 (`sparse`) fused with
   * the ranked CTE `dense` by integer RRF, top 5 per query. */
  private val sparseRrfFuseSql: String =
    s"""${OracleSql.sparseDotCtes("sd", 1)},
       |sp AS (
       |  SELECT id_a, id_b,
       |    ${OracleSql.sparseCos("sd")}),
       |directed AS (
       |  SELECT id_a AS query_id, id_b AS neighbor_id, cos6 FROM sp WHERE id_a < 5
       |  UNION ALL
       |  SELECT id_b AS query_id, id_a AS neighbor_id, cos6 FROM sp WHERE id_b < 5),
       |${top10Cte("sparse", "directed")},
       |u AS (
       |  SELECT query_id, neighbor_id, CAST(1000000 // (60 + rank) AS BIGINT) AS c FROM dense
       |  UNION ALL
       |  SELECT query_id, neighbor_id, CAST(1000000 // (60 + rank) AS BIGINT) AS c FROM sparse),
       |fused AS (
       |  SELECT query_id, neighbor_id, CAST(sum(c) AS BIGINT) AS rrf_us, count(*) AS n_systems
       |  FROM u GROUP BY 1, 2)
       |SELECT query_id,
       |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_us DESC, neighbor_id) AS INTEGER) AS rank,
       |       neighbor_id, rrf_us, n_systems
       |FROM fused
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Mirror of Similarity.assignToCentroids' distances: the first 8
   * vectors as centroids (`c`) and every (vector, centroid) squared L2
   * distance `p`. */
  private val centroidDistCtes: String =
    s"""c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
       |p AS (
       |  SELECT e.vec_id, c.c_id,
       |         round(${dotSql("e.embedding", "e.embedding")}
       |               - 2.0 * ${dotSql("e.embedding", "c.c_emb")}
       |               + ${dotSql("c.c_emb", "c.c_emb")}, 6) AS dist6
       |  FROM embeddings e, c)""".stripMargin

  /** Mirror of Similarity.assignToCentroids' argmin: each vector's
   * nearest centroid over `p`, ties on the centroid id. */
  private val nearestCentroidSql =
    """SELECT vec_id, c_id AS centroid_id, dist6
      |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist6, c_id) AS rn FROM p)
      |WHERE rn = 1""".stripMargin

  /** Mirror of Multimodal.shardLayout's start offsets: each document's
   * size and the bytes before it in its source's doc_id order. */
  private val shardStartCtes =
    """m AS (
      |  SELECT source, doc_id, CAST(strlen(text) AS BIGINT) AS size_bytes FROM documents),
      |c AS (
      |  SELECT source, doc_id, size_bytes,
      |    CAST(coalesce(sum(size_bytes) OVER (
      |      PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_byte
      |  FROM m)""".stripMargin

  /** Mirror of Similarity.bucketed + bucketTopK's pairs: the single-bucket
   * LSH index capped at 10000 vectors per bucket (`b`) and the cosine of
   * every directed same-bucket pair (`p`). */
  private val bucketPairsCtes: String =
    s"""b0 AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |            FROM embeddings),
       |b AS (SELECT vec_id, embedding, bucket FROM b0
       |      QUALIFY count(*) OVER (PARTITION BY bucket) <= 10000),
       |p AS (
       |  SELECT q.vec_id AS src, e.vec_id AS dst,
       |         ${cosSql("q.embedding", "e.embedding")} AS cos6
       |  FROM b q JOIN b e ON q.bucket = e.bucket AND e.vec_id != q.vec_id)""".stripMargin

  /** Mirror of Similarity.mutualEdges over the directed top-k `d`. */
  private val mutualEdgesSql =
    """SELECT a.src AS id_a, a.dst AS id_b, a.cos6
      |FROM d a JOIN d bb ON a.src = bb.dst AND a.dst = bb.src
      |WHERE a.src < a.dst
      |ORDER BY 1, 2""".stripMargin

  /** The single-bucket mutual kNN graph (k = 4) of every embedding: the
   * oracle of knn_graph_mutual and of its incremental form. */
  private val knnMutualOracle: String =
    s"""WITH $bucketPairsCtes,
       |r AS (SELECT src, dst, cos6,
       |        row_number() OVER (PARTITION BY src ORDER BY cos6 DESC, dst) AS rk
       |      FROM p),
       |d AS (SELECT src, dst, cos6 FROM r WHERE rk <= 4)
       |$mutualEdgesSql""".stripMargin

  /** The 12×5-band 2-probe symmetric mutual kNN graph (k = 4): the oracle
   * of knn_graph_banded and of its incremental form. */
  private val bandedMutualOracle: String =
    s"""${bandedDirectedCtes}
       |$mutualEdgesSql""".stripMargin

  /** Mirror of Similarity.topK as the audits' truth: the exact cosine of
   * every pair whose query passes `where` (`tp`) and each query's exact
   * top 4 (`tr`). */
  private def exactTruthCtes(where: String): String =
    s"""tp AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         ${cosSql("q.embedding", "e.embedding")} AS cos6
       |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id$where),
       |tr AS (SELECT query_id, neighbor_id FROM (
       |         SELECT query_id, neighbor_id,
       |                row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rk
       |         FROM tp)
       |       WHERE rk <= 4)""".stripMargin

  /** Mirror of Similarity.recallPpm: candidate set `cand` scored against
   * truth set `truth` (both (query_id, neighbor_id)), one row of counts
   * and integer-ppm precision and recall. */
  private def recallPpmSql(cand: String, truth: String): String =
    s"""h AS (SELECT * FROM $cand JOIN $truth USING (query_id, neighbor_id)),
       |n AS (SELECT (SELECT count(*) FROM $truth) AS n_true,
       |             (SELECT count(*) FROM $cand) AS n_candidates,
       |             (SELECT count(*) FROM h) AS n_hits)
       |SELECT n_true, n_candidates, n_hits,
       |       (n_hits * 1000000) // greatest(n_candidates, 1) AS precision_ppm,
       |       (n_hits * 1000000) // greatest(n_true, 1) AS recall_ppm
       |FROM n""".stripMargin

  /** Synthetic hot key for the skew-stress pair: 90% of lineitem rows on
   * key 0, the rest across 96 cold keys. */
  private def skewedLineitem(s: org.apache.spark.sql.SparkSession, dir: String) =
    TableIO.read(s, dir, "lineitem")
      .withColumn("skew_key",
        when(pmod(col("l_orderkey"), lit(10L)) =!= 0L, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(97L))))
      .select("skew_key", "l_quantity")

  private def skewDim(s: org.apache.spark.sql.SparkSession) =
    s.range(0, 97).select(col("id").as("skew_key"), pmod(col("id"), lit(7L)).as("bucket"))

  private val SkewOracleSql =
    """WITH li AS (
      |  SELECT CASE WHEN l_orderkey % 10 != 0 THEN 0
      |              ELSE l_orderkey % 97 END AS skew_key, l_quantity
      |  FROM lineitem),
      |dim AS (SELECT range AS skew_key, range % 7 AS bucket FROM range(0, 97))
      |SELECT bucket, count(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |FROM li JOIN dim USING (skew_key)
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  val all: Seq[Q] = Seq(

    // X3 — brute-force exact cosine top-k (broadcast queries, two-phase
    // rank): the ANN ground-truth baseline.
    Q("topk_cosine",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.topK(emb.filter(col("vec_id") < 10), emb, k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
              |${exactTopKSql("embeddings e, q")}""".stripMargin)),

    // X3+ — HYBRID retrieval: dense cosine top-10 and sparse shingle-tf
    // top-10 fused per query by Reciprocal Rank Fusion (integer
    // micro-unit contributions, so the fused score is an exact int64
    // sum). doc_id and vec_id share the id space (the multimodal-join
    // convention), so the two systems rank the same candidates.
    Q("hybrid_rrf_topk",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        val dense = graft.ext.Similarity.topK(
            emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") < 300), 10)
          .select("query_id", "neighbor_id", "rank")
        graft.ext.Hybrid.rrfFuse(Seq(dense, sparseTop10(s, dir)), k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
              |dp AS (
              |  SELECT q.query_id, e.vec_id AS neighbor_id,
              |         ${cosSql("q.q_emb", "e.embedding")} AS cos6
              |  FROM embeddings e, q
              |  WHERE e.vec_id < 300 AND e.vec_id != q.query_id),
              |${top10Cte("dense", "dp")},
              |$sparseRrfFuseSql""".stripMargin)),

    // X3 — IVF-style blocked top-k: candidates restricted to the query's
    // coarse cell (label), the tractable-at-100TB search path.
    Q("topk_cosine_ivf",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.topKBlocked(emb.filter(col("vec_id") < 20), emb, k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label FROM embeddings WHERE vec_id < 20),
              |${exactTopKSql("embeddings e JOIN q ON e.label = q.label")}""".stripMargin)),

    // X3 — random-hyperplane LSH approximate top-k: 8 sign-of-projection
    // bits -> 256 buckets, search confined to the query's bucket.
    Q("topk_cosine_lsh",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.topKLsh(emb.filter(col("vec_id") < 20), emb, k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
              |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id < 20),
              |${exactTopKSql("b e JOIN q ON e.bucket = q.q_bucket")}""".stripMargin)),

    // X3 — multi-probe LSH top-k: each query also probes the 8 buckets at
    // Hamming distance 1 (query side explodes into 9 probe keys; the
    // candidate join stays a bucketed equi-join). Recall ≥ single-probe at
    // ~9/256 of the corpus per query.
    Q("topk_cosine_lsh_probe",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.topKLshMultiProbe(emb.filter(col("vec_id") < 20), emb, k = 3)
          .orderBy("query_id", "rank")
      },
      Some {
        val probeList = ("q_bucket" +: (0 until Similarity.LshPlanes)
          .map(j => s"xor(q_bucket, ${1 << j})")).mkString("[", ", ", "]")
        s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q0 AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id < 20),
           |q AS (SELECT query_id, q_emb, unnest($probeList) AS probe FROM q0),
           |${exactTopKSql("b e JOIN q ON e.bucket = q.probe")}""".stripMargin
      }),

    // X3 scale path 4 — SQ8 serving: symmetric int8 scalar-quantized
    // shortlist (codegen'd INTEGER per-pair dot over the 4×-compressed
    // stored tier) + exact float re-rank of the shortlistFactor·k
    // survivors. The oracle mirrors the quantization arithmetic of
    // embedding_quantize, the exact-integer code dot, and the
    // association order of the approx score, so the double ranking key is
    // bit-identical; both ranks tie-break on neighbor_id. approx6 rides
    // along as proof the compressed path built the shortlist.
    Q("topk_cosine_sq8",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.topKSq8(emb.filter(col("vec_id") < 10), emb, k = 3, shortlistFactor = 4)
          .orderBy("query_id", "rank")
      },
      Some(sq8ServeOracle(routed = false, queryMax = 10))),

    // X3+ ∘ X3sq8 — HYBRID retrieval served from the COMPRESSED tier
    // (r16 verdict stretch #7): hybrid_rrf_topk's fusion with the dense
    // leg swapped from brute-force float cosine to the production path —
    // SQ8 integer-dot shortlist (¼-width stored tier) + exact re-rank
    // ([[Similarity.topKSq8]]) — then the same integer-RRF fuse with the
    // sparse shingle-tf leg. The oracle chains the VERIFIED SQ8 mirror
    // CTEs (quantize → int-dot shortlist → exact re-rank) with
    // hybrid_rrf_topk's verified sparse CTEs, so the hash match proves
    // the serving composition, not just the parts (the X42 pattern).
    Q("hybrid_rrf_sq8",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        val dense = Similarity.topKSq8(
            emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") < 300),
            k = 10, shortlistFactor = 4)
          .select("query_id", "neighbor_id", "rank")
        graft.ext.Hybrid.rrfFuse(Seq(dense, sparseTop10(s, dir)), k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${sq8CodedCtes("", " WHERE vec_id < 300")},
              |qs AS (SELECT vec_id AS query_id, embedding AS q_emb,
              |              s AS q_s, nrm AS q_nrm, q AS q_q
              |       FROM coded WHERE vec_id < 5),
              |${sq8PairsCte("")},
              |short AS (
              |  SELECT query_id, neighbor_id, q_emb, c_emb, q_nrm, c_nrm,
              |         row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS srn
              |  FROM p
              |  QUALIFY srn <= 40),
              |rr AS (
              |  SELECT query_id, neighbor_id,
              |    $sq8RerankCos
              |  FROM short),
              |${top10Cte("dense", "rr")},
              |$sparseRrfFuseSql""".stripMargin)),

    // X3sq8+ — END-TO-END ANN SERVING over the SQ8 tier (ann_serve_sq8):
    // the small-cell production alternative to PQ-ADC — coarse ROUTE to
    // the query's IVF cell (the cell equality lives IN the shortlist
    // join, so cross-cell pairs never reach the integer dot; at 100 TB
    // the SQ8 code table is cell-partitioned and the scan itself
    // prunes), int8 shortlist of 12 within the cell, exact re-rank to
    // the final 3. The oracle chains the verified SQ8 mirrors
    // (topk_cosine_sq8's CTEs) with the same route, so the hash match
    // proves the composition — the X42 pattern applied to the SQ8
    // serving face.
    Q("ann_serve_sq8",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.ivfSq8ServeTopK(emb.filter(col("vec_id") < 5), emb, k = 3)
          .orderBy("query_id", "rank")
      },
      Some(sq8ServeOracle(routed = true, queryMax = 5))),

    // Skew-salted dimension join: results must equal the plain join (the
    // salt is invisible in the output) — verified against an unsalted
    // oracle formulation.
    Q("salted_join",
      (s, dir) => {
        val orders = TableIO.read(s, dir, "orders")
        val customer = TableIO.read(s, dir, "customer")
          .withColumnRenamed("c_custkey", "o_custkey")
        Salting.saltedEquiJoin(orders, customer, Seq("o_custkey"), salt = 8)
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // Skew-stress pair (benchmark artifact, VERDICT r5 #6): the same join
    // over a SYNTHETICALLY skewed key — 90% of lineitem rows collapse
    // onto key 0, the rest spread over 96 keys — once as a plain
    // equi-join (AQE's skew handling at bench time) and once through
    // ops/Salting.saltedEquiJoin. Identical oracle: the salt must be
    // invisible in the output; BENCH_r{N} then carries a measured
    // salted-vs-AQE comparison at sf0.1 (see BASELINE.md).
    Q("skew_join_plain",
      (s, dir) => {
        val li = skewedLineitem(s, dir)
        li.join(skewDim(s), Seq("skew_key"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(38,6)")).cast("double").as("qty"))
          .orderBy("bucket")
      },
      Some(SkewOracleSql)),

    Q("skew_join_salted",
      (s, dir) => {
        val li = skewedLineitem(s, dir)
        Salting.saltedEquiJoin(li, skewDim(s), Seq("skew_key"), salt = 32)
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(38,6)")).cast("double").as("qty"))
          .orderBy("bucket")
      },
      Some(SkewOracleSql)),

    // X2d — embedding-cosine near-duplicate pairs, label-blocked (bounded
    // to vec_id < 2000 so the pair count is stable across scale factors).
    Q("embed_neardup",
      (s, dir) => Similarity.nearDupPairs(
          TableIO.read(s, dir, "embeddings").filter(col("vec_id") < 2000), threshold = 0.40)
        .orderBy("id_a", "id_b"),
      Some(s"""SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
              |       ${cosSql("a.embedding", "b.embedding")} AS cos6
              |FROM embeddings a JOIN embeddings b
              |  ON a.label = b.label AND a.vec_id < b.vec_id
              |WHERE a.vec_id < 2000 AND b.vec_id < 2000
              |  AND ${cosSql("a.embedding", "b.embedding")} > 0.40
              |ORDER BY id_a, id_b""".stripMargin)),

    // X2d+ — SemDeDup (arXiv:2303.09540): centroid-cluster the embeddings
    // (first 8 vectors as centroids, matching kmeans_assign), compare only
    // within clusters, drop any vector with a lower-id cluster-mate above
    // cosine 0.40. Output = the surviving rows; K centroids are the
    // pair-cost lever at scale.
    Q("semantic_dedup",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.semanticDedup(emb, emb.filter(col("vec_id") < 8), threshold = 0.40)
          .orderBy("vec_id")
      },
      Some(s"""WITH $centroidDistCtes,
              |asg AS (
              |  $nearestCentroidSql),
              |drops AS (
              |  SELECT DISTINCT b.vec_id AS drop_id
              |  FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
              |  JOIN embeddings ea ON ea.vec_id = a.vec_id
              |  JOIN embeddings eb ON eb.vec_id = b.vec_id
              |  WHERE ${cosSql("ea.embedding", "eb.embedding")} > 0.40)
              |SELECT asg.vec_id, asg.centroid_id, asg.dist6
              |FROM asg LEFT JOIN drops ON asg.vec_id = drops.drop_id
              |WHERE drops.drop_id IS NULL
              |ORDER BY vec_id""".stripMargin)),

    // Int8 scalar quantization with reconstruction-error accounting: the
    // 4x-compression step of a production vector store. Scalar outputs
    // only (sum of codes, max abs reconstruction error) so the compared
    // frame stays sortable/hashable.
    Q("embedding_quantize",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        // one-pass codegen kernel (the HOF formulation — quantize,
        // dequantize, zip_with error — is 4 interpreted lambda passes per
        // row; measured 20x the kernel's cost at sf0.1)
        val stats = org.apache.spark.sql.graft.FloatVectorDot.quantizeInt8Stats(col("embedding"))
        emb.select(col("vec_id"), stats.as("st"))
          .select(
            col("vec_id"),
            round(col("st")(0), 6).as("scale6"),
            col("st")(1).cast("long").as("q_sum"),
            round(col("st")(2), 8).as("max_err8"))
          .orderBy("vec_id")
      },
      Some(s"""WITH base AS (
              |  SELECT vec_id, embedding,
              |    $sq8ScaleSql AS s
              |  FROM embeddings),
             |coded AS (
             |  SELECT vec_id, embedding, s,
             |    -- zero-scale guard mirroring QuantizeInt8Stats: an
             |    -- all-zero embedding quantizes to all-zero codes, where
             |    -- an unguarded v*127/0 is NaN and floor(NaN) errors
             |    list_transform(embedding, v -> CASE WHEN s = 0 THEN 0
             |      ELSE CAST(floor(CAST(v AS DOUBLE) * 127.0 / s + 0.5) AS INT) END) AS q
             |  FROM base)
             |SELECT vec_id,
             |  round(s, 6) AS scale6,
             |  CAST(list_sum(q) AS BIGINT) AS q_sum,
             |  round(
             |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |      list_transform(range(1, 65),
             |        i -> abs(CAST(q[i] AS DOUBLE) * s / 127.0 - CAST(embedding[i] AS DOUBLE)))),
             |      (acc, e) -> greatest(acc, e)),
             |    8) AS max_err8
             |FROM coded
             |ORDER BY vec_id""".stripMargin)),

    // Vector norm stats per coarse cell (exercises T10 vector passthrough
    // + grouped aggregation with deterministic DECIMAL accumulation).
    Q("embedding_norm_stats",
      (s, dir) => TableIO.read(s, dir, "embeddings")
        .select(col("label"), round(Similarity.norm(col("embedding")), 6).as("norm6"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          sum(col("norm6").cast("decimal(18,6)")).cast("double").as("sum_norm"))
        .withColumn("avg_norm", col("sum_norm") / col("n"))
        .orderBy("label"),
      Some(s"""SELECT label, count(*) AS n,
              |  CAST(SUM(CAST(round(sqrt(${dotSql("embedding", "embedding")}), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm,
              |  CAST(SUM(CAST(round(sqrt(${dotSql("embedding", "embedding")}), 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_norm
              |FROM embeddings
              |GROUP BY label
              |ORDER BY label""".stripMargin)),

    // X5 — multimodal join: every text row with its (nullable) embedding
    // modality; the embeddings side is thinned so the outer join is real.
    Q("multimodal_join",
      (s, dir) => Multimodal.joinModalities(
          TableIO.read(s, dir, "documents"),
          TableIO.read(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(7)) =!= 0))
        .withColumn("emb_dim", col("emb_dim").cast("long"))
        .orderBy("doc_id"),
      Some("""SELECT d.doc_id, d.lang,
             |  e.vec_id IS NOT NULL AS has_embedding,
             |  len(e.embedding) AS emb_dim
             |FROM documents d
             |LEFT JOIN (SELECT * FROM embeddings WHERE vec_id % 7 != 0) e
             |  ON d.doc_id = e.vec_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Multimodal binary plumbing: payload as an opaque binary column with
    // typed metadata (the decode stub itself is verified in
    // multimodal_features and the ScalaTest suite).
    Q("multimodal_binary",
      (s, dir) => Multimodal.attachPayload(TableIO.read(s, dir, "documents"))
        .withColumn("payload_bytes", octet_length(col("payload")).cast("long"))
        // hex() so the compared output carries the full payload content in a
        // sortable/hashable string form (the oracle harness cannot sort raw
        // binary columns).
        .withColumn("payload_hex", hex(col("payload")))
        .drop("payload")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'text/plain' AS mime,
             |  strlen(text) AS payload_bytes, hex(encode(text)) AS payload_hex
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // Frame sampling: 4 evenly spaced 16-byte windows per payload, each
    // rolled to a checksum — the video frame-sample dataflow with a
    // deterministic stand-in for the codec (payloads stay unshuffled).
    Q("multimodal_frames",
      (s, dir) => {
        import s.implicits._
        Multimodal.sampleFrames(
            Multimodal.attachPayload(TableIO.read(s, dir, "documents")).as[Multimodal.MediaRecord])
          .select("doc_id", "n_frames", "f0", "f1", "f2", "f3")
          .orderBy("doc_id")
      },
      Some {
        def frameSql(j: Int): String = {
          val off = s"CAST((($j * (strlen(text) - 16)) // 3) AS BIGINT)"
          s"""CASE WHEN strlen(text) < 16 THEN -1 ELSE
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range($off + 1, $off + 17),
             |        i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
             |    (acc, b) -> (acc * 131 + b) % 1000000007) END AS f$j""".stripMargin
        }
        s"""SELECT doc_id,
           |  CASE WHEN strlen(text) < 16 THEN 0 ELSE 4 END AS n_frames,
           |  ${(0 until 4).map(frameSql).mkString(",\n  ")}
           |FROM documents
           |ORDER BY doc_id""".stripMargin
      }),

    // The mapPartitions decode stub end-to-end: deterministic checksum +
    // size per payload (text is ASCII, so the oracle's per-char fold over
    // codepoints equals the Spark-side fold over UTF-8 bytes).
    Q("multimodal_features",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.attachPayload(TableIO.read(s, dir, "documents"))
          .as[Multimodal.MediaRecord]
        Multimodal.decodeFeatures(media)
          .select(col("doc_id"), col("size_bytes"), col("checksum"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, strlen(text) AS size_bytes,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(1, strlen(text) + 1),
             |        i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
             |    (acc, b) -> (acc * 131 + b) % 1000000007) AS checksum
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // X5b — media shard layout (the WebDataset/tar-shard step): payloads
    // packed in (source, doc_id) order into ~4 KiB shards via the X30
    // two-level cumsum — START-ASSIGNED (an item joins the shard its
    // start byte falls in), so the layout is one distributable cumsum
    // and a shard overflows by at most one item. The oracle is the plain
    // window-cumsum mirror: identical arithmetic, per-stream ordering.
    Q("multimodal_shard_layout",
      (s, dir) => Multimodal.shardLayout(
          // the layout job reads only (id, stream, size) METADATA — the
          // payload bytes never enter the plan at all
          TableIO.read(s, dir, "documents").select(col("doc_id"), col("source"),
            octet_length(col("text")).cast("long").as("size_bytes")),
          "doc_id", "source", "size_bytes", shardBytes = 4096L)
        .orderBy("source", "doc_id"),
      Some(s"""WITH $shardStartCtes
              |SELECT source, doc_id, size_bytes, start_byte,
             |  start_byte // 4096 AS shard_idx,
             |  start_byte % 4096 AS shard_offset,
             |  CASE WHEN size_bytes > 0
             |       THEN (start_byte + size_bytes - 1) // 4096 - start_byte // 4096 + 1
             |       ELSE 1 END AS spans
             |FROM c
             |ORDER BY source, doc_id""".stripMargin)),

    // X5b(b) — the shard MANIFEST a layout job publishes: per (stream,
    // shard) item count, owned bytes, the addressable id range, and the
    // overflow flag a fixed-buffer reader checks (start-assignment's
    // bounded trade vs sequential greedy packing).
    Q("multimodal_shard_manifest",
      (s, dir) => Multimodal.shardManifest(
          Multimodal.shardLayout(
            TableIO.read(s, dir, "documents").select(col("doc_id"), col("source"),
              octet_length(col("text")).cast("long").as("size_bytes")),
            "doc_id", "source", "size_bytes", shardBytes = 4096L),
          "doc_id", "source", shardBytes = 4096L)
        .orderBy("source", "shard_idx"),
      Some(s"""WITH $shardStartCtes
              |SELECT source, start_byte // 4096 AS shard_idx,
             |  count(*) AS n_items,
             |  -- DuckDB sum(BIGINT) is HUGEINT, which pandas renders as
             |  -- float64 (4133.0 vs Spark's long 4133) and the driver's
             |  -- value hash sees as a different value; cast back to BIGINT
             |  -- so both sides canonicalize identically (r18 verdict item 1)
             |  CAST(sum(size_bytes) AS BIGINT) AS bytes,
             |  min(doc_id) AS first_id,
             |  max(doc_id) AS last_id,
             |  sum(size_bytes) > 4096 AS overflow
             |FROM c
             |GROUP BY 1, 2
             |ORDER BY source, shard_idx""".stripMargin)),

    // X3+ — IVF-training E-step: nearest-centroid assignment over the
    // whole table (centroids = the first 8 vectors, broadcast). Squared
    // L2 via the three-dot identity, each dot a fixed-order fold; argmin
    // is a map-side-combined min(struct), ties on centroid id.
    Q("kmeans_assign",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.assignToCentroids(emb, emb.filter(col("vec_id") < 8))
          .orderBy("vec_id")
      },
      Some(s"""WITH $centroidDistCtes
              |$nearestCentroidSql
              |ORDER BY vec_id""".stripMargin)),

    // X3+ — integer-exact k-means M-step: E-assign against the 8 seed
    // centroids in µ-quantized integer space, then per-dimension exact
    // integer-mean centroids (sum div n; both engines truncate toward
    // zero). Bit-identical across partitionings — float means are not.
    Q("kmeans_update",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.kmeansUpdate(emb, emb.filter(col("vec_id") < 8))
          .orderBy("centroid_id", "dim")
      },
      Some(s"""$kmeansLloydCtes
              |SELECT centroid_id, i - 1 AS dim, c_us, n FROM newc
              |ORDER BY centroid_id, dim""".stripMargin)),

    // X3+ — the full Lloyd round: reassignment against the updated
    // integer centroids (dims join broadcast, map-side-combined distance
    // sum, min-struct argmin).
    Q("kmeans_next_assign",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        val updated = Similarity.kmeansUpdate(emb, emb.filter(col("vec_id") < 8))
        Similarity.kmeansReassign(emb, updated)
          .orderBy("vec_id")
      },
      Some(s"""$kmeansLloydCtes,
              |d2 AS (
              |  SELECT v.vec_id, nc.centroid_id,
              |         CAST(sum((v.vq - nc.c_us) * (v.vq - nc.c_us)) AS BIGINT) AS dist_q
              |  FROM vq v JOIN newc nc ON v.i = nc.i
              |  GROUP BY 1, 2)
              |SELECT vec_id, centroid_id, dist_q
              |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_q, centroid_id) AS rn FROM d2)
              |WHERE rn = 1
              |ORDER BY vec_id""".stripMargin)),

    // X3+ — product-quantization encoding (Jégou et al. 2011): 8 subspaces
    // × 8 dims, 16 sub-centroids (the first 16 vectors); per (vector,
    // subspace) the nearest sub-centroid id + quantization error. The
    // compression lever of a 100 TB vector store (8 codes vs 256 bytes).
    Q("pq_codes",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.pqCodes(emb, emb.filter(col("vec_id") < 16))
          .orderBy("vec_id", "sub")
      },
      Some(s"""WITH $pqSubDistCtes
              |SELECT vec_id, sub, c_id AS code, dist6
              |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist6, c_id) AS rn FROM d)
              |WHERE rn = 1
              |ORDER BY vec_id, sub""".stripMargin)),

    // X3+ — PQ asymmetric-distance (ADC) top-k: the query's per-subspace
    // distance lookup table (broadcast) is summed over each candidate's
    // stored codes — no full-dim dot per pair. Fixed-point (µ-units)
    // entries make the 8-term sum exact; ties rank on neighbor id.
    Q("pq_adc_topk",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.pqAdcTopK(emb.filter(col("vec_id") < 5), emb, emb.filter(col("vec_id") < 16), k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""${pqAdcCtes(routed = false)}
              |SELECT query_id,
              |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_us, vec_id) AS INTEGER) AS rank,
              |       vec_id AS neighbor_id, adc_us
              |FROM pairs
              |QUALIFY rank <= 3
              |ORDER BY query_id, rank""".stripMargin)),

    // X3+ — TWO-STAGE retrieval: ADC shortlist (10 per query) re-ranked
    // by exact full-dimension cosine to the final 3 — the production PQ
    // pattern (shortlist absorbs quantization error, exact pass touches
    // only shortlisted pairs).
    Q("pq_rerank_topk",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.pqRerankTopK(emb.filter(col("vec_id") < 5), emb,
            emb.filter(col("vec_id") < 16), k = 3, shortlist = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""${pqAdcCtes(routed = false)},
              |$pqRerankSql""".stripMargin)),

    // X3++ — END-TO-END ANN SERVING (ann_serve_e2e): the IVF-PQ
    // composition a production vector-serving path runs — coarse ROUTE
    // to the query's IVF cell (the cell equality lives IN the ADC join
    // key, so cross-cell pairs never reach the 8-term sum; at 100 TB the
    // code table is cell-partitioned and the scan itself prunes), PQ ADC
    // shortlist of 10 within the cell, exact full-dimension re-rank to
    // the final 3. Every primitive is individually oracle-green
    // (topk_cosine_ivf, pq_adc_topk, pq_rerank_topk); this chains their
    // CTE mirrors so the hash match proves the COMPOSITION — the X42
    // pattern applied to the serving face.
    Q("ann_serve_e2e",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        Similarity.ivfPqServeTopK(emb.filter(col("vec_id") < 5), emb,
            emb.filter(col("vec_id") < 16), k = 3, shortlist = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""${pqAdcCtes(routed = true)},
              |$pqRerankSql""".stripMargin)),

    // X3+ — per-dimension feature statistics (the normalization-fit pass
    // of an embedding pipeline): posexplode to (dim, value), one groupBy.
    // Values are fixed-point-quantized (floor(v·1e6) as BIGINT) BEFORE
    // aggregation: long sums are exact and order-independent, where float
    // sums differ by partitioning and float→DECIMAL casts differ between
    // engines (Spark rounds the binary expansion, DuckDB the shortest
    // representation). floor, not round — no half-tie ambiguity.
    Q("embedding_dim_stats",
      (s, dir) => TableIO.read(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"),
          floor(col("v").cast("double") * lit(1000000.0)).as("q"))
        .groupBy("dim")
        .agg(
          count(lit(1)).as("n"),
          sum("q").as("sum_q"),
          min("q").as("min_q"),
          max("q").as("max_q"))
        .orderBy("dim"),
      Some("""SELECT i - 1 AS dim, count(*) AS n,
             |  CAST(sum(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)) AS BIGINT) AS sum_q,
             |  CAST(min(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)) AS BIGINT) AS min_q,
             |  CAST(max(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)) AS BIGINT) AS max_q
             |FROM embeddings, range(1, 65) r(i)
             |GROUP BY 1
             |ORDER BY 1""".stripMargin)),

    // X36 — mutual k-NN graph over the whole corpus: LSH-bucket
    // SELF-join candidates (never broadcast, never all-pairs), per-node
    // two-phase top-k, then the mutuality self-join on reversed edges —
    // the graph-clustering precursor that drops one-directional hub
    // bridges.
    Q("knn_graph_mutual",
      (s, dir) => graft.ext.Similarity.knnGraphMutual(
          TableIO.read(s, dir, "embeddings"), k = 4)
        .orderBy("id_a", "id_b"),
      Some(knnMutualOracle)),

    // X36b — semantic COMMUNITIES end-to-end: mutual-kNN edges above a
    // cosine floor fed into the O(log n) star connected components — the
    // full embedding-community pipeline (SemDeDup's clustering face,
    // composed from two already-verified operators). Oracle = the knn
    // edge SQL + the same recursive-CTE transitive closure that pins
    // both CC algorithms.
    // Community edges come from the BANDED MULTI-PROBE candidate
    // generator with POST-HEAP SYMMETRIZED discovery (per-band survivor
    // lists reversed — NN-descent's list reversal; r16 moved the
    // reversal after the heaps at IDENTICAL measured recall and ~half
    // the pre-heap form's wall) — the single-bucket graph's ~3 %
    // directed recall made the clusters an artifact of the hashing; the
    // 12x5-band 2-probe symmetric edges carry the measured 660-770 k
    // ppm directed and 642-769 k ppm MUTUAL recall (knn_recall_banded /
    // knn_recall_mutual rows) vs the asymmetric form's 552-604 k
    // mutual, at the same candidate volume.
    Q("knn_communities",
      (s, dir) => {
        val edges = graft.ext.Similarity.knnGraphBanded(
            TableIO.read(s, dir, "embeddings"), k = 4,
            bands = 12, bandPlanes = 5, probes = 2, symmetric = true)
          .filter(col("cos6") >= 0.15)
        graft.ext.Dedup.connectedComponentsStar(edges, "id_a", "id_b")
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_members"), min("id").as("min_id"))
          .orderBy(col("n_members").desc, col("cluster"))
      },
      Some(s"""${bandedDirectedCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
              |mu AS (
              |  SELECT a.src AS id_a, a.dst AS id_b
              |  FROM d a JOIN d bb ON a.src = bb.dst AND a.dst = bb.src
              |  WHERE a.src < a.dst AND a.cos6 >= 0.15),
              |${OracleSql.reachCtes("mu")}
              |, assign AS (
              |  ${OracleSql.reachClusters})
              |SELECT cluster, count(*) AS n_members, CAST(min(id) AS BIGINT) AS min_id
              |FROM assign
              |GROUP BY 1
              |ORDER BY n_members DESC, cluster""".stripMargin)),

    // X36d — INCREMENTAL kNN-graph maintenance: a 20% delta batch
    // (vec_id % 5 = 4) joins the stored base-graph state (bucket index +
    // directed edges) — only delta-touched buckets recompute, untouched
    // buckets carry their edges verbatim. The oracle is a FULL REBUILD
    // over the unioned corpus (identical SQL to knn_graph_mutual), so
    // the hash-match IS the incremental-equals-rebuild proof at sf scale.
    Q("knn_graph_incremental",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 5 =!= 4)
        val delta = emb.filter(col("vec_id") % 5 === 4)
        // stored state, persisted once per JVM (StateStore) — see
        // knnGraphStateLoad; each execution pays state READ + delta
        val state = knnGraphStateLoad(s, dir)
        graft.ext.Similarity.knnGraphIncremental(base, delta, state, k = 4)
          .orderBy("id_a", "id_b")
      },
      Some(knnMutualOracle)),

    // X36e — BANDED multi-bucket mutual kNN graph (the b×r banding idea
    // applied to hyperplane LSH): 4 disjoint 8-plane bands, a pair is a
    // candidate when ANY band agrees — the structural recall fix for the
    // single-bucket scheme's all-planes-must-agree weakness. Slim
    // id-pair candidates dedup BEFORE the cosine; per-band caps bound
    // dense regions.
    Q("knn_graph_banded",
      (s, dir) => graft.ext.Similarity.knnGraphBanded(
          TableIO.read(s, dir, "embeddings"), k = 4,
          bands = 12, bandPlanes = 5, probes = 2, symmetric = true)
        .orderBy("id_a", "id_b"),
      Some(bandedMutualOracle)),

    // X36e(d) — INCREMENTAL maintenance of the BANDED multi-probe graph
    // (the production face of the graph knn_communities consumes): a 20%
    // delta batch against the stored per-band SURVIVOR state (the
    // post-heap design's minimal foldable state) — only queries probing
    // a delta-touched bucket recompute their survivor lists (against the
    // union's capped index, so cap flips resurrect/drop rows exactly);
    // untouched lists carry verbatim, and the directed graph is a slim
    // derivation over survivors (no embeddings in the reversal face).
    // The oracle is the FULL REBUILD over the union (identical SQL to
    // knn_graph_banded), so the hash match IS the
    // incremental-equals-rebuild proof for the banded geometry;
    // BandedIncrementalSpec pins the multi-batch fold and an engineered
    // cap-flip fixtures may not hit.
    //
    // The survivor state is PERSISTED (StateStore): built + written to
    // parquet once per JVM per sf dir, then every execution reloads the
    // table and pays only state read + the delta pass — the production
    // ingest-loop cost (r14 verdict item 1; the in-timer state build is
    // gone). PersistedStateSpec pins the reloaded-state result bit-equal
    // to the in-memory-state result.
    Q("knn_banded_incremental",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 5 =!= 4)
        val delta = emb.filter(col("vec_id") % 5 === 4)
        graft.ext.Similarity.knnGraphBandedIncremental(
            base, delta, bandedStateLoad(s, dir), k = 4, bands = 12, bandPlanes = 5,
            probes = 2, symmetric = true)
          .orderBy("id_a", "id_b")
      },
      Some(bandedMutualOracle)),

    // X36e(f) — the delta-REGIME audit on knn_banded_incremental's exact
    // split: the forward affected-query fraction (the incremental's cost
    // driver) plus touched/total bucket counts and the rebuild advice an
    // ingest loop reads before choosing the incremental path. Oracle
    // mirrors the banded probe arithmetic (true bucket + lowest-|margin|
    // flip) at the registered 12×5×2 config.
    Q("knn_regime_audit",
      (s, dir) => {
        val emb = TableIO.read(s, dir, "embeddings")
        graft.ext.Similarity.knnDeltaRegimeAudit(
          emb.filter(col("vec_id") % 5 =!= 4), emb.filter(col("vec_id") % 5 === 4),
          bands = 12, bandPlanes = 5, probes = 2)
      },
      Some(s"""WITH ${bandedAuditCtes(12, 5)},
              |atb AS (${(0 until 12).map(b => s"SELECT $b AS band, vec_id, bucket, mg FROM abb$b").mkString("\n  UNION ALL ")}),
              |att AS (SELECT DISTINCT band, bucket FROM atb WHERE vec_id % 5 = 4),
              |apr AS (SELECT vec_id, band,
              |          unnest([bucket, xor(bucket, 1 << (list_position(mg, list_min(mg)) - 1))]) AS pb
              |        FROM atb WHERE vec_id % 5 <> 4),
              |naff AS (SELECT CAST(count(DISTINCT apr.vec_id) AS BIGINT) AS n_aff
              |         FROM apr JOIN att ON apr.band = att.band AND apr.pb = att.bucket),
              |nbase AS (SELECT CAST(count(*) AS BIGINT) AS n_base FROM embeddings WHERE vec_id % 5 <> 4)
              |SELECT
              |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % 5 = 4) AS n_delta,
              |  (SELECT CAST(count(*) AS BIGINT) FROM att) AS n_touched,
              |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT band, bucket FROM atb)) AS n_total,
              |  n_aff,
              |  CAST(n_aff * 1000000 // n_base AS BIGINT) AS affected_ppm,
              |  (n_aff * 1000000 // n_base) > 300000 AS advise_rebuild
              |FROM naff, nbase""".stripMargin)),

    // X36e(b) — the banded variant under the SAME recall audit as
    // knn_recall_audit: one row proving the banding buys its recall
    // (single-bucket measured 3% directed recall on the fixture; the
    // 4-band form must land far above it — the committed number is the
    // oracle-matched row itself).
    Q("knn_recall_banded",
      (s, dir) => graft.ext.Similarity.knnRecallAuditBanded(
        TableIO.read(s, dir, "embeddings"), k = 4,
        bands = 12, bandPlanes = 5, probes = 2, symmetric = true),
      Some(s"""${bandedDirectedCtes},
              |cd AS (SELECT src AS query_id, dst AS neighbor_id FROM d
              |       WHERE src % 20 = 0),
              |${exactTruthCtes("\n  WHERE q.vec_id % 20 = 0")},
              |${recallPpmSql("cd", "tr")}""".stripMargin)),

    // X36e(c) — MUTUAL-edge recall audit: knn_recall_banded measures
    // DIRECTED recall, but knn_communities consumes MUTUAL edges, whose
    // per-pair survival is roughly the directed recall squared (both
    // directions must clear the hashing). Truth is sample-bounded (exact
    // top-k for the anchors and for the anchors' true neighbors — never
    // an all-pairs join on the Spark side); the oracle computes the full
    // exact graph and filters to the same anchored orientation, which is
    // equal by construction on the rows the audit counts.
    Q("knn_recall_mutual",
      (s, dir) => graft.ext.Similarity.knnRecallAuditMutual(
        TableIO.read(s, dir, "embeddings"), k = 4,
        bands = 12, bandPlanes = 5, probes = 2, symmetric = true),
      Some(s"""${bandedDirectedCtes},
              |mu AS (
              |  SELECT a.src AS id_a, a.dst AS id_b
              |  FROM d a JOIN d bb ON a.src = bb.dst AND a.dst = bb.src
              |  WHERE a.src < a.dst),
              |cd AS (
              |  SELECT id_a AS query_id, id_b AS neighbor_id FROM mu WHERE id_a % 20 = 0
              |  UNION ALL
              |  SELECT id_b AS query_id, id_a AS neighbor_id FROM mu WHERE id_b % 20 = 0),
              |${exactTruthCtes("")},
              |tm AS (
              |  SELECT a.query_id, a.neighbor_id
              |  FROM tr a JOIN tr b
              |    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
              |  WHERE a.query_id % 20 = 0),
              |${recallPpmSql("cd", "tm")}""".stripMargin)),

    // X36c — kNN-graph recall/precision audit (the X2h mirror for the
    // embedding side): deterministic query sample (vec_id % 20 = 0),
    // exact brute-force top-k truth over the full corpus vs the bucketed
    // directed candidates under the committed plane rule — recall@k in
    // exact integer ppm. The truth side is SQL-expressible, so unlike
    // the LSH parameters themselves this audit is oracle-matched.
    Q("knn_recall_audit",
      (s, dir) => graft.ext.Similarity.knnRecallAudit(
        TableIO.read(s, dir, "embeddings"), k = 4),
      Some(s"""WITH $bucketPairsCtes,
              |d AS (SELECT src, dst FROM (
              |        SELECT src, dst,
              |               row_number() OVER (PARTITION BY src ORDER BY cos6 DESC, dst) AS rk
              |        FROM p)
              |      WHERE rk <= 4),
              |cand AS (SELECT src AS query_id, dst AS neighbor_id FROM d
              |         WHERE src % 20 = 0),
              |${exactTruthCtes("\n  WHERE q.vec_id % 20 = 0")},
              |${recallPpmSql("cand", "tr")}""".stripMargin)),

    // X37 — top principal direction of the embedding second-moment
    // matrix by int64 fixed-point power iteration (graft.ext.Linalg):
    // the corpus-sized work is ONE SecondMomentAgg pass (a 32 KiB
    // partial buffer per partition — no intermediate rows); the 5-round
    // power loop runs driver-side over the collected 64×64 matrix.
    // Oracle = the same loop unrolled into chained CTEs by the Scala
    // generator below — the PageRank exactness discipline applied to
    // linear algebra (float power iteration is partition-order
    // sensitive from the first sum; the µ-unit integer form is not).
    Q("embedding_pca_power",
      (s, dir) => graft.ext.Linalg.pcaTopDirection(
          TableIO.read(s, dir, "embeddings"), "embedding")
        .select(col("dim").cast("long").as("dim"), col("v_fixed"))
        .orderBy("dim"),
      Some(s"""$pcaCteChain
              |SELECT dim, v AS v_fixed FROM $pcaV ORDER BY dim""".stripMargin)),

    // X37b — projection face: every vector's integer coordinate along
    // the trained direction (µ·scale units, shuffle-free per-row dot
    // against the inlined direction literal) — the cheap embedding-
    // space outlier / stratification key.
    Q("embedding_pca_project",
      (s, dir) => graft.ext.Linalg.pcaProjectTop(
          TableIO.read(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id"),
      Some(s"""$pcaCteChain
              |SELECT el.vec_id, CAST(sum(el.x * $pcaV.v) AS BIGINT) AS proj_fixed
              |FROM el JOIN $pcaV ON el.i = $pcaV.dim
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // X37c — top-2 directions via staged-integer Hotelling deflation
    // (the staging IS the committed formula; oracle = the same ops as
    // unrolled CTEs), then Linalg.Rounds more rounds on the deflated matrix.
    Q("embedding_pca_top2",
      (s, dir) => graft.ext.Linalg.pcaTop2Directions(
          TableIO.read(s, dir, "embeddings"), "embedding")
        .select(col("component"), col("dim").cast("long").as("dim"), col("v_fixed"))
        .orderBy("component", "dim"),
      Some(s"""$pcaTop2Chain
              |SELECT CAST(1 AS BIGINT) AS component, dim, v AS v_fixed FROM $pcaV
              |UNION ALL
              |SELECT CAST(2 AS BIGINT) AS component, dim, v AS v_fixed FROM u${Linalg.Rounds}
              |ORDER BY component, dim""".stripMargin))
  )

  /** DuckDB mirror of Linalg.pcaTopDirection: quantize → exact integer
   * second-moment → truncating average → Linalg.Rounds unrolled
   * matrix-vector/renormalize rounds (divide-by-quotient normalization —
   * see Linalg.powerLoop's overflow note). `//` in DuckDB and `div`/
   * Java `/` in the engine both truncate toward zero, so the chain is
   * bit-identical to the driver-side loop. */
  private def pcaCteChain: String =
    s"""$pcaPrelude,
       |${pcaIters("v", "cavg")}""".stripMargin

  /** Name of [[pcaCteChain]]'s last iterate. */
  private def pcaV = s"v${Linalg.Rounds}"

  /** Shared prelude: quantize → exact integer second moment →
   * truncating average → the all-`Linalg.Scale` start iterate v0. */
  private def pcaPrelude: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS xq
       |  FROM embeddings),
       |el AS (SELECT vec_id, unnest(range(0, len(xq))) AS i, unnest(xq) AS x FROM q),
       |cov AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS c
       |        FROM el a JOIN el b USING (vec_id) GROUP BY 1, 2),
       |cavg AS MATERIALIZED (SELECT i, j,
       |    c // (SELECT count(*) FROM q WHERE xq IS NOT NULL) AS c FROM cov),
       |v0 AS (SELECT DISTINCT i AS dim, CAST(${Linalg.Scale} AS BIGINT) AS v FROM cavg)""".stripMargin

  /** Linalg.Rounds unrolled power rounds named ${pfx}1..${pfx}N over
   * covariance table `cov`, starting from ${pfx}0. */
  private def pcaIters(pfx: String, cov: String): String =
    (1 to Linalg.Rounds).map { r =>
      s"""${pfx}w$r AS (SELECT c.i AS dim, CAST(sum(c.c * v.v) AS BIGINT) AS w
         |        FROM $cov c JOIN $pfx${r - 1} v ON c.j = v.dim GROUP BY 1),
         |$pfx$r AS (SELECT dim,
         |        CAST(w // greatest(1, (SELECT max(abs(w)) FROM ${pfx}w$r) // ${Linalg.Scale}) AS BIGINT) AS v
         |        FROM ${pfx}w$r)"""
    }.mkString(",\n")

  /** Mirror of Linalg.deflate + the second power stage: the STAGED
   * integer deflation (per-component pre-division for λ, the
   * floor-identity staging for w2 — the staging IS the committed
   * formula, shared operation-for-operation with the Scala loop) and
   * Linalg.Rounds more iterations over the deflated matrix, named u1..uN. */
  private def pcaTop2Chain: String =
    s"""$pcaCteChain,
       |vv AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv FROM $pcaV),
       |dw AS (SELECT c.i AS dim, CAST(sum(c.c * v.v) AS BIGINT) AS w
       |       FROM cavg c JOIN $pcaV v ON c.j = v.dim GROUP BY 1),
       |lam AS (SELECT CAST(sum(f.v * (dw.w // vv.vv)) AS BIGINT) AS lam
       |        FROM dw JOIN $pcaV f ON dw.dim = f.dim CROSS JOIN vv),
       |w2 AS (SELECT f.dim,
       |       CAST((lam.lam // vv.vv) * f.v + ((lam.lam % vv.vv) * f.v) // vv.vv AS BIGINT) AS w2
       |       FROM $pcaV f CROSS JOIN lam CROSS JOIN vv),
       |cavg2 AS MATERIALIZED (SELECT c.i, c.j, CAST(c.c - wi.w2 * vj.v AS BIGINT) AS c
       |          FROM cavg c JOIN w2 wi ON wi.dim = c.i JOIN $pcaV vj ON vj.dim = c.j),
       |u0 AS (SELECT DISTINCT i AS dim, CAST(${Linalg.Scale} AS BIGINT) AS v FROM cavg2),
       |${pcaIters("u", "cavg2")}""".stripMargin
}
