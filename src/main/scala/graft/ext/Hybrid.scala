package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Hybrid retrieval fusion — the modern RAG-shaped pattern where a DENSE
 * ranking (embedding cosine) and a SPARSE ranking (lexical tf overlap)
 * are combined per query by Reciprocal Rank Fusion (Cormack et al.,
 * SIGIR'09): score(d) = Σ_systems 1/(k₀ + rank_system(d)), k₀ = [[Hybrid.RrfK]].
 * RRF needs no score calibration between systems — only ranks — which is exactly why
 * production hybrid search uses it.
 *
 * Exactness: contributions are integer micro-units (10⁶ div (k₀+rank)),
 * so the fused score is an int64 sum — order-independent and
 * oracle-mirrorable, where float 1/(k+r) sums can differ in the low
 * bits by addition order.
 *
 * Scale: each input is already a per-query TOP-N (bounded rows per
 * query), so the fusion is a union + one groupBy on (query, candidate)
 * over ~N·systems rows per query — negligible next to the retrieval
 * stages that produced the inputs.
 */
object Hybrid {

  /** RRF's rank offset k₀ (Cormack et al.'s 60). */
  val RrfK = 60

  /**
   * Fuse ranked lists `(query_id, neighbor_id, rank)` (rank 1-based) to
   * the per-query top `k` by RRF. Output carries the fused integer score
   * and how many systems voted for each candidate.
   */
  def rrfFuse(ranked: Seq[DataFrame], k: Int): DataFrame = {
    require(ranked.nonEmpty, "at least one ranked input")
    require(k > 0, s"bad k=$k")
    val contribs = ranked.map(_.select(col("query_id"), col("neighbor_id"),
      expr(s"CAST(1000000 AS BIGINT) div (CAST($RrfK AS BIGINT) + CAST(rank AS BIGINT))").as("c")))
    contribs.reduce(_ unionByName _)
      .groupBy("query_id", "neighbor_id")
      .agg(sum("c").as("rrf_us"), count(lit(1)).as("n_systems"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf_us").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "rrf_us", "n_systems")
  }
}
