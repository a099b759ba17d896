package graft.ext

import graft.SparkSpec
import graft.io.TableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The routed serving paths are their unrouted primitives plus a cell
 * route: with every vector in ONE cell the route prunes nothing, so
 * `ivfSq8ServeTopK` must return exactly `topKSq8`'s rows and
 * `ivfPqServeTopK` exactly `pqRerankTopK`'s — shortlist, tie-breaks and
 * re-rank included.
 */
class ServeCompositionSpec extends SparkSpec {

  private def oneCell = TableIO.read(spark, Sf, "embeddings").withColumn("label", lit(0L))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(want.count() > 0, "vacuous: the unrouted primitive returned no rows")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"routed ${got.collect().toSeq} != unrouted ${want.collect().toSeq}")
  }

  test("ivfSq8ServeTopK over one cell returns topKSq8's rows") {
    val emb = oneCell
    val queries = emb.filter(col("vec_id") < 5)
    assertSameRows(
      Similarity.ivfSq8ServeTopK(queries, emb, k = 3),
      Similarity.topKSq8(queries, emb, k = 3, shortlistFactor = 4))
  }

  test("ivfPqServeTopK over one cell returns pqRerankTopK's rows") {
    val emb = oneCell
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = emb.filter(col("vec_id") < 16)
    assertSameRows(
      Similarity.ivfPqServeTopK(queries, emb, centroids, k = 3, shortlist = 10),
      Similarity.pqRerankTopK(queries, emb, centroids, k = 3, shortlist = 10))
  }
}
