package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev/audit tool: dump physical plans — the ".explain and iterate until
 * it's the plan you'd want" evidence.
 *
 *  - `runMain graft.PlanDump [outFile]` writes the FORMATTED plans of the
 *    headline queries to one markdown file (default `PLANS.md`), always
 *    under `local[4]` so the committed file does not depend on the host.
 *  - `runMain graft.PlanDump [--exec] <dir> <q1,q2,...>` writes one
 *    `<dir>/<query>.txt` per named query under `local[$SPARK_GRAFT_CPUS]`
 *    (the bench conf). `--exec` first executes the query and dumps the
 *    AQE-FINAL plan (`isFinalPlan=true`) — the only place runtime
 *    join-strategy rewrites and broadcast demotions are visible. */
object PlanDump {

  /** One headline query per plan family: scan+pushdown, reconciliation
   * join, broadcast star join, banded-LSH pairs, inverted index,
   * two-phase rank, PQ rerank, native top-k, window sessionization. */
  val Headliners: Seq[String] = Seq(
    "filter_where", "diff_join", "star_join_revenue", "local_supplier_revenue",
    "dedup_minhash_banded", "sparse_cosine_pairs", "topk_cosine",
    "pq_rerank_topk", "grouptopk_native", "sessionize_gaps", "salted_join",
    // round 6: the new pipeline operators
    "bloom_contamination", "dup_span_stats", "fuzzy_match_nn", "sequence_pack",
    "approx_quantiles", "doc_chunking", "skew_audit",
    // round 7: single-lineage repetition stats + the blockCap recall audit
    "text_repetition", "linkage_block_audit",
    // round 8: temporal-join family restored by the NTZ seam fix (the
    // union-tag as-of shape is worth keeping visible) + DSIR resampling
    "asof_join", "dsir_resample",
    // round 10: CDC-kernel scan + the iterative fixed-point PageRank
    // (broadcast-per-round face) + the bigram-count surprisal (r11:
    // map-side-combined count tables + SHUFFLE_HASH joins)
    "chunk_cdc", "pagerank_top", "lm_bigram_surprisal",
    // round 11: banded multi-bucket kNN candidates + the incremental
    // graph-maintenance face
    "knn_graph_banded", "knn_graph_incremental",
    // round 11 late: zero-shuffle BM25 (HashCounts per-row tf +
    // broadcast-restricted postings) + the broadcast-model NB classifier
    "bm25_topk", "nb_classify_confusion")

  def main(args: Array[String]): Unit = {
    val exec = args.headOption.contains("--exec")
    val rest = if (exec) args.tail else args
    val names = rest.drop(1).headOption.toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    require(names.nonEmpty || (!exec && rest.length <= 1),
      "usage: PlanDump [outFile] | PlanDump [--exec] <dir> <q1,q2,...>")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.harness(
      if (names.isEmpty) "4" else sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    def plan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (exec) {
        // run the query's OWN plan (as PlanAB does): a noop-sink write
        // executes a fresh QueryExecution and leaves this one unfinalized
        df.queryExecution.toRdd.foreachPartition(_ => ())
        df.queryExecution.executedPlan.toString
      } else df.queryExecution.explainString(FormattedMode)
    }
    if (names.isEmpty) {
      val out = rest.headOption.getOrElse("PLANS.md")
      val sb = new StringBuilder
      sb.append("# Physical plans of the headline queries\n\n")
      sb.append(s"Generated by `graft.PlanDump` on $sfDir. One query per plan\n")
      sb.append("family; PlanSpec pins the load-bearing properties (pushdown,\n")
      sb.append("join selection, exchange counts) as tests so regressions fail CI\n")
      sb.append("rather than just changing this file.\n")
      Headliners.foreach(name => sb.append(s"\n## $name\n\n```\n${plan(name)}```\n"))
      Files.write(Paths.get(out), sb.toString.getBytes(UTF_8))
      println(s"[plandump] wrote ${Headliners.size} plans to $out")
    } else {
      val dir = Files.createDirectories(Paths.get(rest(0)))
      names.foreach { name =>
        val f = dir.resolve(s"$name.txt")
        Files.write(f, plan(name).getBytes(UTF_8))
        println(s"[plandump] wrote $f")
      }
    }
    spark.stop()
  }
}
