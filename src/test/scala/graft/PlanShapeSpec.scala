package graft

import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

/** AQE-FINAL plan shape of the five most expensive queries, as named
 * specs: each query is executed (as `PlanDump --exec` does) and its
 * final adaptive plan walked, materialized stages included. Pinned:
 *  - no SortAggregate (a hash aggregate silently demoted to a sort) and
 *    no cartesian product;
 *  - the exact number of broadcast nested-loop joins: the census pack
 *    row and the temperature keep-ppm table each cross-join a one-row
 *    aggregate, and any other one is an equi-join lost;
 *  - the exact number of broadcast hash joins (a runtime broadcast
 *    demotion, or a new one) and of staged `ExistingRDD` leaves (a
 *    localCheckpoint added or removed on the query's own frames).
 * A staged frame is a leaf here: a refactor inside it does not show. */
class PlanShapeSpec extends SparkSpec {

  /** Every node of the final plan; a materialized query stage is a leaf
   * wrapper whose subtree `collect` does not reach, so descend by hand.
   * A reused exchange stays a leaf, as it prints. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ (p match {
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    })).flatMap(nodes)

  private def finalPlan(query: String): SparkPlan = {
    val df = SparkEntry.queries(query)(spark, Sf)
    df.queryExecution.toRdd.foreachPartition(_ => ())
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def checkShape(query: String, nestedLoopJoins: Int, broadcastJoins: Int,
      stagedLeaves: Int): Unit = {
    val p = finalPlan(query)
    val all = nodes(p)
    def n(f: PartialFunction[SparkPlan, Unit]): Int = all.count(f.isDefinedAt)
    val shape = Map(
      "SortAggregate" -> n { case _: SortAggregateExec => },
      "CartesianProduct" -> n { case _: CartesianProductExec => },
      "BroadcastNestedLoopJoin" -> n { case _: BroadcastNestedLoopJoinExec => },
      "BroadcastHashJoin" -> n { case _: BroadcastHashJoinExec => },
      "ExistingRDD" -> n { case r: RDDScanExec if r.nodeName == "Scan ExistingRDD" => })
    val want = Map("SortAggregate" -> 0, "CartesianProduct" -> 0,
      "BroadcastNestedLoopJoin" -> nestedLoopJoins,
      "BroadcastHashJoin" -> broadcastJoins, "ExistingRDD" -> stagedLeaves)
    assert(shape == want, s"$query final plan shape $shape, pinned $want:\n$p")
  }

  test("pipeline_e2e: AQE-final plan keeps its broadcast joins and staged leaves") {
    checkShape("pipeline_e2e", nestedLoopJoins = 1, broadcastJoins = 1, stagedLeaves = 8)
  }

  test("pipeline_incremental: AQE-final plan keeps its broadcast joins and staged leaves") {
    checkShape("pipeline_incremental", nestedLoopJoins = 1, broadcastJoins = 1, stagedLeaves = 6)
  }

  test("dedup_ngram_hot: AQE-final plan keeps its broadcast joins and staged leaves") {
    checkShape("dedup_ngram_hot", nestedLoopJoins = 0, broadcastJoins = 3, stagedLeaves = 3)
  }

  test("knn_recall_mutual: AQE-final plan keeps its broadcast joins and staged leaves") {
    checkShape("knn_recall_mutual", nestedLoopJoins = 3, broadcastJoins = 4, stagedLeaves = 6)
  }

  test("knn_banded_incremental: AQE-final plan keeps its broadcast joins and staged leaves") {
    checkShape("knn_banded_incremental", nestedLoopJoins = 0, broadcastJoins = 1, stagedLeaves = 2)
  }
}
