package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/**
 * AQE A/B plan audit (round-9 mandate): the bench harness pins
 * `spark.sql.shuffle.partitions` to the CPU count, but a production 100×
 * cluster runs AQE over the DEFAULT partition count (200) and lets
 * coalescing/broadcast-demotion re-plan at runtime. A query whose plan
 * only works under the pinned conf is a latent production regression
 * (the round-6 Linkage coalesce-vs-expansion trap). This main executes
 * every registered query under BOTH confs in one JVM and diffs the FINAL
 * (post-AQE) physical plans as node-type histograms.
 *
 * A reported diff means the runtime plan genuinely changed shape between
 * confs; join-strategy changes and exchange-count increases are the
 * degradations to act on, partition-count-only differences never appear
 * (node names carry no partition counts).
 *
 * Output: one JSON line per query with a non-empty diff, then a summary
 * line; the committed artifact is PLAN_AB.json.
 */
object PlanAB {

  /** Node-type histogram of the EXECUTED plan, descending through AQE
   * wrappers into the final stages (only valid after an action ran). */
  private def histogram(p: SparkPlan): Map[String, Int] = {
    def flat(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case q: QueryStageExec => flat(q.plan)
      // codegen stage IDs are assignment-order cosmetics, not plan shape —
      // without stripping them every query with multiple codegen spans
      // diffs on pure numbering
      case other => other.nodeName.replaceAll("""\s*\(\d+\)$""", "") +:
        other.children.flatMap(flat)
    }
    flat(p).groupBy(identity).map { case (k, v) => k -> v.size }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.harness(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").map(_.trim).toSet) else None
    val names = SparkEntry.registry.map(_.name).filter(n => only.forall(_.contains(n)))

    /** Execute the query's own plan (toRdd materializes the final AQE
     * plan without bolting a count-agg on top) and return the histogram. */
    def run(name: String, partitions: String,
        broadcastThreshold: String = "10485760"): Either[String, Map[String, Int]] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastThreshold)
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.toRdd.foreachPartition(_ => ())
        Right(histogram(df.queryExecution.executedPlan))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }

    var diffs = 0
    var broadcastErrs = 0
    var cartesian = 0
    val out = new StringBuilder
    names.foreach { name =>
      val base = run(name, cpus)
      (base, run(name, "200")) match {
        case (Right(a), Right(b)) if a != b =>
          diffs += 1
          val delta = (a.keySet ++ b.keySet).toSeq.sorted
            .map(k => (k, a.getOrElse(k, 0), b.getOrElse(k, 0)))
            .filter { case (_, x, y) => x != y }
            .map { case (k, x, y) => s""""$k":[$x,$y]""" }.mkString("{", ",", "}")
          val joinChanged = (a.keySet ++ b.keySet).exists(k =>
            k.contains("Join") && a.getOrElse(k, 0) != b.getOrElse(k, 0))
          val moreExchanges =
            b.filter(_._1.contains("Exchange")).values.sum > a.filter(_._1.contains("Exchange")).values.sum
          val line = s"""{"query":"$name","delta":$delta,""" +
            s""""join_changed":$joinChanged,"more_exchanges":$moreExchanges}"""
          println(line); out.append(line).append('\n')
        case (Left(e), _) => println(s"""{"query":"$name","error":"pinned: $e"}""")
        case (_, Left(e)) => println(s"""{"query":"$name","error":"aqe-default: $e"}""")
        case _ => () // identical plans — the desired outcome, not reported per-query
      }
      // SECOND AXIS (r17 verdict stretch #9): autoBroadcastJoinThreshold=-1
      // — the planner grants NO implicit broadcast, modeling a 100× run
      // where a fixture-small side outgrew the threshold. Explicit
      // broadcast()/hint sites are untouched (those are the engine's own
      // size-gated decisions); what this smokes out is a query whose plan
      // only WORKS when the planner happens to grant a broadcast: an
      // execution error here, or a BroadcastNestedLoopJoin degrading to
      // CartesianProduct, is a latent 100× correctness/scale bug. Join-
      // strategy changes (BHJ→SMJ/ShuffledHash) are the EXPECTED outcome
      // and are only counted, not flagged.
      (base, run(name, cpus, broadcastThreshold = "-1")) match {
        case (Right(a), Right(c)) =>
          val aCart = a.filter(_._1.contains("CartesianProduct")).values.sum
          val cCart = c.filter(_._1.contains("CartesianProduct")).values.sum
          if (cCart > aCart) {
            cartesian += 1
            val line = s"""{"query":"$name","axis":"no_broadcast",""" +
              s""""cartesian_products":[$aCart,$cCart]}"""
            println(line); out.append(line).append('\n')
          }
        case (Right(_), Left(e)) =>
          broadcastErrs += 1
          val line = s"""{"query":"$name","axis":"no_broadcast","error":"$e"}"""
          println(line); out.append(line).append('\n')
        case _ => () // base already errored and was reported above
      }
    }
    val summary = s"""{"metric":"plan_ab","queries":${names.size},"diffs":$diffs,""" +
      s""""no_broadcast_errors":$broadcastErrs,"no_broadcast_cartesian":$cartesian,"sf":"$sfDir"}"""
    println(summary)
    // a name-filtered dev run must not overwrite the committed full record
    // (the Bench.scala guard, r18)
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("PLAN_AB.json"),
        (out.toString + summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else System.err.println("[plan_ab] name-filtered run: PLAN_AB.json NOT overwritten")
    spark.stop()
  }
}
