package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.TaskMetricsProbe

/** The Spark jobs that run while a query's DataFrame is BUILT, before
 * any action, pinned exactly for the queries that stage the most. Under
 * AQE each lazy `localCheckpoint` runs its map stages at build time, so
 * a staging call added outside the staging rule (README, scale design)
 * raises a count here, and a deleted one lowers it. A query's prepare
 * hook and one warm-up run go first, so persisted state is built
 * outside the count. */
class BuildJobsSpec extends SparkSpec {

  private def buildJobs(query: String): Int = {
    SparkEntry.prepares.get(query).foreach(_(spark, Sf))
    // counted on a second run: a first run in a JVM can differ by a job
    SparkEntry.queries(query)(spark, Sf).write.mode("overwrite").format("noop").save()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    val probe = new TaskMetricsProbe
    probe.drain(sc)
    sc.addSparkListener(listener)
    try { SparkEntry.queries(query)(spark, Sf); probe.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  // pipeline_incremental ran 61 build-time jobs when this spec ran alone
  // and 60 to 62 in the full suite (the cause is not isolated), so it is
  // pinned as a ceiling well below the parent's 76 to 77
  test("pipeline_incremental: at most 65 jobs run while the DataFrame is built") {
    val n = buildJobs("pipeline_incremental")
    assert(n <= 65, s"$n build-time jobs")
  }

  private val pinned = Seq(
    "pipeline_e2e" -> 35,
    "knn_banded_incremental" -> 18,
    "knn_recall_mutual" -> 14,
    "perceptron_weights" -> 19)

  pinned.foreach { case (query, want) =>
    test(s"$query: $want jobs run while the DataFrame is built") {
      assert(buildJobs(query) == want)
    }
  }
}
