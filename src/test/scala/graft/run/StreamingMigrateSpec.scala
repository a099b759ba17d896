package graft.run

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.TaskMetricsProbe

import graft.SparkSpec
import graft.run.{Quarantine => Q}

class StreamingMigrateSpec extends SparkSpec {
  import spark.implicits._

  test("continuous migrate merges micro-batches by last-writer-wins, idempotently") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val target = tmpDir()
    val source = MemoryStream[(Long, String, Long)]
    val stream = source.toDF().toDF("pk", "v", "wt")
    val q = StreamingMigrate.start(stream, target, "tbl", Seq("pk"), "wt", tmpDir())
    try {
      source.addData((1L, "a", 100L), (2L, "b", 100L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$target/tbl.parquet").count() == 2)

      // batch 2: newer write for pk 2, STALE write for pk 1, new pk 3
      source.addData((2L, "b2", 200L), (1L, "stale", 50L), (3L, "c", 100L))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$target/tbl.parquet")
        .select("pk", "v", "wt").as[(Long, String, Long)].collect().toSet
      assert(got == Set((1L, "a", 100L), (2L, "b2", 200L), (3L, "c", 100L)),
        s"got $got — stale write must lose, newer must win")
    } finally q.stop()
  }

  test("crash between delete and rename recovers from staging, losing nothing") {
    val target = tmpDir()
    // state as a crash would leave it: complete staging, NO live target
    Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("pk", "v", "wt")
      .write.parquet(s"$target/tbl.parquet.__staging")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String, Long)]
    val q = StreamingMigrate.start(source.toDF().toDF("pk", "v", "wt"),
      target, "tbl", Seq("pk"), "wt", tmpDir())
    try {
      source.addData((3L, "c", 100L))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$target/tbl.parquet")
        .select("pk", "v").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")),
        s"staged state lost in recovery: $got")
    } finally q.stop()
  }

  test("kill + restart from checkpoint: replayed batch no-ops, offline data lands — exactly-once state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val target = tmpDir()
    val ckpt = tmpDir()
    val source = MemoryStream[(Long, String, Long)]
    val stream = source.toDF().toDF("pk", "v", "wt")

    val q1 = StreamingMigrate.start(stream, target, "tbl", Seq("pk"), "wt", ckpt)
    try {
      source.addData((1L, "a", 100L), (2L, "b", 100L))
      q1.processAllAvailable()
      source.addData((2L, "b2", 200L), (3L, "c", 100L))
      q1.processAllAvailable()
    } finally q1.stop()

    // Crash shape: the batch's WORK completed (target swapped) but the
    // checkpoint commit marker was never written — kill the marker of the
    // last batch, so the restarted query MUST replay it against a target
    // that already contains its effects. LWW is what makes that a no-op.
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).max
    assert(new java.io.File(commits, last.toString).delete(), "could not simulate crash")
    // the local FS keeps a checksum sidecar; a stale one fails the
    // replayed batch's commit re-write
    new java.io.File(commits, s".$last.crc").delete()

    // data that arrives while the pipeline is down
    source.addData((1L, "a2", 300L))

    val q2 = StreamingMigrate.start(stream, target, "tbl", Seq("pk"), "wt", ckpt)
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(s"$target/tbl.parquet")
        .select("pk", "v", "wt").as[(Long, String, Long)].collect().toSet
      assert(got == Set((1L, "a2", 300L), (2L, "b2", 200L), (3L, "c", 100L)),
        s"restart broke exactly-once target state: $got")
    } finally q2.stop()
  }

  test("TaskMetricsProbe counts records, tasks and shuffle bytes of two jobs") {
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
    val n = orders.count()
    val sc = spark.sparkContext
    val probe = new TaskMetricsProbe
    sc.addSparkListener(probe)
    try {
      sc.setJobGroup("task-metrics-probe", "probe spec")
      orders.groupBy("o_orderstatus").count().collect()
      orders.write.parquet(s"${tmpDir()}/orders")
      sc.clearJobGroup()
      probe.drain(sc)
      val st = sc.statusTracker
      val ranTasks = st.getJobIdsForGroup("task-metrics-probe").toSeq
        .flatMap(st.getJobInfo).flatMap(_.stageIds)
        .flatMap(st.getStageInfo).map(_.numCompletedTasks.toLong).sum
      // both jobs scan orders once; only the write writes records
      assert(probe.recordsRead.get == 2 * n)
      assert(probe.recordsWritten.get == n)
      assert(probe.tasks.get == ranTasks)
      // the groupBy's reducers read back exactly what its mappers wrote
      assert(probe.shuffleWriteB.get > 0)
      assert(probe.shuffleReadB.get == probe.shuffleWriteB.get)
      assert(probe.spilledB.get == 0)
      probe.reset()
      assert(probe.tasks.get == 0 && probe.recordsRead.get == 0 && probe.shuffleWriteB.get == 0)
    } finally sc.removeSparkListener(probe)
  }

  test("quarantine classify routes violations with reasons; writeRouted splits in one pass") {
    val df = Seq(
      (1L, 10.0, "ok"),
      (2L, -5.0, "neg"), // violates positive
      (3L, 10.0, null), // violates named (null predicate -> violation)
      (4L, -1.0, null)) // violates both
      .toDF("id", "amount", "name")
    val classified = Q.classify(df, Seq(
      "positive" -> ($"amount" > 0),
      "named" -> $"name".isNotNull))
    val reasons = classified.orderBy("id")
      .select(Q.ReasonsCol).as[String].collect().toSeq
    assert(reasons == Seq("", "positive", "named", "positive,named"))

    val dir = tmpDir()
    Q.writeRouted(classified, dir)
    val good = spark.read.parquet(s"$dir/${Q.RouteCol}=${Q.Good}")
    val bad = spark.read.parquet(s"$dir/${Q.RouteCol}=${Q.Quarantined}")
    assert(good.count() == 1 && bad.count() == 3)
    // partition pruning: reading one side never lists the other
    assert(bad.select("id").as[Long].collect().toSet == Set(2L, 3L, 4L))
  }
}
