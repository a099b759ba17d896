package graft.io

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TaskMetricsProbe
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.config.CdmConfig
import graft.jobs.JobDispatch
import graft.run.TrackedMigrate

/** `TableIO.read(spark, path)` takes a parquet path's schema from one
 * footer on the driver: the schema equals what Spark's own inference
 * gives, building the frame runs no Spark job, and a read Spark would
 * fail still fails the same way. */
class TableIOReadSpec extends SparkSpec {
  import spark.implicits._

  private def assertSameSchema(path: String): StructType = {
    val inferred = spark.read.parquet(path).schema
    val read = TableIO.read(spark, path).schema
    assert(read == inferred, s"footer schema $read != inferred $inferred for $path")
    read
  }

  /** The innermost `graft.` frame of each job's call site, in start
   * order, plus the task-metrics listener to count tasks and to drain
   * listener delivery. */
  private def jobSites(body: => Unit): (Seq[Option[String]], Long) = {
    val sites = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxByOption(_.stageId).flatMap(
          _.details.linesIterator.map(_.trim).find(_.startsWith("graft.")).map(_.takeWhile(_ != '('))))
    }
    val probe = new TaskMetricsProbe
    val sc = spark.sparkContext
    probe.drain(sc)
    sc.addSparkListener(listener); sc.addSparkListener(probe)
    try { body; probe.drain(sc) }
    finally { sc.removeSparkListener(listener); sc.removeSparkListener(probe) }
    (sites.asScala.toSeq, probe.tasks.get)
  }

  test("schema equals inference: a multi-file Spark-written table") {
    val path = s"${tmpDir()}/t.parquet"
    spark.range(0, 400, 1, 4)
      .select($"id", ($"id" % 7).cast("int").as("k"), concat(lit("v"), $"id").as("s"), ($"id" * 0.5).as("d"))
      .write.parquet(path)
    assert(new java.io.File(path).list().count(_.endsWith(".parquet")) == 4)
    assertSameSchema(path)
  }

  test("schema equals inference: a TrackedMigrate __part=N target") {
    val target = tmpDir()
    TrackedMigrate.run(spark, CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> Sf,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "orders",
      "spark.cdm.schema.origin.primaryKey" -> "o_orderkey",
      "spark.cdm.perfops.numParts" -> "8",
      "spark.cdm.trackRun" -> "true",
      "spark.cdm.trackRun.ledgerDir" -> tmpDir())), "run-1")
    val schema = assertSameSchema(s"$target/orders.parquet")
    assert(schema.fieldNames.last == TrackedMigrate.BucketCol)
  }

  test("schema equals inference: the pyarrow events fixture, ts as NTZ and as nanos") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val ntz = assertSameSchema(s"$Sf/events.parquet")
    assert(ntz("ts").dataType == TimestampNTZType)
    val nanos = assertSameSchema(getClass.getResource("/parquet/events_ts_nanos.parquet").getPath)
    assert(nanos("ts").dataType == LongType)
  }

  test("schema equals inference: map, array, struct, decimal and binary columns") {
    val path = s"${tmpDir()}/nested.parquet"
    spark.range(0, 10, 1, 2).select(
      $"id",
      map(concat(lit("k"), $"id"), $"id".cast("int")).as("m"),
      array($"id", $"id" + 1).as("a"),
      struct($"id".cast("int").as("x"), concat(lit("s"), $"id").as("y")).as("st"),
      ($"id" / 3).cast("decimal(20,4)").as("dec"),
      $"id".cast("string").cast("binary").as("bin"))
      .write.parquet(path)
    assertSameSchema(path)
  }

  test("the footer is Spark's pick: summary files first, then path order, hidden names skipped") {
    val path = s"${tmpDir()}/picked.parquet"
    new java.io.File(path).mkdir()
    // one single-file parquet per name, each with its own column
    def put(name: String, column: String): Unit = {
      val tmp = s"${tmpDir()}/one"
      Seq(1L).toDF(column).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      assert(part.renameTo(new java.io.File(s"$path/$name")))
    }
    put("part-b.parquet", "b"); put("part-a.parquet", "a")
    put(".hidden.parquet", "dot"); put("_hidden.parquet", "underscore")
    assert(assertSameSchema(path).fieldNames.toSeq == Seq("a"))
    put("_metadata", "metadata")
    assert(assertSameSchema(path).fieldNames.toSeq == Seq("metadata"))
    put("_common_metadata", "common")
    assert(assertSameSchema(path).fieldNames.toSeq == Seq("common"))
  }

  test("a footer that repeats a partition column keeps Spark's read") {
    val path = s"${tmpDir()}/repeat.parquet"
    // a schema given to the reader would move `p` after the data columns
    Seq((7, 1L)).toDF("p", "id").write.parquet(s"$path/p=1")
    assert(assertSameSchema(path).fieldNames.toSeq == Seq("p", "id"))
  }

  test("with mergeSchema on, the read is Spark's own merged read") {
    val path = s"${tmpDir()}/merged.parquet"
    Seq((1L, "a")).toDF("id", "x").write.parquet(s"$path/p=1")
    Seq((2L, 2.0)).toDF("id", "y").write.parquet(s"$path/p=2")
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(assertSameSchema(path).fieldNames.toSeq == Seq("id", "x", "y", "p"))
    }
  }

  test("TableIO.read runs no Spark job; Spark's inference runs one") {
    val (inferred, _) = jobSites(spark.read.parquet(s"$Sf/lineitem.parquet").schema)
    assert(inferred.nonEmpty, "the listener saw no schema-inference job")
    val (sites, tasks) = jobSites {
      TableIO.read(spark, Sf, "lineitem").schema
      TableIO.read(spark, Sf, "events").schema
    }
    assert(sites.isEmpty && tasks == 0, s"TableIO.read ran jobs at $sites")
  }

  test("a dispatched guardrail -> migrate -> validate with autocorrect runs no job from TableIO.read") {
    val origin = tmpDir(); val target = tmpDir()
    spark.range(0, 200, 1, 2).select($"id".as("pk"), concat(lit("v"), $"id").as("v"))
      .write.parquet(s"$origin/t.parquet")
    val cfg = CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> origin,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "t",
      "spark.cdm.schema.origin.primaryKey" -> "pk",
      "spark.cdm.autocorrect.missing" -> "true",
      "spark.cdm.autocorrect.mismatch" -> "true"))
    val (sites, _) = jobSites {
      JobDispatch.run(spark, "guardrail", cfg).count()
      JobDispatch.run(spark, "migrate", cfg).count()
      // late origin writes after the migrate: validate must correct them
      spark.range(200, 210).select($"id".as("pk"), concat(lit("late"), $"id").as("v"))
        .write.mode("append").parquet(s"$origin/t.parquet")
      val report = JobDispatch.run(spark, "validate", cfg)
      assert(report.filter($"diff_class" === "MISSING").count() == 10)
    }
    assert(sites.nonEmpty, "the listener saw no job")
    assert(!sites.contains(Some("graft.io.TableIO$.read")),
      s"jobs from TableIO.read: ${sites.count(_.contains("graft.io.TableIO$.read"))} of ${sites.size}")
    assert(TableIO.read(spark, target, "t").count() == 210)
  }

  test("a missing path or a path with no data file fails as Spark's read does") {
    val dir = tmpDir()
    new java.io.File(s"$dir/empty.parquet").mkdir()
    Seq(s"$dir/absent.parquet", s"$dir/empty.parquet").foreach { path =>
      val ours = intercept[AnalysisException](TableIO.read(spark, path))
      val spark0 = intercept[AnalysisException](spark.read.parquet(path))
      assert(ours.getCondition == spark0.getCondition, ours.getMessage)
      assert(ours.getMessage == spark0.getMessage)
    }
  }
}
