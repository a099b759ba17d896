package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SortExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.config.CdmConfig
import graft.run.TrackedMigrate

/** DiffData's parquet autocorrect: the merge is a null-safe left-anti
 * join plus a union, written once to staging and renamed into place;
 * and validate on MAP columns. */
class AutocorrectSpec extends SparkSpec {
  import spark.implicits._

  private def validateCfg(origin: String, target: String, pk: String,
      extra: (String, String)*): CdmConfig = CdmConfig.fromMap(Map(
    "spark.cdm.connect.origin.path" -> origin,
    "spark.cdm.connect.target.path" -> target,
    "spark.cdm.schema.origin.keyspaceTable" -> "t",
    "spark.cdm.schema.origin.primaryKey" -> pk,
    "spark.cdm.autocorrect.missing" -> "true",
    "spark.cdm.autocorrect.mismatch" -> "true") ++ extra)

  private def classes(report: DataFrame): Map[String, Long] =
    report.groupBy("diff_class").count().as[(String, Long)].collect().toMap

  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val bb = b.select(a.columns.map(b(_)).toIndexedSeq: _*)
    a.exceptAll(bb).isEmpty && bb.exceptAll(a).isEmpty
  }

  /** 200 origin rows; the target lacks pk % 20 == 3 and has v changed
   * where pk % 20 == 7: 10 MISSING, 10 MISMATCH. */
  private def seed(): (String, String) = {
    val origin = tmpDir(); val target = tmpDir()
    val o = (0L until 200L).map(i => (i, s"v$i", i * 2)).toDF("pk", "v", "n")
    o.write.parquet(s"$origin/t.parquet")
    o.filter($"pk" % 20 =!= 3)
      .withColumn("v", org.apache.spark.sql.functions.when($"pk" % 20 === 7, "stale").otherwise($"v"))
      .write.parquet(s"$target/t.parquet")
    (origin, target)
  }

  /** Every node of an executed plan, through AQE stages and wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case w: DataWritingCommandExec => Seq(w.child)
      case other => other.children
    }
    p +: kids.flatMap(nodes)
  }

  /** Run `body` and return the executed plans of the writes it made into
   * a staging directory. */
  private def stagingWritePlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        nodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand if i.outputPath.toString.endsWith("__staging") =>
              seen.add(w)
            case _ =>
          }
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      // listener events arrive asynchronously; poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("autocorrect write plans a broadcast anti-join: no window, no sort, no shuffle") {
    val (origin, target) = seed()
    val plans = stagingWritePlans {
      assert(classes(JobDispatch.run(spark, "validate", validateCfg(origin, target, "pk"))) ==
        Map("VALID" -> 180L, "MISSING" -> 10L, "MISMATCH" -> 10L))
    }
    assert(plans.size == 1, s"expected one staging write, got ${plans.size}")
    val all = nodes(plans.head)
    assert(!all.exists(_.isInstanceOf[WindowExec]), plans.head.toString)
    assert(!all.exists(_.isInstanceOf[SortExec]), plans.head.toString)
    assert(!all.exists(_.isInstanceOf[ShuffleExchangeExec]), plans.head.toString)
    assert(all.exists {
      case b: BroadcastHashJoinExec => b.joinType == LeftAnti
      case _ => false
    }, plans.head.toString)
    assert(sameRows(spark.read.parquet(s"$origin/t.parquet"), spark.read.parquet(s"$target/t.parquet")))
    assert(!new java.io.File(s"$target/t.parquet.__staging").exists(), "staging left behind")
  }

  test("autocorrect is correct on the sort-merge path (autoBroadcastJoinThreshold=-1)") {
    val (origin, target) = seed()
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plans = stagingWritePlans {
        JobDispatch.run(spark, "validate", validateCfg(origin, target, "pk"))
      }
      assert(plans.size == 1 && nodes(plans.head).exists {
        case j: SortMergeJoinExec => j.joinType == LeftAnti
        case _ => false
      }, plans.map(_.toString))
    }
    assert(sameRows(spark.read.parquet(s"$origin/t.parquet"), spark.read.parquet(s"$target/t.parquet")))
    assert(spark.read.parquet(s"$target/t.parquet").count() == 200)
  }

  test("a correction whose key holds a null replaces the target row, not duplicates it") {
    val target = Seq((1L, null: String, "old"), (2L, "a", "x"), (3L, null: String, "y"))
      .toDF("pk", "ck", "v")
    val corrections = Seq((1L, null: String, "new"), (4L, "b", "z")).toDF("pk", "ck", "v")
    val got = DiffData.mergeCorrections(target, corrections, Seq("pk", "ck"))
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, null, "new"), (2L, "a", "x"), (3L, null, "y"), (4L, "b", "z")))
  }

  test("autocorrect keeps a TrackedMigrate target bucket-partitioned, with no stale files") {
    val origin = tmpDir(); val late = tmpDir(); val target = tmpDir(); val ledger = tmpDir()
    val o = (0L until 120L).map(i => (i, s"v$i")).toDF("pk", "v")
    o.write.parquet(s"$origin/t.parquet")
    // late origin: 6 new keys, 6 changed values
    val lateRows = o.withColumn("v",
      org.apache.spark.sql.functions.when($"pk" % 20 === 5, "changed").otherwise($"v"))
      .union((500L until 506L).map(i => (i, s"n$i")).toDF("pk", "v"))
    lateRows.write.parquet(s"$late/t.parquet")
    def tracked(from: String, runId: String): Unit = JobDispatch.run(spark, "migrate", CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> from,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "t",
      "spark.cdm.schema.origin.primaryKey" -> "pk",
      "spark.cdm.perfops.numParts" -> "4",
      "spark.cdm.trackRun" -> "true",
      "spark.cdm.trackRun.ledgerDir" -> ledger)), runId)
    tracked(origin, "r1")

    val report = JobDispatch.run(spark, "validate",
      validateCfg(late, target, "pk", "spark.cdm.perfops.numParts" -> "4"))
    assert(classes(report) == Map("VALID" -> 114L, "MISSING" -> 6L, "MISMATCH" -> 6L))
    val entries = new java.io.File(s"$target/t.parquet").listFiles().map(_.getName)
      .filterNot(n => n == "_SUCCESS" || n.startsWith("."))
    assert(entries.nonEmpty && entries.forall(_.startsWith(s"${TrackedMigrate.BucketCol}=")),
      s"flat files beside the bucket directories: ${entries.mkString(", ")}")
    val corrected = spark.read.parquet(s"$target/t.parquet")
    assert(sameRows(lateRows, corrected.drop(TrackedMigrate.BucketCol)))
    // each row sits in the bucket a tracked migrate would give it
    assert(corrected.filter($"${TrackedMigrate.BucketCol}" =!= TrackedMigrate.bucketOf("pk", 4)).isEmpty)

    tracked(late, "r2")
    assert(sameRows(lateRows, spark.read.parquet(s"$target/t.parquet").drop(TrackedMigrate.BucketCol)),
      "a tracked migrate after autocorrect double-counted rows")
  }

  test("an interrupted swap is finished before validate reads the target") {
    val (origin, target) = seed()
    // crash between the swap's two renames (live moved aside, staging
    // not yet in): the complete staging is the state
    assert(new java.io.File(s"$target/t.parquet")
      .renameTo(new java.io.File(s"$target/t.parquet.__staging")))
    val report = JobDispatch.run(spark, "validate", validateCfg(origin, target, "pk"))
    assert(classes(report) == Map("VALID" -> 180L, "MISSING" -> 10L, "MISMATCH" -> 10L))
    assert(sameRows(spark.read.parquet(s"$origin/t.parquet"), spark.read.parquet(s"$target/t.parquet")))
  }

  private def mapTables(targetAttrs: Map[Long, Map[String, Int]]): (String, String) = {
    val origin = tmpDir(); val target = tmpDir()
    val attrs = Map(1L -> Map("a" -> 1, "b" -> 2), 2L -> Map("c" -> 3))
    attrs.toSeq.toDF("pk", "attrs").write.parquet(s"$origin/t.parquet")
    targetAttrs.toSeq.toDF("pk", "attrs").write.parquet(s"$target/t.parquet")
    (origin, target)
  }

  test("validate compares MAP columns independent of entry order") {
    // same entries written in another order: equal
    val (origin, target) = mapTables(Map(1L -> Map("b" -> 2, "a" -> 1), 2L -> Map("c" -> 3)))
    val report = JobDispatch.run(spark, "validate", validateCfg(origin, target, "pk"))
    assert(classes(report) == Map("VALID" -> 2L))
  }

  test("a changed MAP value is a MISMATCH on that column, and autocorrect repairs it") {
    val (origin, target) = mapTables(Map(1L -> Map("a" -> 1, "b" -> 99), 2L -> Map("c" -> 3)))
    val cfg = validateCfg(origin, target, "pk")
    val report = JobDispatch.run(spark, "validate", cfg)
    assert(report.select("pk", "diff_class", "diff_cols").as[(Long, String, String)].collect().toSet ==
      Set((1L, "MISMATCH", "attrs"), (2L, "VALID", "")))
    assert(classes(JobDispatch.run(spark, "validate", cfg)) == Map("VALID" -> 2L))
  }

  test("a map nested in an array fails fast, naming the column") {
    val df = Seq((1L, Seq(Map("a" -> 1)))).toDF("pk", "nested")
    val e = intercept[IllegalArgumentException](DiffData.classify(df, df, Seq("pk")))
    assert(e.getMessage.contains("'nested'"))
  }
}
