package graft.jobs

import graft.SparkSpec
import graft.config.CdmConfig

/** The wrapper's CDM_JOB_NAME dispatch (entrypoint.sh:228-242 /
 * spark-submit-cdm:10-26): case-insensitive aliases, hard error on
 * unknown names, and each job running end-to-end. */
class JobDispatchSpec extends SparkSpec {
  import spark.implicits._

  test("job names resolve case-insensitively with the reference aliases") {
    assert(JobDispatch.resolve("migrate") == JobDispatch.Migrate)
    assert(JobDispatch.resolve("MIGRATE") == JobDispatch.Migrate)
    assert(JobDispatch.resolve("Validate") == JobDispatch.DiffData)
    assert(JobDispatch.resolve("diffdata") == JobDispatch.DiffData)
    assert(JobDispatch.resolve("guardrail") == JobDispatch.GuardrailCheck)
    assert(JobDispatch.resolve("GuardrailCheck") == JobDispatch.GuardrailCheck)
    val e = intercept[IllegalArgumentException](JobDispatch.resolve("compact"))
    assert(e.getMessage.contains("Unrecognised job name"))
  }

  test("dispatched migrate writes the target and returns it") {
    val target = tmpDir()
    val cfg = CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> Sf,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "region",
      "spark.cdm.schema.origin.primaryKey" -> "r_regionkey"))
    val out = JobDispatch.run(spark, "migrate", cfg)
    assert(out.count() == 5)
  }

  test("dispatched validate reports diffs and autocorrects the target") {
    val origin = tmpDir(); val target = tmpDir()
    val o = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("pk", "v")
    o.write.parquet(s"$origin/t.parquet")
    // target: pk=2 mismatches, pk=3 missing
    Seq((1L, "a"), (2L, "WRONG")).toDF("pk", "v").write.parquet(s"$target/t.parquet")
    val cfg = CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> origin,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "t",
      "spark.cdm.schema.origin.primaryKey" -> "pk",
      "spark.cdm.autocorrect.missing" -> "true",
      "spark.cdm.autocorrect.mismatch" -> "true"))
    val report = JobDispatch.run(spark, "validate", cfg)
    val classes = report.select("pk", "diff_class").as[(Long, String)].collect().toMap
    assert(classes == Map(1L -> "VALID", 2L -> "MISMATCH", 3L -> "MISSING"))
    // post-correction, the target equals origin
    val corrected = spark.read.parquet(s"$target/t.parquet")
      .select("pk", "v").as[(Long, String)].collect().toSet
    assert(corrected == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the stage-then-swap scratch table must not survive the run: a stray
    // __staging parquet doubles storage and pollutes directory listings
    assert(!new java.io.File(s"$target/t.parquet.__staging").exists(),
      "staging table left behind after autocorrect")
  }

  test("autocorrect merges on the effective PK under rename + explodeMap") {
    // PK rename (pk -> id) + explodeMap: the merge key is the post-rename
    // PK PLUS the exploded key column. Partitioning the last-writer-wins
    // merge on the base PK alone would collapse every exploded row sharing
    // a base id to one survivor — this pins the effective-PK path.
    val origin = tmpDir(); val target = tmpDir()
    Seq(
      (1L, Map("k1" -> 10L, "k2" -> 20L)),
      (2L, Map("k1" -> 30L, "k2" -> 40L)))
      .toDF("pk", "m").write.parquet(s"$origin/t.parquet")
    // target already exploded: (1,k2) mismatches, (2,k2) missing
    Seq((1L, "k1", 10L), (1L, "k2", 999L), (2L, "k1", 30L))
      .toDF("id", "mk", "mv").write.parquet(s"$target/t.parquet")
    val cfg = CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> origin,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "t",
      "spark.cdm.schema.origin.primaryKey" -> "pk",
      "spark.cdm.schema.origin.column.names.to.target" -> "pk:id",
      "spark.cdm.feature.explodeMap.origin.name" -> "m",
      "spark.cdm.feature.explodeMap.target.name.key" -> "mk",
      "spark.cdm.feature.explodeMap.target.name.value" -> "mv",
      "spark.cdm.autocorrect.missing" -> "true",
      "spark.cdm.autocorrect.mismatch" -> "true"))
    assert(cfg.effectivePrimaryKey == Seq("id", "mk"))
    JobDispatch.run(spark, "validate", cfg)
    // every exploded row survives, with the two corrections applied
    val corrected = spark.read.parquet(s"$target/t.parquet")
      .select("id", "mk", "mv").as[(Long, String, Long)].collect().toSet
    assert(corrected == Set(
      (1L, "k1", 10L), (1L, "k2", 20L), (2L, "k1", 30L), (2L, "k2", 40L)))
  }

  test("appendOnDiff accumulates failed ranges across runs") {
    val origin = tmpDir(); val target = tmpDir(); val pf = s"${tmpDir()}/parts.txt"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("pk", "v")
      .write.parquet(s"$origin/t.parquet")
    Seq((1L, "a")).toDF("pk", "v").write.parquet(s"$target/t.parquet")
    // pre-existing failed ranges from a prior run
    graft.run.RunLedger.writePartitionFile(
      Seq(7, 9).toDF("part_id"), pf)
    val cfg = CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> origin,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "t",
      "spark.cdm.schema.origin.primaryKey" -> "pk",
      "spark.cdm.tokenrange.partitionFile.appendOnDiff" -> "true",
      "spark.cdm.tokenrange.partitionFile.output" -> pf))
    JobDispatch.run(spark, "validate", cfg)
    val parts = graft.run.RunLedger.readPartitionFile(spark, pf)
      .as[Int].collect().toSet
    // prior ranges 7 and 9 survive alongside the newly-recorded diff ranges
    assert(Set(7, 9).subsetOf(parts) && parts.size > 2)
  }

  test("Main: spark-submit shape end-to-end from a properties file") {
    val target = tmpDir()
    val f = java.nio.file.Files.createTempFile("cdm-main", ".properties")
    java.nio.file.Files.writeString(f,
      s"""spark.cdm.connect.origin.path=$Sf
         |spark.cdm.connect.target.path=$target
         |spark.cdm.schema.origin.keyspaceTable=nation
         |spark.cdm.schema.origin.primaryKey=n_nationkey
         |""".stripMargin)
    try {
      graft.Main.main(Array("Migrate", f.toString))
      assert(spark.read.parquet(s"$target/nation.parquet").count() ==
        spark.read.parquet(s"$Sf/nation.parquet").count())
      // config resolution precedence: env beats SparkConf when no file
      val cfg = graft.Main.resolveConfig(spark, None, Map(
        "CDM_PROPERTY_SPARK_CDM_CONNECT_ORIGIN_PATH" -> "/env/origin",
        "CDM_PROPERTY_SPARK_CDM_SCHEMA_ORIGIN_KEYSPACETABLE" -> "t",
        "CDM_PROPERTY_SPARK_CDM_SCHEMA_ORIGIN_PRIMARYKEY" -> "pk"))
      assert(cfg.origin.path == "/env/origin")
      // bad job name fails fast with the wrapper's message shape
      intercept[IllegalArgumentException](graft.Main.main(Array("compact")))
    } finally java.nio.file.Files.delete(f)
  }

  test("dispatched guardrail applies colSizeInKB") {
    val cfg = CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> Sf,
      "spark.cdm.schema.origin.keyspaceTable" -> "documents",
      "spark.cdm.schema.origin.primaryKey" -> "doc_id",
      "spark.cdm.feature.guardrail.colSizeInKB" -> "1"))
    val out = JobDispatch.run(spark, "guardrail", cfg)
    // violations are exactly the docs whose text exceeds 1 KiB
    val expected = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(org.apache.spark.sql.functions.octet_length($"text") > 1024).count()
    assert(out.count() == expected)
  }
}
