package graft.jobs

import graft.SparkSpec
import graft.config.CdmConfig
import org.apache.spark.sql.functions._

/** SIT-style end-to-end job specs (mirroring upstream CDM's smoke
 * integration corpus — SURVEY.md §5.1): run the whole job against the
 * sf0.001 fixtures and assert on the produced table. */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  test("Migrate copies origin to target applying rename + filter + constants") {
    val target = tmpDir()
    val cfg = CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> Sf,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "lineitem",
      "spark.cdm.schema.origin.primaryKey" -> "l_orderkey,l_linenumber",
      "spark.cdm.schema.origin.column.names.to.target" -> "l_orderkey:order_id",
      "spark.cdm.filter.cassandra.whereCondition" -> "l_quantity > 25",
      "spark.cdm.feature.constantColumns.names" -> "tenant",
      "spark.cdm.feature.constantColumns.types" -> "string",
      "spark.cdm.feature.constantColumns.values" -> "t1"))
    Migrate.run(spark, cfg)

    val out = spark.read.parquet(s"$target/lineitem.parquet")
    assert(out.columns.contains("order_id") && !out.columns.contains("l_orderkey"))
    assert(out.filter($"l_quantity" <= 25).count() == 0)
    assert(out.select("tenant").distinct().as[String].collect().toSeq == Seq("t1"))
    val expected = spark.read.parquet(s"$Sf/lineitem.parquet").filter($"l_quantity" > 25).count()
    assert(out.count() == expected && expected > 0)
  }

  test("DiffData classifies identical tables as all VALID") {
    val o = spark.read.parquet(s"$Sf/orders.parquet")
    val c = DiffData.classify(o, o, Seq("o_orderkey"))
    assert(c.filter($"diff_class" =!= DiffData.Valid).count() == 0)
    assert(c.count() == o.count())
  }

  test("DiffData catches a null-vs-value mismatch null-safely") {
    val o = Seq((1L, Some("a"), 10.0), (2L, None, 20.0), (3L, Some("c"), 30.0))
      .toDF("pk", "s", "v")
    val t = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0))
      .toDF("pk", "s", "v")
    val c = DiffData.classify(o, t, Seq("pk")).orderBy("pk")
      .select("pk", "diff_class", "diff_cols").as[(Long, String, String)].collect()
    assert(c(0) == ((1L, "VALID", "")))
    assert(c(1) == ((2L, "MISMATCH", "s"))) // null on origin, value on target
    assert(c(2) == ((3L, "MISSING", "")))
  }

  test("DiffData autocorrect selects exactly the configured classes") {
    val o = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("pk", "s")
    val t = Seq((1L, "a"), (2L, "X")).toDF("pk", "s")
    val c = DiffData.classify(o, t, Seq("pk"))
    assert(DiffData.autocorrectRows(c, correctMissing = true, correctMismatch = true).count() == 2)
    assert(DiffData.autocorrectRows(c, correctMissing = true, correctMismatch = false)
      .select("pk").as[Long].collect().toSeq == Seq(3L))
  }

  test("Upsert lastWriterWins keeps the newest writetime and breaks ties by value") {
    val current = Seq((1L, "old", 100L), (2L, "keep", 100L), (3L, "tie-a", 100L)).toDF("pk", "v", "wt")
    val incoming = Seq((1L, "new", 200L), (2L, "stale", 50L), (3L, "tie-b", 100L)).toDF("pk", "v", "wt")
    val merged = graft.ops.Upsert.lastWriterWins(current, incoming, Seq("pk"), "wt")
      .orderBy("pk").select("pk", "v").as[(Long, String)].collect().toSeq
    // pk 3 ties on wt=100 -> greatest value wins deterministically ("tie-b" > "tie-a")
    assert(merged == Seq((1L, "new"), (2L, "keep"), (3L, "tie-b")))
  }

  test("Upsert lastWriterWins tolerates map columns") {
    val current = Seq((1L, Map("a" -> 1), 100L)).toDF("pk", "m", "wt")
    val incoming = Seq((1L, Map("b" -> 2), 200L)).toDF("pk", "m", "wt")
    val merged = graft.ops.Upsert.lastWriterWins(current, incoming, Seq("pk"), "wt")
    assert(merged.select("wt").as[Long].head() == 200L)
  }

  test("Guardrail flags only rows over the threshold and names columns") {
    val df = Seq((1L, "short", "x"), (2L, "a" * 500, "y")).toDF("id", "body", "tag")
    val out = Guardrail.check(df, Seq("id"), 300L)
    val rows = out.select("id", "offending_cols", "max_bytes").as[(Long, String, Long)].collect()
    assert(rows.toSeq == Seq((2L, "body", 500L)))
  }

  test("Guardrail reports no rows on a table with no variable-size column") {
    val df = Seq((1L, 7, 2.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "n", "x", "ts")
    val out = Guardrail.check(df, Seq("id"), 1L)
    assert(out.columns.toSeq == Seq("id", "max_bytes", "offending_cols"))
    assert(out.count() == 0)
  }

  test("dispatched guardrail reports no rows on a table with no variable-size column") {
    val origin = tmpDir()
    Seq((1L, 7, 2.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "n", "x", "ts").write.parquet(s"$origin/t.parquet")
    val cfg = CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> origin,
      "spark.cdm.schema.origin.keyspaceTable" -> "t",
      "spark.cdm.schema.origin.primaryKey" -> "id",
      "spark.cdm.feature.guardrail.colSizeInKB" -> "1"))
    val dispatched = JobDispatch.run(spark, "guardrail", cfg)
    assert(dispatched.columns.toSeq == Seq("id", "max_bytes", "offending_cols"))
    assert(dispatched.count() == 0)
  }

  test("Guardrail sizes collection columns per the CQL layout") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, Seq("ab", "cde"), Seq(7L, 8L, 9L), Map("k1" -> 1.5, "key2" -> 2.5)))
      .toDF("id", "tags", "nums", "attrs")
    val sized = df.select(
      Guardrail.serializedSize(col("tags"), df.schema("tags").dataType).as("s_tags"),
      Guardrail.serializedSize(col("nums"), df.schema("nums").dataType).as("s_nums"),
      Guardrail.serializedSize(col("attrs"), df.schema("attrs").dataType).as("s_attrs"))
      .as[(Long, Long, Long)].head()
    // tags: 4 + 2*4 + (2+3) = 17; nums: 4 + 3*(4+8) = 40
    // attrs: 4 + 2*(8+8) + (2+4) = 42
    assert(sized == ((17L, 40L, 42L)))
    // codegen'd specializations agree with the general HOF fold
    val hof = df.select(
      (lit(4L) + aggregate(col("tags"), lit(0L),
        (a, x) => a + lit(4L) + coalesce(octet_length(x).cast("long"), lit(0L)))).as("t"),
      (lit(4L) + aggregate(map_entries(col("attrs")), lit(0L),
        (a, e) => a + lit(8L) + coalesce(octet_length(e.getField("key")).cast("long"), lit(0L)) + lit(8L))).as("m"))
      .as[(Long, Long)].head()
    assert(hof == ((17L, 42L)))
    // null element payload counts 0 (length prefix only)
    val withNull = Seq((1L, Seq(Option("ab"), None))).toDF("id", "tags")
    val s = withNull.select(
      Guardrail.serializedSize(col("tags"), withNull.schema("tags").dataType)).as[Long].head()
    assert(s == 4L + 2L * 4L + 2L)
  }

  test("Guardrail check plans without interpreted higher-order lambdas for common shapes") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, Seq("a"), Map("k" -> 1.0))).toDF("id", "tags", "attrs")
    val plan = Guardrail.check(df, Seq("id"), 10L).queryExecution.executedPlan.toString
    assert(!plan.contains("aggregate(") && !plan.contains("lambdafunction"),
      s"HOF fold leaked into the common-shape plan:\n$plan")
  }

  test("driver contract: SparkEntry.entry returns rows on the smoke fixture") {
    // the driver smoke-checks rows > 0 on sf0.001 — pin it as a test so a
    // refactor cannot silently break the flagship path
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
