package graft.functions

import graft.SparkSpec
import graft.ext.Similarity
import graft.io.TableIO
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FloatVectorDot
import org.apache.spark.sql.types._

/**
 * SQ8 serving-path pins.
 *
 * 1. The one-pass QuantizeInt8Codes kernel is equivalent to the HOF pair
 *    `Similarity.quantizeInt8` (the declarative reference the
 *    embedding_quantize oracle mirrors) — scale and every code,
 *    fixture-wide, plus zero-vector / negative-heavy / null-element
 *    edges.
 * 2. IntVectorDot matches the HOF integer fold bit-for-bit and keeps the
 *    FloatVectorDot null/mismatch contract (never a partial dot).
 * 3. topKSq8 with a corpus-covering shortlist factor IS brute-force topK
 *    (the re-rank is exact, so SQ8 only ever costs recall through the
 *    shortlist cut) — and at the registered factor 4 the shortlist
 *    recall on the fixture stays high.
 */
class Sq8Spec extends SparkSpec {

  private def emb = TableIO.read(spark, Sf, "embeddings")

  test("QuantizeInt8Codes kernel == quantizeInt8 HOF on the fixture + edges") {
    val extra = {
      val schema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true))))
      val rows = java.util.Arrays.asList(
        Row(90001L, Seq.fill(64)(0.0f)), // zero vector: scale 0, all-zero codes
        Row(90002L, (0 until 64).map(i => if (i % 2 == 0) -1.5f else 0.25f)), // negative-dominant
        Row(90003L, (0 until 64).map(i => (i - 32).toFloat / 7.0f)))
      spark.createDataFrame(rows, schema)
    }
    val df = emb.select(col("vec_id"), col("embedding").cast(ArrayType(FloatType, containsNull = true)))
      .unionByName(extra)
    val (hofScale, hofCodes) = Similarity.quantizeInt8(col("embedding"))
    val cmp = df.select(
      col("vec_id"),
      FloatVectorDot.quantizeInt8Codes(col("embedding")).as("k"),
      hofScale.as("h_scale"), hofCodes.as("h_codes"))
    // kernel codes are array<byte> (the ¼-width stored tier); the HOF
    // reference produces array<int> — value-compare through a widening cast
    val bad = cmp.filter(
      col("k.scale") =!= col("h_scale") ||
        col("k.codes").cast("array<int>") =!= col("h_codes"))
    assert(bad.isEmpty, "kernel quantization diverged from the HOF reference")
    assert(cmp.count() > 0)
  }

  test("QuantizeInt8Codes: null element poisons the struct") {
    val schema = StructType(Seq(
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row((0 until 64).map(i => if (i == 7) null else java.lang.Float.valueOf(i.toFloat)))),
      schema)
    val out = df.select(FloatVectorDot.quantizeInt8Codes(col("embedding")).as("k")).head()
    assert(out.isNullAt(0), "corrupt embedding must not quantize to a plausible code block")
  }

  test("QuantizeInt8Codes: non-finite element poisons the struct") {
    // NaN/Inf are corrupt embeddings, not quantizable values: the kernel's
    // floor(NaN).toByte would emit 0 — a plausible code — where the HOF
    // mirror's floor(NaN).cast("int") yields NULL, so the contract (never
    // a plausible code block from a corrupt row) demands a NULL struct.
    val schema = StructType(Seq(
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row((0 until 64).map(i => if (i == 3) Float.NaN else i.toFloat)),
      Row((0 until 64).map(i => if (i == 60) Float.PositiveInfinity else i.toFloat)),
      Row((0 until 64).map(i => if (i == 0) Float.NegativeInfinity else i.toFloat)))
    val df = spark.createDataFrame(rows, schema)
    val out = df.select(FloatVectorDot.quantizeInt8Codes(col("embedding")).as("k")).collect()
    assert(out.forall(_.isNullAt(0)),
      "non-finite embedding must not quantize to a plausible code block")
  }

  test("QuantizeInt8Stats: null or non-finite element makes the stats NULL") {
    // the same corrupt-row contract as QuantizeInt8Codes: a null element
    // read as 0.0, or a NaN skipped by the scale pass, would report
    // plausible statistics for a corrupted embedding
    val schema = StructType(Seq(
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val corrupt = Seq[java.lang.Float](null, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
    val rows = corrupt.map(bad =>
      Row((0 until 64).map(i => if (i == 9) bad else java.lang.Float.valueOf(i.toFloat))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val out = df.select(FloatVectorDot.quantizeInt8Stats(col("embedding")).as("s")).collect()
    assert(out.forall(_.isNullAt(0)),
      s"corrupt embedding must not report plausible statistics: ${out.mkString(", ")}")
  }

  test("IntVectorDot == HOF integer fold; mismatch and null element go NULL") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(ByteType, containsNull = true)),
      StructField("b", ArrayType(ByteType, containsNull = true))))
    def bytes(xs: Int*): Seq[Byte] = xs.map(_.toByte)
    val rows = java.util.Arrays.asList(
      Row(bytes(1, -2, 3, 127), bytes(-127, 5, 9, 11)),
      Row(bytes(Seq.fill(64)(127): _*), bytes(Seq.fill(64)(-127): _*)), // extreme magnitude: 64·127² inside long
      Row(bytes(1, 2), bytes(1, 2, 3)), // length mismatch -> null
      Row(Seq[Any](1.toByte, null).map(_.asInstanceOf[java.lang.Byte]),
        Seq[java.lang.Byte](1.toByte, 2.toByte))) // null element -> null
    val df = spark.createDataFrame(rows, schema)
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)
    val out = df.select(FloatVectorDot.intVectorDot(col("a"), col("b")).as("k"), hof.as("h")).collect()
    assert(out(0).getLong(0) == out(0).getLong(1))
    assert(out(1).getLong(0) == -64L * 127 * 127 && out(1).getLong(1) == out(1).getLong(0))
    assert(out(2).isNullAt(0) && out(2).isNullAt(1))
    assert(out(3).isNullAt(0) && out(3).isNullAt(1))
  }

  test("topKSq8 with a corpus-covering shortlist equals brute-force topK") {
    val queries = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    // the corpus-covering shortlist (3n) is exactly the over-threshold k
    // the requireWindowGroupLimit guard exists for — raise the conf, the
    // documented escape hatch, for this equivalence-only check
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, (3 * n + 1).toString)
    try {
      val sq = Similarity.topKSq8(queries, emb, k = 3, shortlistFactor = n)
        .select("query_id", "rank", "neighbor_id", "cos6")
      val brute = Similarity.topK(queries, emb, k = 3)
      assert(sq.exceptAll(brute).isEmpty && brute.exceptAll(sq).isEmpty,
        "with the shortlist cut removed, the exact re-rank must reproduce brute force")
    } finally spark.conf.set(key, saved)
  }

  test("registered shortlist factor 4 holds high fixture recall") {
    val queries = emb.filter(col("vec_id") < 10)
    val sq = Similarity.topKSq8(queries, emb, k = 3, shortlistFactor = 4)
      .select("query_id", "neighbor_id")
    val brute = Similarity.topK(queries, emb, k = 3).select("query_id", "neighbor_id")
    val hit = sq.join(brute, Seq("query_id", "neighbor_id")).count().toDouble
    val total = brute.count().toDouble
    assert(hit / total >= 0.8, s"SQ8 shortlist recall collapsed: $hit/$total")
  }
}
