package graft.functions

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Both code paths of every custom scalar expression in
 * `org.apache.spark.sql.graft` give the same result on adversarial rows:
 * the interpreted path (`InterpretedUnsafeProjection` → `nullSafeEval`)
 * and the generated path (`GenerateUnsafeProjection` → `doGenCode`'s
 * Java text, compiled with no fallback).
 *
 * Which path a query runs is decided by context, not by option: a kernel
 * under a `CodegenFallback` higher-order function (`aggregate`,
 * `transform`, `zip_with`) and rows built with `toDF`/`createDataFrame`
 * (projected through `ConvertToLocalRelation`) run the interpreted path;
 * fixture scans run the generated one. So a spec over local rows pins
 * only the first, and a fixture spec only the second — this spec pins
 * both, on hand-built rows, with no fixture read.
 */
class SignatureKernelsSpec extends SparkSpec {

  private def arr(vs: Any*): ArrayData = new GenericArrayData(vs.toArray[Any])
  private def strs(vs: String*): ArrayData = new GenericArrayData(vs.map(UTF8String.fromString).toArray[Any])
  private def row(vs: Any*): InternalRow = InternalRow.fromSeq(vs)
  private def text(s: String): UTF8String = UTF8String.fromString(s)

  private val LongArr = ArrayType(LongType, containsNull = true)
  private val FloatArr = ArrayType(FloatType, containsNull = true)
  private val DenseFloatArr = ArrayType(FloatType, containsNull = false)
  private val ByteArr = ArrayType(ByteType, containsNull = true)
  private val P = 2147483647L

  private def in(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  // arrays of token or shingle hashes: null, empty, null element, 1..6
  // elements, duplicates, negatives and values near the int64 edges
  private val hashRows: Seq[InternalRow] = Seq(
    row(null), row(arr()), row(arr(null)), row(arr(7L)), row(arr(7L, 11L)),
    row(arr(7L, 11L, 13L)), row(arr(1L, null, 3L, 4L)),
    row(arr(5L, 5L, 2L, 5L, 2L, 9L)), row(arr(-3L, 0L, 2147483646L, -2147483647L)),
    row(arr(Long.MaxValue, Long.MinValue, 1L << 40, 123456789L, 42L, 42L)),
    row(ArrayData.toArrayData(Array.tabulate(40)(i => i * 2654435761L % P))))

  // token arrays: 0, 1 and 2 tokens, null, multibyte, a surrogate pair
  private val tokenRows: Seq[InternalRow] = Seq(
    row(null), row(strs()), row(new GenericArrayData(Array[Any](null))), row(strs("a")),
    row(strs("a", "b")), row(strs("", "héllo", "日本語テキスト")),
    row(strs("𝄞x", "ab😀cdefghij", "abcdefghijklmnop")),
    row(new GenericArrayData(Array[Any](text("x"), null, text("y")))))

  // texts: 0, 1 and 2 tokens, shorter than the CDC window, multibyte,
  // a surrogate pair, repeated spaces, a long periodic run
  private val textRows: Seq[InternalRow] = Seq(
    row(null), row(text("")), row(text("a")), row(text("ab cd")), row(text("short")),
    row(text("  lower  low newest widest ")), row(text("日本語 テキスト 𝄞 clef")),
    row(text(("the quick brown fox jumps " * 12) + "ünïcödé 😀 end")),
    row(text("ab" * 200)))

  private val vec64 = (0 until 64).map(i => ((i * 37 % 19) - 9).toFloat / 3.0f)
  private def vecWith(i: Int, v: Any): ArrayData = arr(vec64.updated(i, v): _*)

  // embeddings: null, empty, null element, NaN, ±Inf, zero, length 63
  private val vecRows: Seq[InternalRow] = Seq(
    row(null), row(arr()), row(arr(vec64: _*)), row(vecWith(5, null)),
    row(vecWith(7, Float.NaN)), row(vecWith(0, Float.PositiveInfinity)),
    row(vecWith(63, Float.NegativeInfinity)), row(arr(Seq.fill(64)(0.0f): _*)),
    row(arr(vec64.take(63): _*)), row(arr(-1.5f, 0.25f, 3.0f)))

  private val densePairs: Seq[InternalRow] = Seq(
    row(arr(vec64: _*), arr(vec64.reverse: _*)), row(arr(), arr()),
    row(arr(1f, 2f), arr(1f, 2f, 3f)), row(arr(Float.NaN, 1f), arr(2f, 3f)),
    row(arr(Float.PositiveInfinity, 1f), arr(0f, 3f)),
    row(arr(Float.NegativeInfinity), arr(Float.NegativeInfinity)),
    row(null, arr(1f)))

  private val vecPairs: Seq[InternalRow] = densePairs ++ Seq(
    row(vecWith(3, null), arr(vec64: _*)), row(arr(1f, 2f), arr(null, 2f)),
    row(arr(1f, null), arr(1f)))

  private def bytes(vs: Any*): ArrayData = new GenericArrayData(vs.map {
    case null => null
    case v: Int => v.toByte
  }.toArray[Any])
  private val codePairs: Seq[InternalRow] = Seq(
    row(bytes(127, -127, 0, 5), bytes(127, -127, 3, -5)), row(bytes(), bytes()),
    row(bytes(1, 2), bytes(1, 2, 3)), row(bytes(1, null), bytes(1, 2)),
    row(bytes(-128, -128), bytes(-128, -128)), row(null, bytes(1)),
    row(ArrayData.toArrayData(Array.fill[Byte](64)(-127)),
      ArrayData.toArrayData(Array.fill[Byte](64)(127))))

  private val keyRows: Seq[(DataType, Seq[InternalRow])] = Seq(
    LongType -> Seq(row(0L), row(-1L), row(Long.MinValue), row(Long.MaxValue), row(null)),
    IntegerType -> Seq(row(0), row(-7), row(Int.MaxValue), row(null)),
    StringType -> Seq(row(text("")), row(text("pk-1")), row(text("日本 𝄞")), row(null)),
    BinaryType -> Seq(row(Array[Byte]()), row(Array[Byte](-1, 0, 127)),
      row(Array.tabulate[Byte](37)(i => (i * 7).toByte)), row(null)))

  /** (expression name, bound expression, input rows); BloomProbeExpr's
   * broadcast needs the session, so its case is built in its test. */
  private val cases: Seq[(String, Expression, Seq[InternalRow])] = Seq(
    ("MinhashComponent", MinhashComponent(in(0, LongArr), 1103515245L, 12345L, P), hashRows),
    ("MinhashComponent", MinhashComponent(in(0, LongArr), -7L, Long.MinValue, 97L), hashRows),
    ("Simhash16", Simhash16(in(0, LongArr)), hashRows),
    ("SimhashWide", SimhashWide(in(0, LongArr)), hashRows),
    ("TokenHashes", TokenHashes(in(0, ArrayType(StringType)), P), tokenRows),
    ("ShingleHashes3", ShingleHashes3(in(0, LongArr), P), hashRows),
    ("BigramPairs", BigramPairs(in(0, LongArr), P), hashRows),
    ("TrigramTuples", TrigramTuples(in(0, LongArr), P), hashRows),
    ("HashCounts", HashCounts(in(0, LongArr)), hashRows),
    ("ChunkHashes", ChunkHashes(in(0, LongArr), 3, P), hashRows),
    ("CdcSpans", CdcSpans(in(0, StringType), 8, 5L, P), textRows),
    ("CdcSpans", CdcSpans(in(0, StringType), 4, 3L, P, minLen = 6, maxLen = 12), textRows),
    ("BpeSegmentCount", BpeSegmentCount(in(0, StringType),
      Seq("l" -> "o", "lo" -> "w", "e" -> "s", "es" -> "t", "\uD834" -> "\uDD1E")), textRows),
    ("FloatVectorDot", FloatVectorDot(in(0, FloatArr), in(1, FloatArr)), vecPairs),
    ("FloatVectorDot", FloatVectorDot(in(0, DenseFloatArr), in(1, DenseFloatArr)), densePairs),
    ("QuantizeInt8Stats", QuantizeInt8Stats(in(0, FloatArr)), vecRows),
    ("QuantizeInt8Codes", QuantizeInt8Codes(in(0, FloatArr)), vecRows),
    ("LshBandProbes", LshBandProbes(in(0, FloatArr), 4, 6, 1), vecRows),
    ("LshBandProbes", LshBandProbes(in(0, FloatArr), 3, 5, 2), vecRows),
    ("LshBandProbes", LshBandProbes(in(0, FloatArr), 2, 8, 4), vecRows),
    ("IntVectorDot", IntVectorDot(in(0, ByteArr), in(1, ByteArr)), codePairs)
  ) ++ keyRows.flatMap { case (t, rows) =>
    Seq(("CassandraMurmur3Token", CassandraMurmur3Token(in(0, t)), rows),
      ("CqlSerialize", CqlSerialize(in(0, t)), rows))
  } :+ (("CompositeWrap", CompositeWrap(in(0, BinaryType)), keyRows.last._2))

  test("every scalar expression in functions/ has a both-paths case") {
    val dir = Paths.get("src/main/scala/graft/functions")
    val listing = Files.list(dir)
    val srcs = try listing.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally listing.close()
    val Scalar = """(?s)case class (\w+)\([^{]*?extends (?:Unary|Binary)Expression""".r
    val declared = srcs.flatMap(f => Scalar.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
    assert(declared == cases.map(_._1).toSet + "BloomProbeExpr")
  }

  private def bothPaths(expr: Expression, rows: Seq[InternalRow]): Unit = {
    val interpreted = InterpretedUnsafeProjection.createProjection(Seq(expr))
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    rows.zipWithIndex.foreach { case (r, i) =>
      val a = interpreted(r).copy()
      val b = generated(r).copy()
      def show(u: InternalRow) =
        if (u.isNullAt(0)) "null"
        else CatalystTypeConverters.convertToScala(u.get(0, expr.dataType), expr.dataType)
      assert(a == b, s"$expr on row $i: interpreted ${show(a)}, generated ${show(b)}")
    }
  }

  cases.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, forms) =>
    test(s"$name: interpreted and generated paths agree") {
      forms.foreach { case (_, expr, rows) => bothPaths(expr, rows) }
    }
  }

  test("BloomProbeExpr: interpreted and generated paths agree") {
    val words = spark.sparkContext.broadcast(Array.tabulate(16)(i => 0x9E3779B97F4A7C15L * (i + 1)))
    bothPaths(BloomProbeExpr(in(0, LongType), words, 1024, 3),
      Seq(0L, 1L, -1L, 42L, Long.MinValue, Long.MaxValue, 1L << 33).map(row(_)) :+ row(null))
  }
}
