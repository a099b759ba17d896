package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * J3 — GuardrailCheck: origin-only data-quality scan flagging rows whose
 * serialized column sizes exceed a threshold.
 *
 * Reference entry point: `CDM_JOB_NAME=guardrail|guardrailcheck` dispatches
 * `com.datastax.cdm.job.GuardrailCheck`
 * (`/root/reference/entrypoint.sh:237-239`); `[upstream]
 * feature/Guardrail.java` checks each row's per-column serialized size
 * against `spark.cdm.feature.guardrail.colSizeInKB` and logs violations
 * with PK + offending columns + sizes.
 *
 * Spark-native: one narrow projection computing `octet_length` per checked
 * column plus a pushed filter — no shuffle, no write, scales linearly with
 * the scan.
 */
object Guardrail {

  /** CQL-serialized-size estimate for one column (upstream
   * `feature/Guardrail.java` sizes EVERY column's serialized form —
   * collections are exactly where oversized cells live). Variable-width
   * scalars measure their bytes; fixed-width scalars use their CQL widths;
   * collections follow the native-protocol layout: 4-byte element count,
   * then per element a 4-byte length prefix + payload (8 bytes of
   * prefixes per map entry); structs (UDTs) sum their fields. Null
   * elements inside a collection count 4 bytes (their length prefix). */
  /** Fixed CQL width of a scalar type, when it has one. */
  private def fixedWidth(dt: DataType): Option[Long] = dt match {
    case LongType | DoubleType | TimestampType => Some(8L)
    case IntegerType | FloatType | DateType => Some(4L)
    case ShortType => Some(2L)
    case ByteType | BooleanType => Some(1L)
    case _: DecimalType => Some(16L)
    case _ => None
  }

  /** Sum of element byte-lengths of an array<string>, codegen-friendly:
   * array_join skips nulls, matching "null element counts 0 payload". */
  private def stringElemBytes(arr: Column): Column =
    octet_length(array_join(arr, "")).cast("long")

  def serializedSize(c: Column, dt: DataType): Column = dt match {
    case StringType | BinaryType => octet_length(c).cast("long")
    case t if fixedWidth(t).isDefined => lit(fixedWidth(t).get)
    // Common collection shapes get non-HOF forms — higher-order lambdas
    // are interpreted per element, and guardrail runs on every row of the
    // scan, so the hot shapes must stay inside whole-stage codegen. A
    // null element carries only its 4-byte length prefix (same rule as
    // the general fold below), so nullable fixed-width elements count
    // payload width only for the non-null ones (array_compact).
    case ArrayType(et, containsNull) if fixedWidth(et).isDefined =>
      val payload =
        if (containsNull) size(array_compact(c)).cast("long") * lit(fixedWidth(et).get)
        else size(c).cast("long") * lit(fixedWidth(et).get)
      lit(4L) + size(c).cast("long") * lit(4L) + payload
    case ArrayType(StringType, _) =>
      lit(4L) + size(c).cast("long") * lit(4L) + stringElemBytes(c)
    case MapType(kt, vt, valueHasNull) if fixedWidth(kt).isDefined && fixedWidth(vt).isDefined =>
      val valPayload =
        if (valueHasNull) size(array_compact(map_values(c))).cast("long") * lit(fixedWidth(vt).get)
        else size(c).cast("long") * lit(fixedWidth(vt).get)
      lit(4L) + size(c).cast("long") * lit(8L + fixedWidth(kt).get) + valPayload
    case MapType(StringType, vt, valueHasNull) if fixedWidth(vt).isDefined =>
      val valPayload =
        if (valueHasNull) size(array_compact(map_values(c))).cast("long") * lit(fixedWidth(vt).get)
        else size(c).cast("long") * lit(fixedWidth(vt).get)
      lit(4L) + size(c).cast("long") * lit(8L) + stringElemBytes(map_keys(c)) + valPayload
    case MapType(kt, StringType, _) if fixedWidth(kt).isDefined =>
      lit(4L) + size(c).cast("long") * lit(8L + fixedWidth(kt).get) + stringElemBytes(map_values(c))
    case MapType(StringType, StringType, _) =>
      lit(4L) + size(c).cast("long") * lit(8L) +
        stringElemBytes(map_keys(c)) + stringElemBytes(map_values(c))
    // General nested shapes fall back to the HOF fold (interpreted — fine
    // for rare deeply-nested columns, not the common path).
    case ArrayType(et, _) =>
      lit(4L) + aggregate(c, lit(0L),
        (acc, x) => acc + lit(4L) + coalesce(serializedSize(x, et), lit(0L)))
    case MapType(kt, vt, _) =>
      lit(4L) + aggregate(map_entries(c), lit(0L),
        (acc, e) => acc + lit(8L)
          + coalesce(serializedSize(e.getField("key"), kt), lit(0L))
          + coalesce(serializedSize(e.getField("value"), vt), lit(0L)))
    case st: StructType =>
      st.fields.map(f => coalesce(serializedSize(c.getField(f.name), f.dataType), lit(0L)))
        .reduceOption(_ + _).getOrElse(lit(0L))
    case _ => octet_length(c.cast("string")).cast("long")
  }

  private def sizable(dt: DataType): Boolean = dt match {
    case StringType | BinaryType | _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  /** Per-row sizes for every variable-size column (string/binary AND
   * array/map/struct), the max, and the list of columns over the limit.
   * `thresholdBytes` models colSizeInKB*1024 (the fixtures are small, so
   * tests pass bytes directly). A table with no variable-size column has
   * no row to report: zero rows of PK, max_bytes and offending_cols. */
  def check(df: DataFrame, pkCols: Seq[String], thresholdBytes: Long): DataFrame = {
    val sized = df.schema.fields
      .filter(f => !pkCols.contains(f.name) && sizable(f.dataType))
      .map(_.name).toSeq
    if (sized.isEmpty)
      return df.select(pkCols.map(col) :+ lit(0L).as("max_bytes")
          :+ lit(null).cast("string").as("offending_cols"): _*)
        .filter(lit(false))

    // long, not int: the DuckDB oracle's strlen is BIGINT and the driver
    // compares schemas.
    val sizes: Seq[(String, Column)] =
      sized.map(c => c -> serializedSize(col(c), df.schema(c).dataType))
    val maxSize = sizes.map(_._2).reduce((a, b) => greatest(a, b))
    val offending = array_join(
      filter(
        array(sizes.map { case (c, s) => when(s > thresholdBytes, lit(c)).otherwise(lit(null)) }: _*),
        x => x.isNotNull),
      ",")

    df.select(pkCols.map(col) ++ sizes.map { case (c, s) => s.as(s"bytes_$c") }
        :+ maxSize.as("max_bytes") :+ offending.as("offending_cols"): _*)
      .filter(col("max_bytes") > thresholdBytes)
  }
}
