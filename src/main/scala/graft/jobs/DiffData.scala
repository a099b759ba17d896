package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.ops.SqlTypes

/**
 * J2 — DiffData/Validate: row-level reconciliation of origin vs target.
 *
 * Reference entry point: `CDM_JOB_NAME=validate|diffdata` dispatches
 * `com.datastax.cdm.job.DiffData` (`/root/reference/entrypoint.sh:234-236`).
 * `[upstream] job/DiffJobSession.java` streams origin rows and issues
 * pipelined async point-lookups against target
 * (`cql/statement/TargetSelectByPKStatement.java`), comparing column by
 * column (`isDifferent()`), classifying each row
 * {VALID, MISSING, MISMATCH}, optionally autocorrecting
 * (`spark.cdm.autocorrect.missing` re-inserts, `.mismatch` overwrites).
 *
 * Spark-native shape (SURVEY.md §2.5): the origin-driven point-lookup loop
 * IS a left-outer equi-join on the full primary key — Spark plans it as a
 * shuffle hash / sort-merge join (both sides partition on the PK hash, so
 * each task reconciles co-located key ranges; no driver involvement, no
 * per-row RPC). Column comparison is a null-safe `<=>` expression per
 * column, fused into whole-stage codegen. "Extra rows on target" is
 * deliberately NOT computed — the reference drives from origin only
 * (SURVEY.md §2.8).
 *
 * Scale notes: the join shuffles both tables once on the PK — the minimum
 * possible data movement for a full reconciliation; with
 * pre-bucketed/bucket-joined tables even that shuffle disappears. AQE
 * handles skewed partition keys.
 */
object DiffData {

  val TargetPrefix = "__t_"
  val PresenceCol = "__t_present"

  /** Classification values, mirroring `[upstream]` DiffJobSession. */
  val Valid = "VALID"
  val Missing = "MISSING"
  val Mismatch = "MISMATCH"

  /**
   * Join origin and target on the primary key and classify every origin
   * row. Output = origin columns ++ `diff_class` ++ `diff_cols`
   * (comma-joined names of differing columns, empty when none).
   */
  def classify(origin: DataFrame, target: DataFrame, pkCols: Seq[String]): DataFrame = {
    val compareCols = origin.columns.filterNot(pkCols.contains).toSeq
      .filter(target.columns.contains)

    // Prefix non-PK target columns so the joined schema is unambiguous.
    val taggedTarget = target.select(pkCols.map(col) ++ (lit(true).as(PresenceCol) +:
      compareCols.map(c => col(c).as(s"$TargetPrefix$c"))): _*)

    val joined = origin.join(taggedTarget, pkCols, "left_outer")

    // Null-safe per-column comparator ([upstream] DiffJobSession.isDifferent):
    // <=> treats null==null as equal; arrays and structs compare
    // structurally. Spark cannot order or compare a MAP, so a top-level
    // map compares as its entries sorted by key, which is independent of
    // entry order; a map nested in an array or struct fails fast.
    val types = origin.schema.fields.map(f => f.name -> f.dataType).toMap
    def comparable(c: String, name: String): Column = types(c) match {
      case m: MapType if SqlTypes.orderable(m.keyType) && SqlTypes.orderable(m.valueType) =>
        array_sort(map_entries(col(name)))
      case t if SqlTypes.orderable(t) => col(name)
      case t => throw new IllegalArgumentException(
        s"DiffData cannot compare column '$c' of type ${t.simpleString}: a map is " +
          "compared only as a top-level column whose keys and values hold no map")
    }
    val diffFlags: Seq[(String, Column)] =
      compareCols.map(c => c -> !(comparable(c, c) <=> comparable(c, s"$TargetPrefix$c")))

    val anyDiff = diffFlags.map(_._2).reduceOption(_ || _).getOrElse(lit(false))
    // concat_ws skips nulls and is generated code; a filter lambda is not
    val diffCols = concat_ws(",", diffFlags.map { case (c, f) => when(f, lit(c)) }: _*)

    joined
      .withColumn("diff_class",
        when(col(PresenceCol).isNull, Missing)
          .when(anyDiff, Mismatch)
          .otherwise(Valid))
      .withColumn("diff_cols", when(col("diff_class") === Mismatch, diffCols).otherwise(lit("")))
      .select(origin.columns.map(col).toIndexedSeq :+ col("diff_class") :+ col("diff_cols"): _*)
  }

  /** JN2 — missing rows only (origin EXCEPT target by key): a left-anti
   * join, which Spark executes without materializing the non-matches. */
  def missing(origin: DataFrame, target: DataFrame, pkCols: Seq[String]): DataFrame =
    origin.join(target.select(pkCols.map(col): _*), pkCols, "left_anti")

  /** JN2b — the REVERSE of [[missing]]: rows present in target but absent
   * from origin (target-side orphans — failed deletes, writes that raced
   * a migration cutover, TTL divergence). Upstream DiffData only
   * validates from origin's perspective; a complete reconciliation needs
   * both directions. Same left-anti shape with the sides swapped, so the
   * plan is the identical single PK-keyed hash join. */
  def extraInTarget(origin: DataFrame, target: DataFrame, pkCols: Seq[String]): DataFrame =
    target.join(origin.select(pkCols.map(col): _*), pkCols, "left_anti")

  /** A1 — job counters: rows by classification
   * ([upstream] job/JobCounter.java prints read/valid/missing/mismatch). */
  def counters(classified: DataFrame): DataFrame =
    classified.groupBy("diff_class").agg(count(lit(1)).as("n"))

  /** Autocorrect write-set: MISSING rows re-inserted and MISMATCH rows
   * overwritten with origin values — i.e. every non-VALID origin row
   * (flags spark.cdm.autocorrect.missing / .mismatch). */
  def autocorrectRows(classified: DataFrame, correctMissing: Boolean, correctMismatch: Boolean): DataFrame = {
    val wanted = Seq(
      if (correctMissing) Some(Missing) else None,
      if (correctMismatch) Some(Mismatch) else None).flatten
    classified.filter(col("diff_class").isin(wanted: _*))
  }

  /** The target with corrections applied: the target rows whose key has
   * no correction (a left-anti join on `pkCols`), plus the corrections.
   * Keys compare with `<=>`, so a null key component matches a null. A
   * small correction set plans a broadcast anti-join and the target is
   * never shuffled; a large one falls back to a sort-merge anti-join on
   * the key alone. */
  def mergeCorrections(target: DataFrame, corrections: DataFrame, pkCols: Seq[String]): DataFrame = {
    val keys = corrections.select(pkCols.map(c => col(c).as(s"__k_$c")): _*)
    target.join(keys, pkCols.map(c => target(c) <=> keys(s"__k_$c")).reduce(_ && _), "left_anti")
      .unionByName(corrections)
  }
}
