package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Last-writer-wins merge — the Cassandra reconciliation rule the whole
 * reference stack is built around: on write, the cell with the larger
 * writetime wins (`[upstream]` target upserts carry `USING TIMESTAMP`,
 * `feature/WritetimeTTL.java` propagates origin cell writetimes so
 * re-migrated rows never clobber newer target data).
 *
 * Batch form: union the current target state with the incoming rows and
 * keep, per primary key, the row with the greatest writetime. One shuffle
 * on the PK; ties break deterministically on the remaining columns so
 * reruns and the DuckDB oracle agree (Cassandra itself breaks writetime
 * ties by value comparison — the same "greatest wins" shape).
 *
 * It is the rule wherever incoming and current writetimes really compete:
 * `run.StreamingMigrate`'s micro-batch merge and the `upsert_merge` query
 * (`queries.DiffQueries`). DiffData's autocorrect does not use it: there a
 * correction always wins, so `jobs.JobDispatch` merges with a left-anti
 * join and no sort.
 */
object Upsert {

  def lastWriterWins(current: DataFrame, incoming: DataFrame, pkCols: Seq[String],
                     writetimeCol: String): DataFrame = {
    require(current.columns.sorted.sameElements(incoming.columns.sorted),
      s"upsert sides differ: ${current.columns.mkString(",")} vs ${incoming.columns.mkString(",")}")
    SqlTypes.requireFreeColumns(current, Seq("__rn"))
    val unioned = current.unionByName(incoming)
    // Map-typed columns (at any depth) are not orderable in a window
    // sort (shared rule: SqlTypes.orderable); ties on writetime + every
    // orderable column that still differ inside a map stay
    // partition-order dependent — documented residual.
    val valueTiebreaks: Seq[Column] = unioned.schema.fields.toSeq
      .filterNot(f => pkCols.contains(f.name) || f.name == writetimeCol)
      .filter(f => SqlTypes.orderable(f.dataType))
      .map(f => col(f.name).desc)
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(col(writetimeCol).desc +: valueTiebreaks: _*)
    unioned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
