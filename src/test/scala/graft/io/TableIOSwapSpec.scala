package graft.io

import java.io.File

import graft.SparkSpec

/**
 * Crash-window pins for `TableIO.swap` / `recoverSwap`. The swap writes
 * `<t>.parquet.__staging`, renames the live table to `<t>.parquet.__old`,
 * renames staging into place and deletes `__old`, so the live table is
 * only ever moved, never partly deleted. Each test builds the state a
 * crash at one point would leave, by hand, and asserts the table that
 * recovery leaves behind.
 */
class TableIOSwapSpec extends SparkSpec {

  import spark.implicits._

  private def write(path: String, v: Long): Unit =
    Seq(1L, 2L).map(id => (id, v)).toDF("id", "v").write.parquet(path)

  /** The distinct `v` of the live table, or None when there is none. */
  private def live(dir: String): Option[Set[Long]] =
    if (!new File(s"$dir/t.parquet").exists) None
    else Some(spark.read.parquet(s"$dir/t.parquet").select("v").as[Long].collect().toSet)

  private def leftovers(dir: String): Seq[String] =
    Seq("__staging", "__old").filter(s => new File(s"$dir/t.parquet.$s").exists)

  /** `dir` with a live table at v = 1 and, as asked, a staging write at
   * v = 2 (with or without Spark's `_SUCCESS` marker) and an `__old` copy at v = 0. */
  private def crashState(live: Boolean, staging: Option[Boolean], old: Boolean): String = {
    val dir = tmpDir()
    if (live) write(s"$dir/t.parquet", 1L)
    staging.foreach { success =>
      write(s"$dir/t.parquet.__staging", 2L)
      if (!success) assert(new File(s"$dir/t.parquet.__staging/_SUCCESS").delete())
    }
    if (old) write(s"$dir/t.parquet.__old", 0L)
    TableIO.recoverSwap(spark, dir, "t")
    dir
  }

  test("swap replaces the table, may read it, and leaves no staging or __old") {
    val dir = tmpDir()
    write(s"$dir/t.parquet", 1L)
    val next = spark.read.parquet(s"$dir/t.parquet").select($"id", ($"v" + 1).as("v"))
    TableIO.swap(next, dir, "t")
    assert(live(dir).contains(Set(2L)))
    assert(leftovers(dir).isEmpty)
  }

  test("crash while writing staging: the live table stays, staging is discarded") {
    val dir = crashState(live = true, staging = Some(false), old = false)
    assert(live(dir).contains(Set(1L)))
    assert(leftovers(dir).isEmpty)
  }

  test("crash before the move-aside: a complete staging beside the live table is discarded") {
    val dir = crashState(live = true, staging = Some(true), old = false)
    assert(live(dir).contains(Set(1L)))
    assert(leftovers(dir).isEmpty)
  }

  test("crash between the two renames: the complete staging is promoted, __old swept") {
    val dir = crashState(live = false, staging = Some(true), old = true)
    assert(live(dir).contains(Set(2L)))
    assert(leftovers(dir).isEmpty)
  }

  test("crash while deleting __old: the new live table stays, the partial __old is swept") {
    val dir = tmpDir()
    write(s"$dir/t.parquet", 2L)
    write(s"$dir/t.parquet.__old", 0L)
    // a recursive delete that died half-way
    new File(s"$dir/t.parquet.__old").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(_.delete())
    TableIO.recoverSwap(spark, dir, "t")
    assert(live(dir).contains(Set(2L)))
    assert(leftovers(dir).isEmpty)
  }

  test("a staging without _SUCCESS is never promoted: __old is moved back, or no table is left") {
    val restored = crashState(live = false, staging = Some(false), old = true)
    assert(live(restored).contains(Set(0L)))
    assert(leftovers(restored).isEmpty)
    val none = crashState(live = false, staging = Some(false), old = false)
    assert(live(none).isEmpty)
    assert(leftovers(none).isEmpty)
  }
}
