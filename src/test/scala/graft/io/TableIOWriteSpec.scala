package graft.io

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.CdmConfig
import graft.run.TrackedMigrate

/** Every stand-in table write goes through one writer that leaves out
 * parquet's dictionary pass: no written data file has a dictionary page
 * in any column chunk, and the rows read back are the rows written. */
class TableIOWriteSpec extends SparkSpec {
  import spark.implicits._

  /** Few distinct values per column, so parquet's default writer keeps a
   * dictionary for every column. */
  private def rows: DataFrame =
    spark.range(0, 2000, 1, 2).select($"id", ($"id" % 4).cast("int").as("k"),
      concat(lit("v"), ($"id" % 5).cast("string")).as("s"), ($"id" % 3 * 0.5).as("d"))

  private def dataFiles(dir: File): Seq[File] =
    dir.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) dataFiles(f) else Seq(f).filter(_.getName.endsWith(".parquet")))

  /** Data files under `path` whose footer records a dictionary page. */
  private def dictionaryFiles(path: String): Seq[String] = {
    val files = dataFiles(new File(path))
    assert(files.nonEmpty, s"no data file under $path")
    val conf = spark.sessionState.newHadoopConf()
    files.filter { f =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(new Path(f.getPath), conf), ParquetMetadataConverter.NO_FILTER)
      meta.getBlocks.asScala.exists(_.getColumns.asScala.exists(_.hasDictionaryPage))
    }.map(_.getPath)
  }

  private def assertPlainWrite(path: String, expected: DataFrame): Unit = {
    val withDictionary = dictionaryFiles(path)
    assert(withDictionary.isEmpty, s"dictionary pages in $withDictionary")
    val read = spark.read.parquet(path).select(expected.columns.map(col).toIndexedSeq: _*)
    assert(read.collect().toSet == expected.collect().toSet)
  }

  test("write: no dictionary page, rows round-trip") {
    val dir = tmpDir()
    TableIO.write(rows, dir, "t")
    assertPlainWrite(s"$dir/t.parquet", rows)
  }

  test("swap, flat and partitioned: no dictionary page, rows round-trip") {
    val dir = tmpDir()
    TableIO.write(rows, dir, "t")
    val next = TableIO.read(spark, dir, "t").select($"id", $"k", $"s", ($"d" + 1).as("d"))
    TableIO.swap(next, dir, "t")
    val expected = rows.select($"id", $"k", $"s", ($"d" + 1).as("d"))
    assertPlainWrite(s"$dir/t.parquet", expected)
    TableIO.swap(TableIO.read(spark, dir, "t"), dir, "t", Seq("k"))
    assert(new File(s"$dir/t.parquet/k=0").isDirectory)
    assertPlainWrite(s"$dir/t.parquet", expected)
  }

  test("TrackedMigrate.run: no dictionary page, rows round-trip") {
    val target = tmpDir()
    TrackedMigrate.run(spark, CdmConfig.fromMap(Map(
      "spark.cdm.connect.origin.path" -> Sf,
      "spark.cdm.connect.target.path" -> target,
      "spark.cdm.schema.origin.keyspaceTable" -> "orders",
      "spark.cdm.schema.origin.primaryKey" -> "o_orderkey",
      "spark.cdm.perfops.numParts" -> "8",
      "spark.cdm.trackRun" -> "true",
      "spark.cdm.trackRun.ledgerDir" -> tmpDir())), "run-1")
    assertPlainWrite(s"$target/orders.parquet", TableIO.read(spark, Sf, "orders"))
  }
}
