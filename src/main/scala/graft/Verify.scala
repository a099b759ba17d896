package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev-loop arg: comma-separated query names to dump (the
    // driver always passes exactly two args → full dump).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    // a typo'd name must fail fast, not silently dump a partial set the
    // checker then scores green
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.harness(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as a RED row, never a silent
    // absence: round 7's fixture drift broke 11 queries and the only
    // symptom was 11 rows missing from CORRECTNESS (stderr scrolled by).
    // Every failure is recorded here and dumped as _errors.json so the
    // driver — and any human reading the dump dir — sees an explicit
    // name → exception manifest. Written ALWAYS ({} when clean) so its
    // absence itself signals "Verify never finished".
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // delete any stale dump FIRST: re-running into a used outDir, a
      // query that regressed to throwing would otherwise leave its old
      // (passing) parquet in place and the driver would score the broken
      // query green against stale data
      val dumpDir = Paths.get(outDir, name)
      def deleteDump(): Unit = if (Files.exists(dumpDir)) {
        import scala.jdk.CollectionConverters._
        // Files.walk holds directory handles until closed — over a
        // 131-query dump that is 131 leaked fds per run without this.
        val walk = Files.walk(dumpDir)
        try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
        finally walk.close()
      }
      deleteDump()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        // a failure mid-write leaves a partial directory (_temporary /
        // zero part-files) that would crash or confuse the scorer —
        // the manifest entry above is the failure record, so the broken
        // dump must not exist at all
        try deleteDump() catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    // Exit stays 0 even on per-query failures: the driver must still score
    // the queries that DID dump; the manifest (not the exit code) is the
    // per-query failure channel.
    spark.stop()
  }
}
