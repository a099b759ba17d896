package graft

import java.nio.file.{Files, Paths}

/** Pins the harness session conf: the one `Bench`, `Verify` and the test
 * suite share, and the one perfbench's `operators` workload copies. */
class SessionsSpec extends SparkSpec {
  private val Extensions = "org.apache.spark.sql.graft.plans.GraftExtensions"
  private val HarnessConf = Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> Extensions,
    "spark.ui.enabled" -> "false")

  test("Sessions.harness(\"4\") reads back the harness conf") {
    val s = Sessions.harness("4")
    HarnessConf.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
  }

  test("the test session plans through the injected GraftExtensions rules") {
    assert(spark.conf.get("spark.sql.extensions") == Extensions)
  }

  test("perfbench's operators session sets the same keys and literal values") {
    // perfbench builds its own session and cannot import graft.Sessions
    val src = new String(Files.readAllBytes(
      Paths.get("perfbench/src/main/scala/graft/perfbench/BenchMain.scala")), "UTF-8")
    val block = src.substring(src.indexOf("class OperatorsWorkload"))
    val session = block.substring(block.indexOf("def session("), block.indexOf(".getOrCreate()"))
    val confs = """\.config\("([^"]+)",\s*([^)]+)\)""".r.findAllMatchIn(session)
      .map(m => m.group(1) -> m.group(2).trim.stripPrefix("\"").stripSuffix("\"")).toMap
    assert(session.contains(""".master(s"local[$cores]")"""))
    assert(confs.keySet == HarnessConf.keySet - "spark.master")
    assert(confs("spark.sql.shuffle.partitions") == "cores.toString")
    (HarnessConf - "spark.master" - "spark.sql.shuffle.partitions").foreach {
      case (k, v) => assert(confs(k) == v, k)
    }
  }
}
