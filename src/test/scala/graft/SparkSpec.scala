package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.harness("4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val Sf = "/root/testdata/sf0.001"
  def tmpDir(): String = java.nio.file.Files.createTempDirectory("graft-test").toString

  /** Run `body` with session-conf overrides, restoring (or unsetting)
   * each key afterwards — shared by every conf-sensitive spec. */
  def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
