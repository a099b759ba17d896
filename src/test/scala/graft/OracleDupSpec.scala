package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Duplicate-oracle lint: a CTE chain two oracles share lives in one
 * builder (OracleSql, or a private def of the family), never in two
 * stripMargin copies. Reads the query sources and fails when any
 * `Window` consecutive SQL lines (trimmed, `|`-prefixed, non-blank, in
 * one run of `|` lines) appear in two places. */
class OracleDupSpec extends AnyFunSuite {
  private val Window = 6

  /** ((file, first line), window text) of every `Window`-line window. */
  private def windows(file: Path): Seq[((String, Int), String)] = {
    val lines = Files.readAllLines(file).asScala.toIndexedSeq
    // runs of consecutive `|`-prefixed lines, blank SQL lines dropped
    val runs = Seq.newBuilder[IndexedSeq[(Int, String)]]
    var run = IndexedSeq.empty[(Int, String)]
    lines.zipWithIndex.foreach { case (l, i) =>
      val t = l.trim
      if (t.startsWith("|")) {
        val sql = t.drop(1).trim
        if (sql.nonEmpty) run :+= (i + 1 -> sql)
      } else { runs += run; run = IndexedSeq.empty }
    }
    runs += run
    runs.result().flatMap(_.sliding(Window).filter(_.size == Window).map { w =>
      (file.getFileName.toString, w.head._1) -> w.map(_._2).mkString("\n")
    })
  }

  test(s"no $Window-line SQL block appears twice in the oracle sources") {
    val dir = Paths.get("src/main/scala/graft/queries")
    val listing = Files.list(dir)
    val files = try listing.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    finally listing.close()
    assert(files.nonEmpty, s"no sources under $dir")
    val dups = files.flatMap(windows).groupBy(_._2)
      .collect { case (sql, occ) if occ.size > 1 => occ.map(_._1).sorted -> sql }
      .toSeq.sortBy(_._1.head)
    dups.headOption.foreach { case (at, sql) =>
      fail(s"${dups.size} repeated $Window-line blocks; the first, at " +
        at.map { case (f, l) => s"$f:$l" }.mkString(", ") + s":\n$sql")
    }
  }
}
