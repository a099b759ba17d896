package graft.functions

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One-kernel lint: a custom expression's per-row algorithm lives in one
 * JVM method that `nullSafeEval` and `doGenCode` both call, never in a
 * Scala loop plus a Java-text copy of it. scalac never type-checks the
 * Java text, and Spark's codegen fallback silently runs the Scala copy
 * when it fails to compile, so a second copy can drift unseen. Reads the
 * expression sources and fails when a `doGenCode` body holds a `for (`
 * or `while (` loop. */
class KernelLintSpec extends AnyFunSuite {

  /** Expressions measured slower with one kernel, kept in two copies
   * (the reason and the numbers are at the expression). */
  private val AllowTwoCopies = Set("FloatVectorDot")

  /** (case class, file:line) of every `doGenCode` body with a loop. */
  private def loopingGenCode(file: Path): Seq[(String, String)] = {
    val lines = Files.readAllLines(file).asScala.toIndexedSeq
    val ClassDef = """^case class (\w+).*""".r
    var owner = "?"
    var out = Seq.empty[(String, String)]
    var i = 0
    while (i < lines.size) {
      lines(i).trim match {
        case ClassDef(name) => owner = name
        case t if t.contains("def doGenCode(") =>
          // the body runs to the next member at the same indentation
          val indent = lines(i).indexWhere(_ != ' ')
          var j = i + 1
          while (j < lines.size &&
              (lines(j).trim.isEmpty || lines(j).indexWhere(_ != ' ') > indent)) j += 1
          val body = lines.slice(i, j)
          if (body.exists(l => l.contains("for (") || l.contains("while (")))
            out :+= owner -> s"${file.getFileName}:${i + 1}"
          i = j - 1
        case _ =>
      }
      i += 1
    }
    out
  }

  test("no doGenCode restates its kernel's loop as Java text") {
    val dir = Paths.get("src/main/scala/graft/functions")
    val listing = Files.list(dir)
    val files = try listing.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    finally listing.close()
    assert(files.nonEmpty, s"no sources under $dir")
    val found = files.flatMap(loopingGenCode)
    val bad = found.filterNot { case (name, _) => AllowTwoCopies(name) }
    if (bad.nonEmpty)
      fail(s"${bad.size} expressions write their loop twice (Scala eval + Java text): " +
        bad.map { case (n, at) => s"$n ($at)" }.mkString(", "))
    val stale = AllowTwoCopies -- found.map(_._1)
    assert(stale.isEmpty, s"allow-listed expressions with one kernel: ${stale.mkString(", ")}")
  }
}
