package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One-value lint: a defaulted parameter that no caller sets is a knob
 * with one value in use, and belongs in a named constant beside the code
 * that reads it. Reads the sources and fails on a defaulted parameter of
 * a `def` under `src/main/scala/graft` that no call site in `src/main`
 * or `src/test` passes, by name or by position.
 *
 * The parse is textual: comments and string contents are blanked, a call
 * is `name(` (not after `def`), and a call qualified by a capitalized name
 * other than the def's enclosing object or class is taken to be another
 * method of the same name. An unqualified call of any same-named method
 * counts, so the lint can miss a knob; it does not flag a set one. */
class OptionLintSpec extends AnyFunSuite {

  /** Kept deployment settings, as `Owner.method.param`: the value comes
   * from the deployment, not from a caller in this repository. */
  private val Allowed = Set(
    // the `spark.cdm.*` template a deployment's env-only run fills in
    "EnvProperties.configFromEnv.template")

  /** A defaulted parameter: its owner, method, param list, position. */
  private case class Knob(at: String, owner: String, method: String,
      list: Int, pos: Int, param: String) {
    def key: String = s"$owner.$method.$param"
  }

  /** A call site: optional qualifier, method name, raw argument lists. */
  private case class Call(qual: Option[String], method: String, lists: Seq[String])

  private def sources(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    finally walk.close()
  }

  /** The source with comments removed and string/char literal contents
   * blanked, line breaks kept (so offsets map to the same line). */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def newlines(from: Int, to: Int): Unit =
      out ++= "\n" * src.substring(from, to).count(_ == '\n')
    while (i < src.length) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) src.length else j + 3
        while (j < src.length && src(j) == '"') j += 1
        out ++= "\"\""; newlines(i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        out ++= "\"\""; i = j + 1
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) src.length else j
      } else if (src.startsWith("/*", i)) {
        var j = src.indexOf("*/", i + 2)
        j = if (j < 0) src.length else j + 2
        newlines(i, j); i = j
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out ++= "' '"; i += 3
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** End (exclusive) of the bracket group opening at `s(i)`. */
  private def groupEnd(s: String, i: Int): Int = {
    var depth = 0
    var j = i
    while (j < s.length) {
      s(j) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1; if (depth == 0) return j + 1
        case _ =>
      }
      j += 1
    }
    s.length
  }

  /** `s` split on its top-level commas. */
  private def topLevel(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    s.indices.foreach { j =>
      s(j) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(from, j); from = j + 1
        case _ =>
      }
    }
    parts += s.substring(from)
    parts.result().filter(_.trim.nonEmpty)
  }

  /** The argument lists `(…)(…)` starting at `s(i)`. */
  private def argLists(s: String, i0: Int): Seq[String] = {
    val lists = Seq.newBuilder[String]
    var i = i0
    while (i < s.length && s(i) == '(') {
      val e = groupEnd(s, i)
      lists += s.substring(i + 1, e - 1)
      i = e
      while (i < s.length && s(i).isWhitespace && s(i) != '\n') i += 1
    }
    lists.result()
  }

  private val Ident = """[A-Za-z_][A-Za-z0-9_]*"""
  private val DefRe = s"""\\bdef\\s+($Ident)\\s*(\\[[^\\]]*\\])?\\s*\\(""".r
  private val OwnerRe = s"""(?m)^( *)(?:(?:final|private(?:\\[\\w+\\])?|sealed|case|abstract)\\s+)*(?:object|class|trait)\\s+($Ident)""".r
  private val ParamRe = s"""(?s)\\s*(?:implicit\\s+)?($Ident)\\s*:(.*)""".r
  private val NamedRe = s"""(?s)\\s*($Ident)\\s*=(?![=>]).*""".r
  private val CallRe = s"""(?:(?<![A-Za-z0-9_])($Ident)\\.)?(?<![A-Za-z0-9_])($Ident)\\s*(?:\\[[^\\]\\(]*\\])?\\(""".r

  /** True when `tpe` (the text after a parameter's `:`) holds a default. */
  private def hasDefault(tpe: String): Boolean = {
    var depth = 0
    tpe.indices.exists { j =>
      tpe(j) match {
        case '(' | '[' | '{' => depth += 1; false
        case ')' | ']' | '}' => depth -= 1; false
        case '=' => depth == 0 && !tpe.startsWith("=>", j) && !tpe.startsWith("==", j) &&
          (j == 0 || !"=!<>".contains(tpe(j - 1)))
        case _ => false
      }
    }
  }

  private def knobs(file: Path, s: String): Seq[Knob] = {
    val owners = OwnerRe.findAllMatchIn(s).map(m => (m.start, m.group(1).length, m.group(2))).toSeq
    DefRe.findAllMatchIn(s).toSeq.flatMap { m =>
      val lineStart = s.lastIndexOf('\n', m.start) + 1
      val indent = s.substring(lineStart, m.start).takeWhile(_ == ' ').length
      val owner = owners.filter { case (at, ind, _) => at < m.start && ind < indent }
        .lastOption.fold("?")(_._3)
      val line = s.substring(0, m.start).count(_ == '\n') + 1
      argLists(s, m.end - 1).zipWithIndex.flatMap { case (params, list) =>
        topLevel(params).zipWithIndex.collect {
          case (ParamRe(name, tpe), pos) if hasDefault(tpe) =>
            Knob(s"${file.getFileName}:$line", owner, m.group(1), list, pos, name)
        }
      }
    }
  }

  private def calls(s: String): Seq[Call] =
    CallRe.findAllMatchIn(s).toSeq
      .filterNot(m => s.substring(math.max(0, m.start - 6), m.start).matches("(?s).*\\bdef\\s*"))
      .map(m => Call(Option(m.group(1)), m.group(2), argLists(s, m.end - 1)))

  private def sets(k: Knob, c: Call): Boolean =
    c.method == k.method && c.lists.size > k.list &&
      !c.qual.exists(q => q.head.isUpper && q != k.owner) && {
        val args = topLevel(c.lists(k.list))
        val names = args.map { case NamedRe(n) => Some(n); case _ => None }
        names.contains(Some(k.param)) || names.takeWhile(_.isEmpty).size > k.pos
      }

  test("every defaulted parameter of a def is set by some call site") {
    val main = sources("src/main/scala/graft")
    assert(main.nonEmpty, "no sources under src/main/scala/graft")
    val text = (main ++ sources("src/test/scala")).map(f => f -> code(Files.readString(f))).toMap
    val allCalls = text.values.flatMap(calls).toSeq.groupBy(_.method)
    val all = main.flatMap(f => knobs(f, text(f)))
    val unset = all.filterNot(k => allCalls.getOrElse(k.method, Nil).exists(sets(k, _)))
    val bad = unset.filterNot(k => Allowed(k.key))
    if (bad.nonEmpty)
      fail(s"${bad.size} defaulted parameters no caller sets (make each a named constant): " +
        bad.map(k => s"${k.key} (${k.at})").mkString(", "))
    val stale = Allowed -- unset.map(_.key)
    assert(stale.isEmpty, s"allow-listed parameters now set or gone: ${stale.mkString(", ")}")
  }
}
