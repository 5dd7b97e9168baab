package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the source tree against code that nothing reaches:
  *  - every top-level `object`, `class` or `trait` in src/main must be
  *    named somewhere in src/main besides its own declaration. Objects
  *    that define `main` are entry points and exempt. A definition only
  *    its spec calls belongs in test scope or nowhere;
  *  - every member `def`, `val` or `var` of a top-level definition
  *    (`override` and `implicit` ones aside: the compiler calls those)
  *    must be named somewhere in src/main, src/test or the perfbench
  *    harness besides its own declaration.
  * Comments do not count, and there is no allowlist. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  test("stripComments drops line and nested block comments, keeps strings") {
    val q3 = "\"\"\""
    val src = Seq(
      "val a = \"x // y\" // gone",
      "/* gone /* nested */\n still gone */ val b = 'c'",
      "val c = '\"' // gone",
      "val d = s\"${f(\"/*\")}\" + " + q3 + "// kept" + q3).mkString("\n")
    assert(stripComments(src) === Seq(
      "val a = \"x // y\" ",
      "\n val b = 'c'",
      "val c = '\"' ",
      "val d = s\"${f(\"/*\")}\" + " + q3 + "// kept" + q3).mkString("\n"))
  }

  test("every top-level definition in src/main is named by src/main") {
    val texts = sources("src/main")
    assert(texts.size > 50, s"src/main scan found only ${texts.size} files")
    // (name, whether the declaration's top-level segment defines main)
    val decls = texts.flatMap { t =>
      val ms = TopLevelDecl.findAllMatchIn(t).toSeq
      ms.zipWithIndex.map { case (m, i) =>
        val end = if (i + 1 < ms.size) ms(i + 1).start else t.length
        (m.group(2), m.group(1) == "object" &&
          t.substring(m.start, end).contains("def main("))
      }
    }
    val declCount = decls.groupBy(_._1).view.mapValues(_.size).toMap
    val unnamed = decls.collect { case (name, false) => name }.distinct
      .filter { name =>
        val word = ("\\b" + name + "\\b").r
        texts.map(word.findAllIn(_).size).sum <= declCount(name)
      }.sorted
    assert(unnamed.isEmpty,
      s"named nowhere in src/main but their own declarations: $unnamed")
  }

  test("only Text and HyperplaneBandKeys compute hyperplane weights") {
    // a query that calls planeWeight( composes its own band keys; they
    // belong to graft.functions.HyperplaneBandKeys (the DuckDB twins'
    // SQL names planeWeight without a call, so it does not count)
    val owners = Seq("text/Text.scala", "functions/HyperplaneBandKeys.scala")
    val callers = sourceFiles("src/main").collect {
      case (path, text) if text.contains("planeWeight(") &&
        !owners.exists(path.endsWith) => path
    }
    assert(callers.isEmpty, s"planeWeight( called outside $owners: $callers")
  }

  test("every member def/val/var in src/main is named outside its declaration") {
    val main = sources("src/main")
    val all = main ++ sources("src/test") ++ sources("perfbench/harness/src")
    val decls = main.flatMap(MemberDecl.findAllMatchIn(_))
      .filterNot(m => m.group(1).contains("override") ||
        m.group(1).contains("implicit"))
      .map(_.group(2))
    assert(decls.size > 500, s"src/main scan found only ${decls.size} members")
    val declCount = decls.groupBy(identity).view.mapValues(_.size).toMap
    val unnamed = declCount.keys.filter { name =>
      val word = ("\\b" + name + "\\b").r
      all.map(word.findAllIn(_).size).sum <= declCount(name)
    }.toSeq.sorted
    assert(unnamed.isEmpty,
      s"named nowhere but their own declarations: $unnamed")
  }
}

object ReachabilitySpec {

  /** A top-level (column-0) declaration: group 1 = keyword, 2 = name. */
  private val TopLevelDecl =
    ("(?m)^(?:(?:final|sealed|abstract|case|implicit|private|protected)" +
      "(?:\\[\\w+\\])?\\s+)*(object|class|trait)\\s+([A-Za-z_]\\w*)").r

  /** A member declaration: two-space indent (the body of a column-0
    * definition), then modifiers (group 1), `def`/`val`/`var` and the
    * name (group 2). */
  private val MemberDecl =
    ("(?m)^  ((?:(?:private|protected|final|lazy|override|implicit)" +
      "(?:\\[\\w+\\])?\\s+|@\\w+\\s+)*)(?:def|val|var)\\s+([A-Za-z_]\\w*)").r

  /** The comment-stripped text of every .scala file under `dir`. */
  private def sources(dir: String): Seq[String] = sourceFiles(dir).map(_._2)

  /** (path, comment-stripped text) of every .scala file under `dir`. */
  private def sourceFiles(dir: String): Seq[(String, String)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".scala"))
      .map(f => f -> stripComments(Files.readString(Paths.get(f)))).toSeq
    finally s.close()
  }

  private val CharLiteral = """'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r

  /** Scala source with `//` and (nested) `/* */` comments removed; string
    * and character literals are kept verbatim, and a block comment keeps
    * its newlines so line anchors still hold. */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def copyTo(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    // end (exclusive) of the one-line string literal opening at `from`;
    // an interpolated one may hold `${...}` blocks with quoted strings
    def stringEnd(from: Int): Int = {
      val interpolated = from > 0 && src(from - 1).isLetterOrDigit
      var j = from + 1
      while (j < n && src(j) != '"' && src(j) != '\n') {
        if (src(j) == '\\') j += 2
        else if (interpolated && src.startsWith("${", j)) {
          var depth = 1
          j += 2
          while (j < n && depth > 0) src(j) match {
            case '"' => j = stringEnd(j)
            case '{' => depth += 1; j += 1
            case '}' => depth -= 1; j += 1
            case _ => j += 1
          }
        } else j += 1
      }
      math.min(j + 1, n)
    }
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) n else close + 3
        while (end < n && src(end) == '"') end += 1
        copyTo(end)
      } else if (src(i) == '"') {
        copyTo(stringEnd(i))
      } else if (src(i) == '\'') {
        copyTo(i + CharLiteral.findPrefixMatchOf(src.subSequence(i, n))
          .fold(1)(_.end))
      } else copyTo(i + 1)
    }
    out.toString
  }
}
