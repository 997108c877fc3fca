package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Main code that only tests reach is dead weight: no program path runs
  * it, yet it is built, documented and kept green. This gate checks, per
  * file under `src/main/scala`, that at least one of its top-level type
  * names appears in the non-comment code of ANOTHER main or `perfbench`
  * source file. Entry points are exempt: a file that defines
  * `def main(`, and `GraftExtensions.scala`, which Spark loads by class
  * name from `spark.sql.extensions`.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** `src` with line and (nested) block comments blanked; string and
    * character literals are kept as written, so a comment opener inside
    * one does not start a comment.
    */
  private def stripComments(src: String): String = {
    val out = new java.lang.StringBuilder
    val n = src.length
    var i = 0
    def copyTo(end: Int): Unit = { out.append(src, i, end); i = end }
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (depth > 0 && i < n) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out.append(' ')
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) n else close + 3
        while (end < n && src.charAt(end) == '"') end += 1
        copyTo(end)
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        copyTo(math.min(n, j + 1))
      } else if (src.charAt(i) == '\'' && i + 2 < n &&
          (src.charAt(i + 2) == '\'' || src.charAt(i + 1) == '\\')) {
        // a character literal: 'x', or an escape such as '\'' or '\n'
        val close = src.indexOf('\'', i + (if (src.charAt(i + 1) == '\\') 3 else 2))
        copyTo(if (close < 0) n else close + 1)
      } else {
        out.append(src.charAt(i)); i += 1
      }
    }
    out.toString
  }

  private val topLevelType = ("(?m)^(?:(?:private|protected)(?:\\[\\w+\\])?\\s+|" +
    "final\\s+|sealed\\s+|abstract\\s+|case\\s+|implicit\\s+)*(?:class|object|trait)\\s+(\\w+)").r

  private def scalaFiles(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq

  test("reachability gate: each main file's types are named in another program file") {
    val stripped = stripComments(
      "val a = \"http://x\" // Gone\n/* Gone /* nested */ still */ val c = '\"'; Kept")
    assert(stripped.contains("http://x") && stripped.contains("Kept"),
      s"literals must survive: $stripped")
    assert(!stripped.contains("Gone") && !stripped.contains("still"),
      s"comments must go: $stripped")

    val main = scalaFiles("src/main/scala")
    val program = main ++ scalaFiles("perfbench/src")
    assert(main.nonEmpty && program.size > main.size, "no program sources found")
    val code = program.map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8"))).toMap
    def named(name: String, in: Path): Boolean =
      ("\\b" + name + "\\b").r.findFirstIn(code(in)).nonEmpty
    val unreached = main.filterNot { p =>
      code(p).contains("def main(") || p.getFileName.toString == "GraftExtensions.scala" ||
        topLevelType.findAllMatchIn(code(p)).map(_.group(1))
          .exists(name => program.exists(q => q != p && named(name, q)))
    }
    assert(unreached.isEmpty,
      "only tests reach these main files; delete them or call them from the program: " +
        unreached.map(p => p.getFileName.toString).sorted.mkString(", "))
  }
}
