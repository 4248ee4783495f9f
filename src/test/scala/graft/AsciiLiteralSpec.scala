package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Program text that reaches a log or an error message stays ASCII: a
  * forked JVM whose stderr is not UTF-8 prints any other character as `?`,
  * and a grep for the line then misses it. Comments may use any character;
  * string and character literals may not. */
class AsciiLiteralSpec extends AnyFunSuite {

  /** (line, content) of every string and character literal in `src`:
    * plain, triple-quoted and interpolated strings (code inside `${...}` is
    * scanned as code), skipping line and nested block comments. */
  private def literals(src: String): Seq[(Int, String)] = {
    val out = Seq.newBuilder[(Int, String)]
    val n = src.length
    val lineStarts = (0 until n).filter(src.charAt(_) == '\n').toArray
    def lineOf(i: Int) = {
      val k = java.util.Arrays.binarySearch(lineStarts, i)
      (if (k >= 0) k else -k - 1) + 1
    }
    val charLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'""".r
    // scans code from i; with `inBraces`, stops after the `}` closing an
    // interpolation block and returns the index past it
    def code(from: Int, inBraces: Boolean): Int = {
      var i = from
      var depth = 0
      while (i < n) {
        if (src.startsWith("//", i)) {
          val j = src.indexOf('\n', i); i = if (j < 0) n else j
        } else if (src.startsWith("/*", i)) {
          var d = 0
          var open = true
          while (i < n && open) {
            if (src.startsWith("/*", i)) { d += 1; i += 2 }
            else if (src.startsWith("*/", i)) { d -= 1; i += 2 }
            else i += 1
            open = d > 0
          }
        } else src.charAt(i) match {
          case '"' =>
            val interp = i > 0 &&
              (src.charAt(i - 1).isLetterOrDigit || src.charAt(i - 1) == '_')
            i = string(i, interp)
          case '\'' =>
            charLit.findPrefixMatchOf(src.substring(i, math.min(n, i + 8))) match {
              case Some(m) => out += lineOf(i) -> m.group(1); i += m.end
              case None => i += 1
            }
          case '{' if inBraces => depth += 1; i += 1
          case '}' if inBraces =>
            if (depth == 0) return i + 1
            depth -= 1; i += 1
          case _ => i += 1
        }
      }
      i
    }
    def string(start: Int, interp: Boolean): Int = {
      val triple = src.startsWith("\"\"\"", start)
      val buf = new StringBuilder
      var i = start + (if (triple) 3 else 1)
      var open = true
      while (i < n && open) {
        if (triple && src.startsWith("\"\"\"", i)) {
          while (src.startsWith("\"\"\"\"", i)) { buf += '"'; i += 1 }
          i += 3; open = false
        } else if (!triple && src.charAt(i) == '"') { i += 1; open = false }
        else if (!triple && src.charAt(i) == '\\') { buf ++= src.substring(i, i + 2); i += 2 }
        else if (interp && src.startsWith("$$", i)) i += 2
        else if (interp && src.startsWith("${", i)) i = code(i + 2, inBraces = true)
        else { buf += src.charAt(i); i += 1 }
      }
      out += lineOf(start) -> buf.toString
      i
    }
    code(0, inBraces = false)
    out.result()
  }

  private def nonAscii(src: String): Seq[(Int, String)] =
    literals(src).filter(_._2.exists(_ > '\u007f'))

  test("the literal scanner flags literals, not comments") {
    val em = "\u2014"
    val src =
      s"""// a comment $em is fine
         |/* so is /* a nested */ block $em */
         |val a = "plain $em"
         |val b = s"interp $${f("$em")} tail"
         |val c = '$em'
         |val d = "ascii"
         |""".stripMargin
    assert(nonAscii(src).map(_._1) == Seq(3, 4, 5))
  }

  test("string and character literals under src/main are ASCII") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.endsWith(Paths.get("graft/ops/Par.scala"))),
      s"expected the main sources, found ${files.size} files")
    val bad = files.sortBy(_.toString).flatMap { (p: Path) =>
      val src = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      nonAscii(src).map { case (l, t) => s"$p:$l: ${t.take(80)}" }
    }
    assert(bad.isEmpty, bad.mkString("non-ASCII literals:\n", "\n", ""))
  }
}
