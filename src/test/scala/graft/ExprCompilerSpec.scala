package graft

import org.scalatest.funsuite.AnyFunSuite

/** A lint that keeps one compiler of dialect time literals: every
  * string literal that becomes an ns stamp in a plan does so in
  * [[graft.sql.ExprBuilder]] (as a bound constant, under the one
  * coercion rule), never in a second copy beside it. */
class ExprCompilerSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src/main/scala")

  /** `f`'s source with its comments blanked: comments may name the
    * calls they document. Line numbers are kept. */
  private def codeOf(f: java.nio.file.Path): String =
    "(?s)/\\*.*?\\*/".r
      .replaceAllIn(java.nio.file.Files.readString(f),
        m => scala.util.matching.Regex.quoteReplacement(
          m.matched.filter(_ == '\n')))
      .replaceAll("(?m)^[ \t]*//.*$", "")
      .replaceAll("(?m)[ \t]//[^\"\\n]*$", "")

  /** The line span of one `def` in `code`: from its declaration to the
    * next declaration at the same indentation. */
  private def defLines(code: String, name: String): Range = {
    val start = code.indexOf(s"def $name")
    assert(start >= 0, s"def $name not found")
    val indent = code.lastIndexOf('\n', start)
    val lead = code.substring(indent + 1, start).takeWhile(_ == ' ')
    val next = (s"\n$lead(?:(?:private|protected|override|final)" +
      "(?:\\[\\w+\\])? )*def ").r
      .findFirstMatchIn(code.substring(start + 4))
      .map(_.start + start + 4).getOrElse(code.length)
    def line(at: Int) = code.substring(0, at).count(_ == '\n')
    line(start) to line(next)
  }

  test("time literals parse only in ExprBuilder") {
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.length > 50)
    val offenders = files.flatMap { f =>
      val code = codeOf(f)
      val allowed: Int => Boolean = f.getFileName.toString match {
        case "ExprBuilder.scala" => _ => true
        // reads WHERE bounds to choose day directories; compiles nothing
        case "Engine.scala" => defLines(code, "stampPeriod").contains
        case _ => _ => false
      }
      code.linesIterator.zipWithIndex.collect {
        case (l, i) if l.contains("parseTime(") && !allowed(i) =>
          s"${root.relativize(f)}:${i + 1}: ${l.trim}"
      }.toSeq
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
