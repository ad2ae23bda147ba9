package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** File-level reachability audit over the shipped sources, read-only
  * and without a Spark session. Roots are every file with a
  * `def main(` plus all of `perfbench/src`. A file is reached when a
  * reached file names one of its top-level types (object, class or
  * trait declared at column 0) as an identifier in code, with comments
  * and string literals removed; repeat until nothing new is reached.
  * Every public object should be reachable from a root, so the files
  * left over must be exactly the listed exceptions. */
class ReachabilitySpec extends AnyFunSuite {

  /** Unreached on purpose, each with its reason. */
  private val exceptions = Map(
    "src/main/scala/graft/functions/VectorFunctions.scala" ->
      "SimilaritySpec's reference implementation",
    "src/main/scala/graft/streaming/StatusMetrics.scala" ->
      "reads the compiler's named streaming observations; ROADMAP item 4 wires it into Flowd")

  /** `src` with comments, string literals and char literals blanked. */
  private def stripLiterals(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i + 2)
        i = if (j < 0) n else j + 2
        out += ' '
      } else if (src.startsWith("\"\"\"", i)) {
        val j = src.indexOf("\"\"\"", i + 3)
        i = if (j < 0) n else j + 3
        while (i < n && src(i) == '"') i += 1
        out += ' '
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') {
          if (src(j) == '\\') j += 1
          j += 1
        }
        i = j + 1
        out += ' '
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        i += 3
        out += ' '
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' &&
          src(i + 3) == '\'') {
        i += 4
        out += ' '
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  private val TopLevel =
    ("(?m)^(?:(?:final|sealed|abstract|case|private(?:\\[\\w+\\])?|implicit)\\s+)*" +
      "(?:object|class|trait)\\s+(\\w+)").r
  private val Ident = "[A-Za-z_]\\w*".r

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** The sources under `src/main/scala` no root reaches, relative. */
  private def unreached(): Set[String] = {
    val files = (scalaFiles("src/main/scala") ++ scalaFiles("perfbench/src"))
      .map(p => p.toString -> stripLiterals(Files.readString(p))).toMap
    val declared = files.map { case (f, code) =>
      f -> TopLevel.findAllMatchIn(code).map(_.group(1)).toSet }
    val idents = files.map { case (f, code) =>
      f -> Ident.findAllIn(code).toSet }
    val reached = scala.collection.mutable.Set.from(files.keys.filter(f =>
      f.startsWith("perfbench/src") || files(f).contains("def main(")))
    var frontier = reached.toList
    while (frontier.nonEmpty) {
      val next = files.keys.filter(b => !reached(b) &&
        frontier.exists(a => declared(b).exists(idents(a)))).toList
      reached ++= next
      frontier = next
    }
    files.keySet -- reached
  }

  test("every src/main file is reachable from a root, but the listed exceptions") {
    val left = unreached()
    assert(left == exceptions.keySet,
      s"\nunreached, not listed: ${(left -- exceptions.keySet).toSeq.sorted.mkString(", ")}" +
        s"\nlisted, but reached or gone: ${(exceptions.keySet -- left).toSeq.sorted.mkString(", ")}")
  }
}
