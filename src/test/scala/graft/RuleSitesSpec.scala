package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One place per rule: each exactness, vector-geometry and near-dup
  * oracle rule is spelled on one code line of `src/main`, its helper, and
  * every other site calls the helper. Code lines are the lines
  * `tools/loc.sh` counts: blank lines and comment and scaladoc lines are
  * skipped.
  */
class RuleSitesSpec extends AnyFunSuite {

  // tests fork in the project's base directory
  private val mainDir: Path = Paths.get("src/main/scala").toAbsolutePath

  /** (path relative to `src/main/scala`, line number, text) of every code line. */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    val files = Files.walk(mainDir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no Scala sources under $mainDir")
    val comment = """^\s*(//|/\*|\*)""".r
    files.flatMap { p =>
      val rel = mainDir.relativize(p).toString
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.trim.nonEmpty && comment.findFirstIn(line).isEmpty =>
          (rel, i + 1, line)
      }
    }
  }

  /** `file:line: text` of each code line for which `keep(file, text)` holds. */
  private def sites(keep: (String, String) => Boolean): Seq[String] =
    codeLines.collect { case (f, n, line) if keep(f, line) => s"$f:$n: ${line.trim}" }

  private val exactFile = "graft/Exact.scala"

  test("each Exact pattern appears only in Exact.scala") {
    val patterns = Seq("DecimalType(18, 4)", "DECIMAL(18,4)", "DECIMAL(18, 4)",
      "1970-01-01", "md5(", "floor(log(", "floor(ln(",
      "aggregate(array_sort(collect_list(", "1103515245")
    for (p <- patterns) {
      val outside = sites((f, line) => f != exactFile && line.contains(p))
      assert(outside.isEmpty, s"`$p` outside $exactFile:\n${outside.mkString("\n")}")
    }
  }

  test("each vector-geometry and set-Jaccard rule is spelled on exactly one code line") {
    val rules = Seq("sqrt(dot(", "sqrt(list_dot_product(", "lit(2) * dot(",
      "2 * list_dot_product(", "CAST(len(list_distinct(list_concat(")
      .map(p => p -> java.util.regex.Pattern.quote(p)) :+
      ("""size(array_union( … .cast("double")""" -> """size\(array_union\(.*\.cast\("double"\)""")
    for ((name, re) <- rules) {
      val found = sites((_, line) => re.r.findFirstIn(line).isDefined)
      assert(found.size === 1, s"`$name` on ${found.size} code lines:\n${found.mkString("\n")}")
    }
  }

  test("each near-dup oracle stage is spelled on exactly one code line") {
    // `sig AS (` counts where it opens a string or a margin line: the
    // minhash signature CTE, not `ssig`, `${pfx}sig` or Similarity's
    // binary-code `WITH sig AS (`
    val stages = Seq("reach(node, root)", "bucket_ok AS (", "- 2 * ${dotExpr(")
      .map(p => p -> java.util.regex.Pattern.quote(p)) :+
      ("sig AS (" -> """(^\s*\||"{3})sig AS \(""")
    for ((name, re) <- stages) {
      val found = sites((_, line) => re.r.findFirstIn(line).isDefined)
      assert(found.size === 1, s"`$name` on ${found.size} code lines:\n${found.mkString("\n")}")
    }
  }

  test("no etl, queries or sources code line names graft.ext") {
    val layers = Seq("graft/etl/", "graft/queries/", "graft/sources/")
    val named = sites((f, line) => layers.exists(f.startsWith) && line.contains("graft.ext"))
    assert(named.isEmpty, s"graft.ext named below the registry layer:\n${named.mkString("\n")}")
  }
}
