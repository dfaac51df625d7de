package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules no compiler checks: library code reads no environment,
  * the release policy of pinned frames lives in one module, and the
  * driver mains share one session builder and one width setting.
  */
class LintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** (file:line, text) of every line under `dirs` that contains `needle`;
    * with `codeOnly`, comment lines are skipped.
    */
  private def hits(dirs: Seq[String], needle: String,
      skip: Path => Boolean = _ => false,
      base: Path = root, codeOnly: Boolean = false): Seq[String] =
    dirs.flatMap { d =>
      val s = Files.walk(base.resolve(d))
      try s.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && !skip(p)).toList
      finally s.close()
    }.sorted.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) && !(codeOnly &&
            Seq("//", "/*", "*").exists(line.trim.startsWith)) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }

  private val mainSrc = Paths.get("src/main/scala")

  test("library code reads no environment variables") {
    val dirs = Seq("operators", "api", "functions", "streaming", "plans")
    val found = hits(dirs, "sys.env") ++ hits(dirs, "System.getenv")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("operators release pinned frames only through Rounds") {
    val found = hits(Seq("operators"), ".unpersist(",
      _.getFileName.toString == "Rounds.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only the harness builds a SparkSession") {
    val found = hits(Seq(""), "SparkSession.builder()",
      _.getFileName.toString == "Harness.scala", mainSrc, codeOnly = true)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("SPARK_GRAFT_CPUS is read in exactly one place") {
    val found = hits(Seq(""), "\"SPARK_GRAFT_CPUS\"", base = mainSrc,
      codeOnly = true)
    assert(found.size == 1, found.mkString("\n", "\n", ""))
  }
}
