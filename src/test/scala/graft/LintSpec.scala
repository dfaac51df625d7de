package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules no compiler checks: library code reads no environment,
  * and the release policy of pinned frames lives in one module.
  */
class LintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** (file:line, text) of every line under `dirs` that contains `needle`. */
  private def hits(dirs: Seq[String], needle: String,
      skip: Path => Boolean = _ => false): Seq[String] =
    dirs.flatMap { d =>
      val s = Files.walk(root.resolve(d))
      try s.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && !skip(p)).toList
      finally s.close()
    }.sorted.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$p:${i + 1}: ${line.trim}"
      }
    }

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
}
