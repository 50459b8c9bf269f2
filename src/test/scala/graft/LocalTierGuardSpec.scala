package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Keeps two mechanisms ONE each. No `src/main` file other than
  * `graft/plans/LocalTier.scala` may read a `*.localBound` conf key or
  * declare its own `Local*Bound` constant — a new driver-side replay
  * takes its budget and probe from [[graft.plans.LocalTier]]. And no
  * `src/main` or `src/test` file other than `graft/Harness.scala` may
  * build a Spark session or read the core-count variable — a new
  * entry point takes its session from [[graft.Harness]]. */
class LocalTierGuardSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): List[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  /** Lines of `files` other than `owner` that match any pattern. */
  private def offenders(files: List[Path], owner: Path, patterns: Regex*): List[String] = {
    assert(files.contains(owner))
    for {
      f <- files if f != owner
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
      if patterns.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  test("only LocalTier owns a small-input bound") {
    val root = Paths.get("src", "main", "scala")
    val found = offenders(scalaFiles(root), root.resolve("graft/plans/LocalTier.scala"),
      """\.localBound\b""".r, """\b(val|var|def)\s+Local\w*Bound\b""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only Harness builds a SparkSession or reads the core count") {
    val main = Paths.get("src", "main", "scala")
    val files = scalaFiles(main) ++ scalaFiles(Paths.get("src", "test", "scala"))
    val found = offenders(files, main.resolve("graft/Harness.scala"),
      """SparkSession\s*\.\s*builder\b""".r, """SPARK_GRAFT_CPU[S]""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
