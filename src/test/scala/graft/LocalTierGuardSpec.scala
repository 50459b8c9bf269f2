package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the small-input tier ONE mechanism: no `src/main` file other
  * than `graft/plans/LocalTier.scala` may read a `*.localBound` conf
  * key or declare its own `Local*Bound` constant — a new driver-side
  * replay takes its budget and probe from [[graft.plans.LocalTier]]. */
class LocalTierGuardSpec extends AnyFunSuite {

  test("only LocalTier owns a small-input bound") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    val tier = root.resolve("graft/plans/LocalTier.scala")
    val key = """\.localBound\b""".r
    val constant = """\b(val|var|def)\s+Local\w*Bound\b""".r
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.contains(tier))
    val offenders = for {
      f <- files if f != tier
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if key.findFirstIn(line).isDefined || constant.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
