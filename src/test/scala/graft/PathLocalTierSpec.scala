package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.sparql.Compiler

/** The path-fixpoint driver tier (Compiler.transitiveClosure /
  * reachFrom below the tier budget) must produce EXACTLY the
  * distributed loops' row sets. Forced-distributed comparison via
  * [[TestSpark.distributed]], over graphs with cycles, diamonds and
  * disconnected parts. */
class PathLocalTierSpec extends AnyFunSuite {
  import TestSpark.{distributed, spark}
  import spark.implicits._

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // diamond + cycle + chain + island, with duplicate edges
  private lazy val edges: DataFrame = Seq(
    ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
    ("e", "b"), // cycle b→d→e→b
    ("x", "y"), ("y", "z"),
    ("a", "b") // duplicate
  ).toDF("from", "to")

  test("transitiveClosure: local tier equals distributed fixpoint") {
    val local = rowsOf(Compiler.transitiveClosure(edges))
    val dist = distributed(rowsOf(Compiler.transitiveClosure(edges)))
    assert(local == dist)
    assert(local.contains(Seq("b", "b"))) // cycle reaches itself
  }

  test("reachFrom forward/backward: local tier equals distributed fixpoint") {
    for (fwd <- Seq(true, false); seedSet <- Seq(Seq("a"), Seq("d", "x"), Seq("nope"))) {
      val seeds = seedSet.toDF("node")
      val local = rowsOf(Compiler.reachFrom(edges, seeds, fwd))
      val dist = distributed(rowsOf(Compiler.reachFrom(edges, seeds, fwd)))
      assert(local == dist, s"fwd=$fwd seeds=$seedSet")
    }
  }

  test("reachFrom over a 70-edge chain: both tiers walk past 64 steps") {
    val chain = (0 until 70).map(i => (s"v$i", s"v${i + 1}")).toDF("from", "to")
    val seeds = Seq("v0").toDF("node")
    val want = (1 to 70).map(i => Seq(s"v$i")).toSet
    assert(rowsOf(Compiler.reachFrom(chain, seeds, forward = true)) == want)
    assert(distributed(rowsOf(Compiler.reachFrom(chain, seeds, forward = true))) == want)
  }
}
