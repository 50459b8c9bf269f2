package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.gas.Analytics
import graft.queries.GasQueries

/** The small-graph driver tier must produce EXACTLY the distributed
  * loops' results — same doubles, same tie-breaks, same row sets. Each
  * case runs the operator twice: once with the tier active (default
  * budget) and once forced onto the distributed path
  * ([[TestSpark.distributed]]), and pins set equality of the collected
  * rows. */
class GasLocalTierSpec extends AnyFunSuite {
  import TestSpark.{distributed, spark, SF}

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private lazy val hier = GasQueries.hierEdges(spark, SF)
  private lazy val up = GasQueries.upEdges(spark, SF)

  // a multigraph with equal-distance alternative paths and duplicate
  // edges — exercises the min(struct(dist, pred)) tie-break, the
  // strict-improvement filter and duplicate-edge PR contributions
  private lazy val tricky: DataFrame = {
    import spark.implicits._
    Seq(
      ("a", "b", 1.0), ("a", "c", 1.0), ("b", "d", 1.0), ("c", "d", 1.0),
      ("a", "d", 2.0), ("d", "e", 0.5), ("d", "e", 0.5), ("b", "e", 1.5),
      ("e", "f", 1.0), ("c", "f", 2.5), ("x", "y", 1.0), ("f", "a", 3.0)
    ).toDF("src", "dst", "weight")
  }

  test("bfs: local tier equals distributed loop") {
    for (e <- Seq(hier, tricky)) {
      val local = rowsOf(Analytics.bfs(e, if (e eq hier) "r:0" else "a"))
      val dist = distributed(rowsOf(Analytics.bfs(e, if (e eq hier) "r:0" else "a")))
      assert(local == dist)
    }
  }

  test("sssp: local tier equals distributed loop (exact doubles)") {
    for (e <- Seq(hier, tricky)) {
      val src = if (e eq hier) "r:0" else "a"
      val local = rowsOf(Analytics.sssp(e, src))
      val dist = distributed(rowsOf(Analytics.sssp(e, src)))
      assert(local == dist)
    }
  }

  test("fuzzySssp: local tier equals distributed composition") {
    val local = rowsOf(Analytics.fuzzySssp(hier, Seq("r:0"), Seq("c:5", "c:7"), 100))
    val dist = distributed(
      rowsOf(Analytics.fuzzySssp(hier, Seq("r:0"), Seq("c:5", "c:7"), 100)))
    assert(local == dist)
    val localT = rowsOf(Analytics.fuzzySssp(tricky, Seq("a"), Seq("e", "f"), 4))
    val distT = distributed(
      rowsOf(Analytics.fuzzySssp(tricky, Seq("a"), Seq("e", "f"), 4)))
    assert(localT == distT)
  }

  test("pageRank: local tier equals distributed iteration (exact doubles)") {
    for (e <- Seq(up, tricky)) {
      val local = rowsOf(Analytics.pageRank(e, iters = 10))
      val dist = distributed(rowsOf(Analytics.pageRank(e, iters = 10)))
      assert(local == dist)
    }
  }

  test("personalizedPageRank: local tier equals distributed (exact doubles)") {
    val local = rowsOf(Analytics.personalizedPageRank(hier, Seq("r:0")))
    val dist = distributed(rowsOf(Analytics.personalizedPageRank(hier, Seq("r:0"))))
    assert(local == dist)
    // multi-source over the tie-heavy graph
    val localT = rowsOf(Analytics.personalizedPageRank(tricky, Seq("a", "x")))
    val distT = distributed(rowsOf(Analytics.personalizedPageRank(tricky, Seq("a", "x"))))
    assert(localT == distT)
  }

  test("personalizedPageRank: local tier keeps the loud missing-source error") {
    val ex = intercept[IllegalArgumentException] {
      Analytics.personalizedPageRank(hier, Seq("r:0", "zzz:404"))
    }
    assert(ex.getMessage.contains("zzz:404"))
  }

  test("connectedComponents: union-find tier equals label propagation (string nodes)") {
    for (e <- Seq(hier, tricky)) {
      val local = rowsOf(Analytics.connectedComponents(e))
      val dist = distributed(rowsOf(Analytics.connectedComponents(e)))
      assert(local.nonEmpty && local == dist)
    }
  }

  test("connectedComponents: the tier honours the round cap as the loop does") {
    import spark.implicits._
    val chain = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    for (e <- Seq(chain, hier); cap <- Seq(1, 2, 64)) {
      val local = rowsOf(Analytics.connectedComponents(e, cap))
      val dist = distributed(rowsOf(Analytics.connectedComponents(e, cap)))
      assert(local == dist, s"cap $cap")
    }
    // one round: c has heard only from b
    assert(rowsOf(Analytics.connectedComponents(chain, 1)) ==
      Set(Seq("a", "a"), Seq("b", "a"), Seq("c", "b")))
  }

  test("connectedComponents: union-find tier equals label propagation (long nodes)") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (10L, 3L), (5L, 4L), (7L, 7L), (9L, 8L), (8L, 6L))
      .toDF("src", "dst")
    val local = rowsOf(Analytics.connectedComponents(e))
    val dist = distributed(rowsOf(Analytics.connectedComponents(e)))
    assert(local == dist)
    assert(local.contains(Seq(10L, 1L)) && local.contains(Seq(9L, 6L)))
  }
}
