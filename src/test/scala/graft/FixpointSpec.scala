package graft

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.gas.Analytics
import graft.plans.Fixpoint
import graft.rdf.Rdr
import graft.sparql.{Compiler, TripleSource}

/** [[Fixpoint]]: the observed count of [[Fixpoint.materialize]], the
  * cap and the round labels of [[Fixpoint.loop]], and the exact job
  * counts of the distributed loops that run on it. */
class FixpointSpec extends AnyFunSuite with TimeLimits {
  import TestSpark.{distributed, spark}
  import spark.implicits._

  private implicit val signaler: Signaler = ThreadSignaler

  test("materialize: the observed count equals count(), without waiting, AQE on and off") {
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "empty" -> (() => spark.range(0).toDF("n")),
      "no columns" -> (() => spark.emptyDataFrame),
      "local seed" -> (() => Seq(("a", 1), ("b", 2), ("c", 3)).toDF("x", "n")),
      "folded to empty" -> (() => Seq(("a", 1)).toDF("x", "n").filter(lit(false))),
      "shuffled" -> (() => spark.range(100).select((col("id") % 7).as("n")).distinct()))
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try for ((name, df) <- frames) failAfter(Span(60, Seconds)) {
        val (cp, n) = Fixpoint.materialize(df())
        assert(n == df().count() && cp.count() == n, s"$name, AQE $aqe")
        if (df().columns.contains("n")) {
          val (_, odd) = Fixpoint.materialize(df(), col("n") % 2 === 1)
          assert(odd == df().filter(col("n") % 2 === 1).count(), s"$name counted, AQE $aqe")
        }
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("loop: stops quietly at the cap; converge fails loudly, naming the label") {
    assert(Fixpoint.loop("spec.quiet", 3)(_ => true) == ((3, false)))
    assert(Fixpoint.loop("spec.quiet", 3)(_ < 2) == ((2, true)))
    assert(Fixpoint.loop("spec.quiet", 0)(_ => true) == ((0, false)))
    assert(Fixpoint.converge("spec.loud", 3)(_ < 3) == 3)
    val ex = intercept[IllegalArgumentException](Fixpoint.converge("spec.loud", 3)(_ => true))
    assert(ex.getMessage.contains("spec.loud") && ex.getMessage.contains("3 rounds"))
    // operators: bfs stops at its depth bound, the closure fails loudly
    val chain = (0 until 6).map(i => (s"v$i", s"v${i + 1}"))
    distributed {
      val depths = Analytics.bfs(chain.toDF("src", "dst"), "v0", maxDepth = 2)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(depths == Map("v0" -> 0, "v1" -> 1, "v2" -> 2))
      val tc = intercept[IllegalArgumentException](
        Compiler.transitiveClosure(chain.toDF("from", "to"), maxIters = 2))
      assert(tc.getMessage.contains("path.closure"), tc.getMessage)
    }
  }

  test("loop: round jobs carry '<label> round <i>'; the caller's group and description survive") {
    val sc = spark.sparkContext
    val recorder = Harness.recorder(spark)
    sc.setJobGroup("spec.group", "spec.outer")
    try {
      val (_, jobs) = recorder.record {
        Fixpoint.loop("spec.labelled", 3) { i =>
          spark.range(10).filter(col("id") < i).collect()
          true
        }
      }
      val sites = jobs.map(_.callSite)
      assert(sites.count(_ == "spec.labelled round 2") >= 1, sites)
      assert(sites.filter(_.startsWith("spec.labelled")).toSet ==
        Set(1, 2, 3).map(i => s"spec.labelled round $i"), sites)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "spec.group")
      assert(sc.getLocalProperty("spark.job.description") == "spec.outer")
    } finally sc.clearJobGroup()
  }

  // fixed small inputs for the job-count pins
  private lazy val tricky = Seq(
    ("a", "b", 1.0), ("a", "c", 1.0), ("b", "d", 1.0), ("c", "d", 1.0),
    ("a", "d", 2.0), ("d", "e", 0.5), ("d", "e", 0.5), ("b", "e", 1.5),
    ("e", "f", 1.0), ("c", "f", 2.5), ("x", "y", 1.0), ("f", "a", 3.0)
  ).toDF("src", "dst", "weight")
  private lazy val k4Chain = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
    ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f")).toDF("src", "dst")
  private lazy val step =
    Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "f")).toDF("from", "to")
  private lazy val rdr = {
    val base = Seq(("n:1", "name", "Alice"), ("n:1", "knows", "n:2"),
      ("n:2", "name", "Bob"), ("n:1", "age", "30"), ("n:3", "name", "Carol"))
      .toDF("s", "p", "o")
    val meta = Rdr.annotate(base.filter($"s" =!= "n:3"), "source", lit("web"))
    val quoted = Seq(("n:1", "said", Rdr.sidOf("n:2", "name", "Bob"))).toDF("s", "p", "o")
    TripleSource.plain(Seq(base, meta, Rdr.annotate(meta, "confidence", lit(0.9)), quoted)
      .reduce(_ unionAll _))
  }

  test("distributed loops: exact job counts on fixed small graphs") {
    val recorder = Harness.recorder(spark)
    def jobs(body: => Any): Int = {
      body // warm: the first run may plan differently
      recorder.record(body)._2.size
    }
    // one entry per loop: the operator call plus collecting its result.
    // AQE is off here: with it on, a round's concurrently submitted
    // shuffle stages can be re-planned in whichever order they finish
    // (kCore measured 23, 24 or 25 jobs), while a static plan runs the
    // same jobs every time.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val counts = try distributed(Seq(
      "bfs" -> jobs(Analytics.bfs(tricky, "a").collect()),
      "sssp" -> jobs(Analytics.sssp(tricky, "a").collect()),
      "cc" -> jobs(Analytics.connectedComponents(tricky).collect()),
      "kCore" -> jobs(Analytics.kCore(k4Chain, 2).collect()),
      "transitiveClosure" -> jobs(Compiler.transitiveClosure(step).collect()),
      "reachFrom" -> jobs(Compiler.reachFrom(step, Seq("a").toDF("node"), forward = true).collect()),
      "cbdLoop" -> jobs(Rdr.cbdLoop(rdr, "n:1", 10).collect())))
    finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(counts.toMap == Map("bfs" -> 12, "sssp" -> 14, "cc" -> 11, "kCore" -> 12,
      "transitiveClosure" -> 16, "reachFrom" -> 17, "cbdLoop" -> 17), counts)
  }
}
