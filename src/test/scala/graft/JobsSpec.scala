package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Jobs

/** [[graft.plans.Jobs]], the one owner of Spark's job properties: its
  * scopes, and the concurrent builds (the search-index staging) that
  * cancel each other. */
class JobsSpec extends AnyFunSuite {
  import TestSpark.spark

  test("group and span restore the caller's properties; fork carries them") {
    val sc = spark.sparkContext
    def props() = (Jobs.current, Option(sc.getLocalProperty("spark.job.description")))
    assert(props() == ((None, None)))
    Jobs.group("spec.outer") {
      Jobs.span("spec.label") {
        Jobs.group("spec.inner")(assert(props() == ((Some("spec.inner"), Some("spec.label")))))
        assert(Jobs.fork(props())() == ((Some("spec.outer"), Some("spec.label"))))
      }
      assert(props() == ((Some("spec.outer"), None)))
    }
    assert(props() == ((None, None)))
  }

  test("staging: the first failed build cancels the others instead of waiting for them") {
    val slowMs = 30000L
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException](Jobs.concurrently(Seq(
      "slow" -> (() => spark.sparkContext.parallelize(0 until 2, 2).foreach(_ => Thread.sleep(slowMs))),
      "failing" -> (() => { Thread.sleep(1000); sys.error("spec build failed") }))))
    val ms = (System.nanoTime() - t0) / 1000000
    assert(e.getMessage == "spec build failed")
    // the call returns once the cancelled build has ended
    assert(ms < slowMs / 3, s"$ms ms")
  }
}
