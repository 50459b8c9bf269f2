package graft

import org.apache.spark.sql.functions.{array, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorExprs

/** The shared session [[Harness]] builds (the suites' `local[4]` one)
  * and its job recorder. */
class HarnessSpec extends AnyFunSuite {
  import TestSpark.spark

  test("session: graft functions resolve in plain SQL, UTC, one shuffle partition per core") {
    val sql = spark.sql("SELECT simhash64(array('spark', 'graph'))").head().getLong(0)
    val api = spark.range(1).select(VectorExprs.simhash64(array(lit("spark"), lit("graph"))))
    assert(sql == api.head().getLong(0))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("recorder: building a DataFrame runs no job; a noop write of a range runs one") {
    val recorder = Harness.recorder(spark)
    try {
      val (df, built) = recorder.record(spark.range(10).selectExpr("id * 2 AS x"))
      assert(built.isEmpty)
      val (_, written) = recorder.record(df.write.format("noop").mode("overwrite").save())
      assert(written.size == 1, written)
      val job = written.head
      assert(job.stages == 1 && job.tasks >= 1 && job.ms >= 0, job)
      assert(job.callSite.contains("HarnessSpec.scala"), job)
    } finally spark.sparkContext.removeSparkListener(recorder)
  }
}
