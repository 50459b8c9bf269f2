package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Per-query diagnostics: `runMain graft.Explain <q1,q2,…> [sfDir]`.
  *
  * For each query it prints the formatted physical plan (scan
  * PushedFilters and ReadSchema, joins, exchanges), then runs the query
  * a second time, warm, into a `noop` sink and prints that run's wall
  * time, its job, stage and task totals and one line per Spark job with
  * the job's wall time and call site. The warm run includes building
  * the DataFrame, which runs jobs of its own for the iterative
  * operators. Conf overrides are `spark.*` JVM system properties (see
  * [[Harness]]). */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Harness.session()
    Harness.warmUp(spark, dir)
    val recorder = Harness.recorder(spark)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      try {
        println(s"== $name")
        val cold = SparkEntry.queries(name)(spark, dir)
        cold.explain("formatted")
        noop(cold)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val (sec, jobs) = recorder.record {
          val t0 = System.nanoTime()
          noop(SparkEntry.queries(name)(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }
        println(f"== $name: warm noop $sec%.3f s, ${jobs.size} jobs, " +
          s"${jobs.map(_.stages).sum} stages, ${jobs.map(_.tasks).sum} tasks")
        jobs.foreach(j => println(f"  job ${j.id}%-5d ${j.ms / 1e3}%7.3f s " +
          f"${j.stages}%3d stages ${j.tasks}%5d tasks  ${j.callSite}"))
      } catch { case NonFatal(e) =>
        println(s"== $name: FAILED ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
