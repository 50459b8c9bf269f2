package graft

import org.apache.spark.sql.SparkSession
import graft.plans.LocalTier

/** One shared local session for all suites. */
object TestSpark {
  val SF = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with every small-input tier off (all three
    * `*.localBound` keys at 0), so each operator takes its distributed
    * loop — the `*LocalTierSpec`s compare that against the default. */
  def distributed[A](body: => A): A = {
    val keys = Seq(LocalTier.Gas, LocalTier.Inference, LocalTier.Path).map(_.key)
    keys.foreach(spark.conf.set(_, "0"))
    try body finally keys.foreach(spark.conf.unset)
  }
}
