package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload run in a fresh JVM:
  * {{{
  *   perfbench.Main --workload <serve_read|serve_write|analytics_batch>
  *     --seed <n> --seconds <s> --trace <0|1> --data <parquet dir>
  *     --work <scratch dir> --out <result json>
  * }}}
  * The result file carries every metric, the answer checks still to be
  * made against DuckDB, and the spans of a traced run. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val cfg = Config(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toDouble,
      trace = a("trace") == "1", data = a("data"), work = Paths.get(a("work")), cpus = cpus)
    val spark = SparkSession.builder()
      .appName(s"perfbench-${cfg.workload}")
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(s"perfbench: session ready after ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val probe = if (cfg.trace) Some(new Probe(spark).install()) else None
    val report = new Report(cfg)
    try {
      cfg.workload match {
        case "serve_read"      => new Serve(spark, cfg, report, probe, writer = false).run()
        case "serve_write"     => new Serve(spark, cfg, report, probe, writer = true).run()
        case "analytics_batch" => new Batch(spark, cfg, report, probe).run()
        case w => sys.error(s"unknown workload $w")
      }
      Files.writeString(Paths.get(a("out")), report.toJson)
    } finally spark.stop()
    // idle server and HTTP client pool threads would otherwise keep the
    // JVM alive for their keep-alive time
    System.exit(0)
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: Path, cpus: Int) {
  def deadlineAfter(t0: Long): Long = t0 + (seconds * 1e9).toLong

  /** Row count of an input table, from the generator's `sizes.json`. */
  def rows(table: String): Int =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(data, "sizes.json").toFile).get(table).asInt
}

/** An answer still to be compared with DuckDB: `sql` over the input
  * tables must give the canonical rows stored at `path` (`rows`: JSON
  * lines of string arrays in sorted-column order; `parquet`: a result
  * directory). `n` operations returned this answer. */
final case class Check(name: String, sql: String, path: String, format: String, n: Long)

/** Everything one run reports, written as one JSON document. */
final class Report(cfg: Config) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Per template / job breakdown of the layer values (traced runs). */
  val perOp = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Check]
  var attempted = 0L
  var failed = 0L
  var spans: Seq[Span] = Nil

  def addOp(op: String, vals: Map[String, Double]): Unit = {
    val m = perOp.getOrElseUpdate(op, mutable.LinkedHashMap.empty[String, Double])
    vals.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
    m("ops") = m.getOrElse("ops", 0.0) + 1
  }

  def toJson: String = Json(Map(
    "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
    "attempted" -> attempted, "failed" -> failed,
    "e2e" -> e2e, "layers" -> layers, "per_op" -> perOp, "info" -> info,
    "checks" -> checks.map(c => Map("name" -> c.name, "sql" -> c.sql, "path" -> c.path,
      "format" -> c.format, "n" -> c.n)),
    "spans" -> spans.map(s => Seq(s.op, s.name, s.parent, s.startNs, s.endNs))))
}

object Stats {
  /** Harrell-Davis estimate of the q-quantile, q in (0, 1): a weighted
    * mean of all order statistics, so a percentile of a small sample
    * (the batch's dozen jobs) does not jump when two neighbouring
    * operations swap places. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toVector.sorted
    val n = s.size
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => s(i) * (cdf((i + 1.0) / n) - cdf(i.toDouble / n))).sum
  }

  /** Plain sample median (middle value, or the mean of the middle two). */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"'  => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null => sb ++= "null"
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, v) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(v)
        }
        sb += '}'
      case xs: Iterable[_] =>
        sb += '['
        var first = true
        xs.foreach { v => if (!first) sb += ','; first = false; go(v) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
