package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.rdf.TpchRdf

/** analytics_batch: one driver thread runs a fixed job list through
  * `SparkEntry.queries`, each job's result collected to the driver.
  *
  *  - gas_small: GAS programs on the hierarchy graph, below the
  *    driver-tier bound, so the driver tier runs.
  *  - gas_large: BFS with the tier bound set to 0, so the distributed
  *    loop runs (`spark.graft.gas.localBound`).
  *  - closure: RDFS / OWL / truth maintenance closures and a
  *    transitive property path.
  *  - pipeline: MinHash dedup, tokenizer training, text quality and
  *    the persisted full-text index.
  *
  * Passes over the list repeat until the window ends (at least one).
  * Each result is collected to the driver — what a client receives —
  * and the last pass's results are checked against DuckDB afterwards. */
final class Batch(spark: SparkSession, cfg: Config, report: Report, probe: Option[Probe]) {
  private val SetupRepeats = 3
  private val spans = new Spans

  private final case class Job(name: String, group: String, query: String, loop: Boolean)

  private val jobs: Seq[Job] =
    Seq("gas_bfs", "gas_pr", "gas_cc").map(q => Job(q, "gas_small", q, false)) ++
      Seq(Job("gas_bfs@loop", "gas_large", "gas_bfs", true)) ++
      Seq("rdfs_closure", "owl_closure", "path_transitive", "tm_dynamic")
        .map(q => Job(q, "closure", q, false)) ++
      Seq("dedup_minhash_lsh", "tokenize_bpe", "text_quality", "fulltext_persisted")
        .map(q => Job(q, "pipeline", q, false))

  /** Layer family of a job's call and materialize times. */
  private def family(j: Job): String = j.group match {
    case "gas_small" | "gas_large" => "gas"
    case "closure" => "inference"
    case _ if j.query == "fulltext_persisted" => "search"
    case _ => "pipeline"
  }

  private def call(j: Job): DataFrame = {
    val key = "spark.graft.gas.localBound"
    if (j.loop) spark.conf.set(key, "0")
    try SparkEntry.queries(j.query)(spark, cfg.data)
    finally if (j.loop) spark.conf.unset(key)
  }

  def run(): Unit = {
    report.info("jobs") = jobs.map(_.name)
    report.info("hierarchy_edges") =
      graft.queries.GasQueries.hierEdges(spark, cfg.data).count()

    // ---- set-up, repeated: the full RDF quad view, materialized ----
    val setups = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      TpchRdf.quads(spark, cfg.data).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    report.e2e("setup_s") = Stats.median(setups)
    report.info("setup_samples_s") = setups

    var heapMb = Probe.heapAfterGcMb()

    // ---- timed passes: each job's result collected to the driver ----
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val answers = mutable.Map.empty[String, (Array[Row], StructType)]
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    val deadline = cfg.deadlineAfter(t0)
    val gc0 = Probe.gcMs()
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      jobs.foreach { j =>
        val m = probe.map(_.mark())
        val w0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val op = attempted
        attempted += 1
        scala.util.Try(spans(op, j.name, "") {
          val df = spans(op, "call", j.name)(call(j))
          val s1 = System.nanoTime()
          val rows = spans(op, "materialize", j.name)(df.collect())
          (df.schema, rows, s1, System.nanoTime())
        }) match {
          case scala.util.Success((schema, rows, s1, s2)) =>
            times.getOrElseUpdate(j.name, mutable.ArrayBuffer.empty) += (s2 - s0) / 1e6
            answers(j.name) = (rows, schema)
            probe.zip(m).foreach { case (p, mk) =>
              val d = p.since(mk, w0, System.currentTimeMillis())
              val f = family(j)
              report.addOp(j.name, d ++ Map(
                s"$f.call_ms" -> (s1 - s0) / 1e6, s"$f.materialize_ms" -> (s2 - s1) / 1e6,
                "result_rows" -> rows.length.toDouble))
            }
          case scala.util.Failure(e) =>
            failed += 1
            System.err.println(s"job ${j.name} failed: $e")
        }
      }
      passes += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcMs = Probe.gcMs() - gc0
    heapMb = math.max(heapMb, Probe.heapAfterGcMb())
    report.attempted = attempted
    report.failed = failed

    // ---- answer checks: the last pass's results, to parquet for DuckDB ----
    val out = Files.createDirectories(cfg.work.resolve("answers"))
    val w0 = System.nanoTime()
    jobs.foreach { j =>
      answers.get(j.name).foreach { case (rows, schema) =>
        val path = out.resolve(j.name.replace('@', '_')).toString
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(path)
        report.checks += Check(j.name, SparkEntry.oracleSql(j.query), path, "parquet", 1)
      }
    }

    System.err.println(f"perfbench: $passes pass(es) in $wallS%.2f s, answers written in ${
      (System.nanoTime() - w0) / 1e9}%.2f s")

    val all = times.values.flatten.toVector
    report.e2e("p50_ms") = Stats.quantile(all, 0.5)
    report.e2e("p90_ms") = Stats.quantile(all, 0.9)
    report.e2e("ops_per_s") = all.size / wallS
    report.e2e("heap_peak_mb") = heapMb
    report.info ++= Map("passes" -> passes, "samples" -> all.size, "window_s" -> wallS)

    // per job: median over passes; per group: their sum
    val med = times.map { case (k, v) => k -> Stats.median(v.toSeq) }
    report.info("job_median_ms") = med
    report.info("job_times_ms") = times
    val L = report.layers
    def groupS(g: String) = jobs.filter(_.group == g).flatMap(j => med.get(j.name)).sum / 1000
    L("batch_s") = med.values.sum / 1000
    L("gas_small_s") = groupS("gas_small")
    L("gas_large_s") = groupS("gas_large")
    L("closure_s") = groupS("closure")
    L("pipeline_s") = groupS("pipeline")
    L("jvm.gc_ms") = gcMs / all.size
    probe.foreach { _ => layerMeans(); report.spans = spans.all }
  }

  /** Per-layer values of a traced run: means per job execution, over the
    * jobs the layer applies to. */
  private def layerMeans(): Unit = {
    val L = report.layers
    val ops = report.perOp.values.toVector
    val n = ops.map(_("ops")).sum
    def total(k: String) = ops.map(_.getOrElse(k, 0.0)).sum
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.job_ms", "spark.driver_gap_ms",
      "spark.sched_wait_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
      "spark.spill_bytes", "catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms").foreach(k => L(k) = total(k) / n)
    def famMean(f: String, k: String): Double = {
      val fo = ops.filter(_.contains(s"$f.call_ms"))
      val c = fo.map(_("ops")).sum
      if (c == 0) 0.0 else fo.map(_.getOrElse(k, 0.0)).sum / c
    }
    L("gas.call_ms") = famMean("gas", "gas.call_ms")
    L("gas.materialize_ms") = famMean("gas", "gas.materialize_ms")
    L("gas.jobs") = famMean("gas", "spark.jobs")
    L("inference.call_ms") = famMean("inference", "inference.call_ms")
    L("inference.jobs") = famMean("inference", "spark.jobs")
    L("pipeline.call_ms") = famMean("pipeline", "pipeline.call_ms")
    L("pipeline.materialize_ms") = famMean("pipeline", "pipeline.materialize_ms")
    L("search.call_ms") = famMean("search", "search.call_ms")
    L("spark.input_rows_per_result_row") =
      total("spark.input_rows") / math.max(1.0, total("result_rows"))
  }
}
