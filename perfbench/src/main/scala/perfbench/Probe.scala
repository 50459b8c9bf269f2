package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters read from outside the engine: one SparkListener
  * for jobs, stages and tasks, one QueryExecutionListener for the
  * Catalyst phase times of every action. Work is attributed to an
  * operation by taking a [[Mark]] before it and [[Probe.since]] after,
  * so only single-threaded sections get exact per-op numbers; the
  * concurrent HTTP phase reads the totals over the whole window. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  private def add(k: String, v: Double): Unit = synchronized { totals(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    totals("spark.jobs") += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      jobs += ((t0, e.time)); totals("spark.job_ms") += e.time - t0
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    // first task of a stage closes its scheduling wait
    stageSubmit.remove(e.stageId).foreach(t0 =>
      totals("spark.sched_wait_ms") += math.max(0L, e.taskInfo.launchTime - t0))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    synchronized {
      stageSubmit.remove(i.stageId)
      totals("spark.stages") += 1
      totals("spark.tasks") += i.numTasks
      if (m != null) {
        totals("spark.input_rows") += m.inputMetrics.recordsRead
        totals("spark.shuffle_read_bytes") +=
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        totals("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        totals("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs.toDouble))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): this.type = {
    sc.addSparkListener(this); spark.listenerManager.register(this); this
  }

  def mark(): Probe.Mark = {
    BusDrain(sc)
    synchronized { Probe.Mark(totals.toMap, jobs.size, Probe.gcMs()) }
  }

  /** What happened since `m`: counter deltas, plus `spark.driver_gap_ms`
    * — the wall time of [t0, t1] not covered by any job's interval. */
  def since(m: Probe.Mark, t0: Long, t1: Long): Map[String, Double] = {
    val now = mark()
    val delta = now.values.map { case (k, v) => k -> (v - m.values.getOrElse(k, 0.0)) }
    val ivs = synchronized { jobs.slice(m.jobCount, now.jobCount).toVector }
    delta ++ Map(
      "spark.driver_gap_ms" -> math.max(0.0, (t1 - t0) - Probe.unionMs(ivs, t0, t1)),
      "jvm.gc_ms" -> (now.gcMs - m.gcMs))
  }
}

object Probe {
  /** Counter values and job count at one instant, after the bus drained. */
  final case class Mark(values: Map[String, Double], jobCount: Int, gcMs: Double)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var end = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
    covered.toDouble
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Live heap after a full collection, in MB. The second collection
    * comes after Spark's context cleaner has had time to drop the
    * broadcast and shuffle blocks the first one released. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One timed span of a traced run. */
final case class Span(op: Long, name: String, parent: String, startNs: Long, endNs: Long)

/** Spans kept in memory for the run and written out when it ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def apply[T](op: Long, name: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val s = Span(op, name, parent, t0, System.nanoTime())
      synchronized { buf += s }
    }
  }
  def all: Vector[Span] = synchronized { buf.toVector }
}
