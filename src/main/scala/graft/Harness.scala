package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The one local session every entry point runs on — Bench, Verify,
  * Explain, `BulkLoad`, `ScaleUp`, `FedBench` and the test suites —
  * plus Bench's warm-up and one job recorder.
  *
  * The session runs `local[n]` with n shuffle partitions, where n is
  * `SPARK_GRAFT_CPUS` or else the machine's core count. It carries
  * [[graft.functions.GraftExtensions]], the UTC session time zone,
  * nanosecond parquet timestamps read as longs (older testdata ships
  * `events.ts` as TIMESTAMP(NANOS); `TpchRdf.tsNanos` normalizes either
  * way), no UI and WARN logging. Any `spark.*` JVM system property
  * overrides these or adds to them, e.g. `-Dspark.sql.adaptive.enabled=false`. */
object Harness {

  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(n: Int = cores): SparkSession = {
    val conf = new SparkConf() // loads the spark.* system properties
      .setIfMissing("spark.master", s"local[$n]")
      .setIfMissing("spark.sql.shuffle.partitions", n.toString)
      .setIfMissing("spark.sql.extensions", "graft.functions.GraftExtensions")
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.sql.legacy.parquet.nanosAsLong", "true")
      .setIfMissing("spark.ui.enabled", "false")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads every table's parquet footers and runs `q1_agg` once, so
    * the first timed query does not absorb the cold reads and the JIT.
    * Missing tables and failures are ignored. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach(t => try spark.read.parquet(s"$sfDir/$t.parquet").count()
                    catch { case NonFatal(_) => () })
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case NonFatal(_) => () }
  }

  /** One finished Spark job: completed stages, ended tasks, wall time
    * from submission to end, and its call site — that of the SQL action
    * that ran it (a broadcast or an adaptive query stage runs on a pool
    * thread), else that of its result stage. A SQL action reports the
    * job description in place of its call site, so a
    * [[graft.plans.Fixpoint]] round's jobs read "gas.bfs round 3".
    * `group` is the job group it ran in ([[graft.plans.Jobs]]), if any. */
  final case class Job(id: Int, stages: Int, tasks: Int, ms: Long, callSite: String,
                       group: Option[String])

  /** Records every job of `spark`'s context; [[Recorder.record]] returns
    * the jobs one block ran. */
  def recorder(spark: SparkSession): Recorder = {
    val r = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(r)
    r
  }

  final class Recorder private[Harness] (sc: SparkContext) extends SparkListener {
    private val MarkerKey = "graft.recorder.marker"
    private val pending = new ConcurrentHashMap[String, CountDownLatch]()
    private val done = ArrayBuffer.empty[Job] // guarded by itself
    // the rest is touched only by the listener thread
    private final class Open(val start: Long, val stageIds: Seq[Int], val callSite: String,
                             val group: Option[String]) {
      var stages = 0
      var tasks = 0
    }
    private val open = mutable.Map.empty[Int, Open]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val markers = mutable.Map.empty[Int, CountDownLatch]
    private val executions = mutable.Map.empty[String, String] // SQL execution id → call site

    /** Runs `body` and returns its value with the jobs it ran, in the
      * order they ended. Before and after `body`, one marker job drains
      * the listener: its end event arrives after every earlier job's. */
    def record[A](body: => A): (A, Seq[Job]) = {
      drain()
      val from = done.synchronized(done.size)
      val out = body
      drain()
      (out, done.synchronized(done.drop(from).toSeq))
    }

    private def drain(): Unit = {
      val token = java.util.UUID.randomUUID().toString
      val latch = new CountDownLatch(1)
      pending.put(token, latch)
      sc.setLocalProperty(MarkerKey, token)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      try require(latch.await(60, TimeUnit.SECONDS), "job recorder: no end event for the marker job")
      finally pending.remove(token)
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      def prop(key: String) = Option(js.properties).flatMap(p => Option(p.getProperty(key)))
      prop(MarkerKey) match {
        case Some(token) => // another recorder's marker is no job of ours either
          Option(pending.get(token)).foreach(markers(js.jobId) = _)
        case None =>
          js.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = js.jobId)
          val site = prop("spark.sql.execution.id").flatMap(executions.get)
            .getOrElse(js.stageInfos.maxByOption(_.stageId).fold("")(_.name))
          open(js.jobId) = new Open(js.time, js.stageIds, site, prop("spark.jobGroup.id"))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions(s.executionId.toString) = s.description
      case s: SparkListenerSQLExecutionEnd => executions -= s.executionId.toString
      case _ => ()
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      job(s.stageInfo.stageId).foreach(_.stages += 1)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      job(t.stageId).foreach(_.tasks += 1)

    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      markers.remove(je.jobId).foreach(_.countDown())
      open.remove(je.jobId).foreach { o =>
        o.stageIds.foreach(s => if (stageJob.get(s).contains(je.jobId)) stageJob -= s)
        done.synchronized {
          done += Job(je.jobId, o.stages, o.tasks, je.time - o.start, o.callSite, o.group)
        }
      }
    }

    private def job(stageId: Int): Option[Open] = stageJob.get(stageId).flatMap(open.get)
  }
}
