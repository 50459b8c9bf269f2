package graft.plans

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, FutureTask}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one owner of Spark's thread-local job properties: the
  * description a job is labelled with ([[span]]) and the job group
  * that can cancel it ([[group]]). Each scope restores the caller's
  * values when it exits. A thread started here carries its starter's
  * values, since Spark copies them into every thread a thread starts;
  * a pooled thread started elsewhere (the common ForkJoin pool's, say)
  * carries none, so its jobs could be neither told apart nor
  * cancelled. */
private[graft] object Jobs {

  private val Description = "spark.job.description"
  private val Group = "spark.jobGroup.id"
  private val Interrupt = "spark.job.interruptOnCancel"

  private def sc: SparkContext = SparkSession.active.sparkContext

  /** `body` with its jobs described as `label`; the job group is untouched. */
  def span[A](label: String)(body: => A): A = scoped(Description -> label)(body)

  /** `body` in the cancellable job group `id`; the description is untouched. */
  def group[A](id: String)(body: => A): A = scoped(Group -> id, Interrupt -> "true")(body)

  /** This thread's job group, if it runs in one. */
  def current: Option[String] = Option(sc.getLocalProperty(Group))

  /** Interrupts group `id`'s running jobs; any job it submits later fails at once. */
  def cancel(id: String): Unit = {
    val c = sc
    Cancelled.add(c, id)
    c.cancelJobGroupAndFutureJobs(id)
  }

  /** Spark fails a cancelled group's later jobs as they are submitted,
    * except the shuffle-stage jobs an adaptive plan submits: this
    * listener cancels those as they start, for the last 1000 groups
    * cancelled. */
  private object Cancelled extends SparkListener {
    private var on: SparkContext = _
    private val ids = java.util.Collections.newSetFromMap(
      new java.util.LinkedHashMap[String, java.lang.Boolean] {
        override def removeEldestEntry(e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
          size > 1000
      })
    def add(c: SparkContext, id: String): Unit = synchronized {
      if (on ne c) { c.addSparkListener(this); on = c }
      ids.add(id)
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      Option(js.properties).flatMap(p => Option(p.getProperty(Group))).filter(ids.contains)
        .foreach(g => on.cancelJob(js.jobId, s"part of cancelled job group $g"))
    }
  }

  /** Starts `body` on a new thread in this thread's group and
    * description; the function returned awaits its value or failure. */
  def fork[A](body: => A): () => A = {
    val task = new FutureTask[A](() => body)
    val t = new Thread(task, "graft-fork")
    t.setDaemon(true)
    t.start()
    () => try task.get() catch { case e: ExecutionException => throw e.getCause }
  }

  /** Runs the independent labelled `tasks` at once, each in its own
    * group. The first failure cancels the others' groups and is
    * rethrown once every task has ended, so none is left submitting
    * jobs behind the caller. */
  def concurrently(tasks: Seq[(String, () => Unit)]): Unit = {
    val pool = Executors.newFixedThreadPool(tasks.size max 1)
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      val groups = tasks.map { case (label, f) =>
        val id = UUID.randomUUID().toString
        done.submit(new Callable[Unit] { def call(): Unit = group(id)(span(label)(f())) }) -> id
      }.toMap
      var first = Option.empty[Throwable]
      groups.foreach { _ =>
        val f = done.take()
        try f.get() catch {
          case e: ExecutionException if first.isEmpty =>
            first = Some(e.getCause)
            (groups - f).values.foreach(cancel)
          case _: ExecutionException => ()
        }
      }
      first.foreach(e => throw e)
    } finally pool.shutdown()
  }

  private def scoped[A](props: (String, String)*)(body: => A): A = {
    val c = sc
    val outer = props.map { case (k, _) => k -> c.getLocalProperty(k) }
    props.foreach { case (k, v) => c.setLocalProperty(k, v) }
    try body finally outer.foreach { case (k, v) => c.setLocalProperty(k, v) }
  }
}
