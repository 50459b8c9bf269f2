package graft.plans

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{count, lit, when}

/** The one round loop of every distributed iteration (GAS and Pregel
  * programs, path and OWL closures, CBD, BPE training): one
  * materialization per round with the convergence test riding on it,
  * Pregelix's superstep discipline. The tier choice stays with each
  * operator: its [[LocalTier]] probe runs before the loop. */
object Fixpoint {

  private val metricIds = new AtomicLong()

  /** `df` localCheckpointed, with the number of its rows where
    * `counted` holds. The count is an observed metric computed inside
    * the checkpoint's own job and read off that job's query execution
    * on this thread: no job of its own, no wait on the listener bus.
    * Should the optimizer drop the metric, one `count()` stands in. */
  def materialize(df: DataFrame, counted: Column = lit(true)): (DataFrame, Long) = {
    val name = s"graft.fixpoint.${metricIds.incrementAndGet()}"
    val observed = df.observe(name, count(when(counted, lit(1))))
    val cp = observed.localCheckpoint()
    val n = observed.queryExecution.observedMetrics.get(name)
      .fold(cp.filter(counted).count())(_.getLong(0))
    (cp, n)
  }

  /** Runs `round(1)`, `round(2)`, … until a round returns false or
    * `cap` rounds have run; returns the rounds run and whether the body
    * stopped the loop. Round i's Spark jobs carry the job description
    * "<label> round <i>" ([[Jobs.span]]): the caller's description is
    * restored after each round, and its job group (so its
    * cancellation) is untouched. */
  def loop(label: String, cap: Int)(round: Int => Boolean): (Int, Boolean) = {
    var i = 0
    var going = true
    while (going && i < cap) {
      i += 1
      going = Jobs.span(s"$label round $i")(round(i))
    }
    (i, !going)
  }

  /** [[loop]] for a fixpoint that must be reached: at the cap it fails
    * loudly, naming the label — a truncated closure is a wrong answer.
    * Returns the rounds run. */
  def converge(label: String, cap: Int)(round: Int => Boolean): Int = {
    val (rounds, done) = loop(label, cap)(round)
    require(done, s"$label did not converge in $cap rounds")
    rounds
  }
}
