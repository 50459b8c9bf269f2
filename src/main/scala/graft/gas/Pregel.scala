package graft.gas

import org.apache.spark.sql.DataFrame
import graft.plans.Fixpoint

/** Generic DataFrame-Pregel loop — the user-extension point for custom
  * GAS programs (reference: bigdata-gas `IGASProgram`, which users
  * implement for algorithms beyond the shipped BFS/SSSP/CC/PR; here a
  * program is one `superstep` function over DataFrames).
  *
  * A superstep maps (state, edges, iteration) → next state. Both loops
  * run on [[graft.plans.Fixpoint]], as the shipped [[Analytics]] loops
  * do: each state is localCheckpointed (lineage truncation — reliable
  * checkpoints on a cluster) with its row count observed in the same
  * job, and the loop stops when a superstep is a no-op or at `maxIter`.
  */
object Pregel {

  def run(edges: DataFrame, initial: DataFrame, maxIter: Int = 64)(
      superstep: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val e = edges.localCheckpoint()
    var (state, size) = Fixpoint.materialize(initial)
    Fixpoint.loop("pregel.run", maxIter) { i =>
      val (next, n) = Fixpoint.materialize(superstep(state, e, i))
      // multiset equality: a size change is a change (a purely
      // shrinking superstep, e.g. k-core peeling, included); at equal
      // sizes a one-sided exceptAll decides
      val changed = n != size || !next.exceptAll(state).isEmpty
      state = next
      size = n
      changed
    }
    state
  }

  /** Delta-reporting variant: the superstep maps (state, frontier,
    * edges, iteration) → (next state, next frontier) where the frontier
    * is the DELTA — the vertices whose state changed this superstep
    * (the GAS scheduler set). Convergence = empty frontier, read off
    * the frontier's own checkpoint instead of [[run]]'s full-state
    * compare; a round with an empty frontier leaves the state as it
    * was. Programs that cannot produce their delta cheaply should keep
    * using [[run]]; a WRONG frontier (under-reporting changes)
    * terminates early with a wrong answer, so the contract is on the
    * program. */
  def runDelta(edges: DataFrame, initial: DataFrame, maxIter: Int = 64)(
      superstep: (DataFrame, DataFrame, DataFrame, Int) => (DataFrame, DataFrame)): DataFrame = {
    val e = edges.localCheckpoint()
    var (state, seeds) = Fixpoint.materialize(initial)
    var frontier = state
    if (seeds > 0) Fixpoint.loop("pregel.runDelta", maxIter) { i =>
      val (nextState, nextFrontier) = superstep(state, frontier, e, i)
      val (delta, n) = Fixpoint.materialize(nextFrontier)
      if (n > 0) { state = nextState.localCheckpoint(); frontier = delta }
      n > 0
    }
    state
  }
}
