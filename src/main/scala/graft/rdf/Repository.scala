package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Graft

/** Durable repository — the analog of the reference's
  * BigdataSailRepository over its Journal (bigdata-core/bigdata-sail/
  * src/java/com/bigdata/rdf/sail/BigdataSailRepository: connections
  * stage mutations, `commit()` seals them into the journal's next
  * commit point; read-only connections attach to any historical
  * commitTime).
  *
  *   - [[connection]] opens a [[graft.Graft]] handle on a commit
  *     point's state (default: latest). Handles are functional — SPARQL
  *     UPDATE on one produces a new in-memory handle, nothing durable.
  *   - [[commit]] persists a handle's state as the journal's next
  *     commit point. The write is DIFF-shaped (one adds segment + one
  *     dels segment, each an anti-join against the current head), so
  *     the commit's cost scales with the change, not the store — the
  *     lakehouse MERGE contract the Journal scaladoc records.
  *   - [[history]] is served by [[Journal.snapshot]]: a read-only
  *     connection against any surviving version.
  *
  * Single-writer like the reference (racing commits fail loud on the
  * journal's publish).
  */
final class Repository private (spark: SparkSession, val journal: Journal) {

  /** Latest durable commit point. */
  def version: Long = journal.version

  /** A [[Graft]] connection on commit point `v` (default: latest).
    * Mutations on the handle are in-memory until [[commit]]. A commit
    * point holding an object-hash twin ([[compact]] `ospHashTwin`)
    * serves hit→subject joins bucket-pruned out of the box. */
  def connection(v: Long = -1L): Graft = {
    val g = Graft.ofQuads(spark, journal.snapshot(v))
    journal.ospHashAt(v).fold(g)(p => g.copy(ospHash = Some(p.toString)))
  }

  /** Apply a ';'-separated SPARQL UPDATE request to the head and seal
    * its change as the next commit point. The ops run through the same
    * evaluator as every other write ([[graft.sparql.Update.applyQuads]]);
    * the commit is the change the folded store carries
    * ([[QuadStore.delta]]) — a small INSERT/DELETE DATA plans zero store
    * scans (plan-asserted in RepositorySpec), so commit cost scales
    * with the change, not the store. The reference's
    * SailConnection.commit stages the same assert/retract buffers into
    * its journal's commit point. */
  def update(request: String): Long =
    updateOps(graft.sparql.Parser.parseUpdates(request))

  /** [[update]] over ALREADY-PARSED ops — the seam protocol knobs
    * (using-graph-uri dataset injection) rewrite through. */
  def updateOps(ops: Seq[graft.sparql.UpdateOp]): Long = {
    val head = connection()
    val (adds, dels) =
      graft.sparql.Update.applyQuadsSeq(head.store, ops, head.defaultGraph).delta
    journal.commit(adds, dels)
  }

  /** Persist an OPAQUE handle's state as the next commit point and
    * return its version — the fallback for mutations not expressed as
    * an update request (e.g. a handle built from arbitrary
    * DataFrames). Diff-shaped on disk (one adds + one dels segment vs
    * the head) but the PLAN is two full-state anti-joins — an
    * O(store) double shuffle. Prefer [[update]], whose commit plans
    * only the delta; a no-op diff still publishes a (segment-free)
    * commit record, like the reference's commit of an unchanged
    * connection. */
  def commit(g: Graft): Long = {
    val cols = Seq("s", "p", "o", "g")
    val head = journal.snapshot()
    val next = g.store.quads.select(cols.head, cols.tail: _*)
    journal.commit(
      adds = next.join(head, cols, "left_anti"),
      dels = head.join(next, cols, "left_anti"))
  }

  /** Seal the head for shuffle-free steady-state reads; `ospHashTwin`
    * also lays down the object-hash access path ([[Journal.compact]]). */
  def compact(ospHashTwin: Boolean = false): Long = journal.compact(ospHashTwin)
}

object Repository {
  /** Initialize a new durable repository at `dir`. */
  def create(spark: SparkSession, dir: String): Repository =
    new Repository(spark, Journal.create(spark, dir))

  /** Reattach to an existing repository. */
  def open(spark: SparkSession, dir: String): Repository =
    new Repository(spark, Journal.open(spark, dir))
}
