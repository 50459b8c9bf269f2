package graft.rdf

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Immutable quad-store handle with SPARQL 1.1 graph-management
  * operations (reference: ast/CreateGraph.java:48 and siblings
  * DropGraph / CopyGraph / MoveGraph / AddGraph, evaluated in
  * ast/eval/AST2BOpUpdate.java over Blazegraph's SPOC indices).
  *
  * Functional like [[TripleStore]]: every operation returns a new
  * handle over a derived lazy plan — at production scale these are
  * lakehouse MERGE/partition operations (a named graph maps naturally
  * onto a partition of the quad table, so DROP/MOVE are metadata-level
  * partition ops, not row rewrites).
  *
  * REPRESENTATION (round 18, guide §1 "driver time is cost too"): the
  * handle keeps the base relation plus PER-GRAPH override branches
  * instead of one monolithic layered plan. The literal-graph ops
  * (DROP/COPY/MOVE/ADD/INSERT DATA/DELETE DATA) each touch one graph,
  * but the old algebra referenced the WHOLE layered store on both
  * sides of every dedup anti-join — k stacked ops nested the base view
  * 2^k times and Catalyst analysis dominated the wall (graph_mgmt_text:
  * ~3 s of driver time for 0.4 s of Spark jobs). Keying the overrides
  * by graph makes op chains grow the plan linearly and IS the
  * partition-op analog the paragraph above promises; the assembled
  * [[quads]] row SET is identical op for op.
  *
  * INVARIANT: every graph's triples form a SET — `quads` passed to the
  * constructor must be duplicate-free (RDF graphs are sets; the
  * backing views here are). insertData/LOAD dedup arbitrary incoming
  * data, and every graph-to-graph op preserves the invariant, which is
  * what lets COPY/MOVE be join-free and ADD skip a distinct. A caller
  * holding quads of UNKNOWN provenance must enter through
  * [[QuadStore.ofRaw]], which repairs duplicates once at the boundary
  * instead of every op paying a defensive distinct.
  *
  * THE CARRIED CHANGE: every op also records the `(adds, dels)` quads
  * it applied, and [[delta]] folds them into the change since the
  * handle's base (the state it was constructed or [[rebased]] at) —
  * what a journal commit writes (reference: the assert/retract buffers
  * AST2BOpUpdate stages and SailConnection.commit seals). Steps
  * compose under the cancellation law `A' = (A ∖ d) ∪ a`,
  * `D' = D ∪ d`, so `base − D ∪ A`, resolved like a journal commit
  * (dels first, adds outrank them), is the handle's state: a quad one
  * op inserts and a later op deletes leaves the change; a quad deleted
  * then re-inserted rides the add. Ground data is recorded verbatim
  * (re-inserting a present quad or tombstoning an absent one is a
  * no-op under that resolution), so a small INSERT DATA's delta plans
  * no store scan; graph-management steps are graph-sized, since that
  * IS the change. Steps are thunks: no delta DataFrame is built (and
  * analyzed) unless [[delta]] is read.
  */
final class QuadStore private (
    base: DataFrame,
    overrides: Map[String, DataFrame], // g -> that graph's (s,p,o) set
    dropped: Set[String],
    changes: Vector[QuadStore.Change]) {
  import QuadStore.{Change, Cols}

  private[graft] def sparkSession = base.sparkSession

  /** Graphs whose base rows are superseded (dropped or overridden). */
  private def masked: Set[String] = dropped ++ overrides.keySet

  /** The assembled quad relation: base minus masked graphs, plus the
    * override branches (sorted by graph name for a deterministic
    * plan). */
  lazy val quads: DataFrame = {
    val kept =
      if (masked.isEmpty) base
      else base.filter(!col("g").isin(masked.toSeq.sorted: _*))
    overrides.toSeq.sortBy(_._1).foldLeft(kept) { case (acc, (g, t)) =>
      acc.unionAll(tagged(g, t))
    }
  }

  /** The change since this handle's base as `(adds, dels)` quads, under
    * the cancellation law (class doc). Built on first read. */
  lazy val delta: (DataFrame, DataFrame) = {
    def union(x: Option[DataFrame], y: Option[DataFrame]) = (x ++ y).reduceOption(_ unionAll _)
    val (a, d) = changes.foldLeft((Option.empty[DataFrame], Option.empty[DataFrame])) {
      case ((accA, accD), c) =>
        val (ca, cd) = (c.adds.map(_()), c.dels.map(_()))
        val kept = accA.map(x => cd.fold(x)(x.join(_, Cols, "left_anti")))
        (union(kept, ca), union(accD, cd))
    }
    val none = sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), QuadStore.Schema)
    (a.getOrElse(none), d.getOrElse(none))
  }

  /** The same state with an empty change: the handle's base moves here. */
  def rebased: QuadStore = new QuadStore(base, overrides, dropped, Vector.empty)

  def graphs: DataFrame = quads.select("g").distinct()

  /** The triples of one named graph — one branch, never the whole
    * assembled store. */
  def graph(g: String): DataFrame =
    overrides.get(g) match {
      case Some(t) => t.select("s", "p", "o")
      case None if dropped(g) => base.limit(0).select("s", "p", "o")
      case None => base.filter(col("g") === lit(g)).select("s", "p", "o")
    }

  private def tagged(g: String, triples: DataFrame): DataFrame =
    triples.select(col("s"), col("p"), col("o"), lit(g).as("g"))

  /** The next handle: this one's state edited, `c` appended to its change. */
  private def next(c: Change, b: DataFrame = base,
                   ov: Map[String, DataFrame] = overrides,
                   dr: Set[String] = dropped): QuadStore =
    new QuadStore(b, ov, dr, changes :+ c)

  /** CREATE GRAPH — graphs exist implicitly when non-empty (SPARQL
    * allows empty-graph creation; a lazy view has nothing to persist,
    * so CREATE is the identity, matching CREATE SILENT semantics). */
  def createGraph(g: String): QuadStore = this

  /** DROP GRAPH g. */
  def dropGraph(g: String): QuadStore =
    next(Change.dels(tagged(g, graph(g))), ov = overrides - g, dr = dropped + g)

  /** DROP GRAPHS — every graph but `keep` (the default graph) goes. */
  def dropGraphs(keep: String): QuadStore =
    next(Change.dels(quads.filter(col("g") =!= lit(keep))),
      b = base.filter(col("g") === lit(keep)), ov = overrides.filter(_._1 == keep))

  /** ADD from TO to — union `from`'s triples into `to` (set semantics),
    * `from` unchanged; ADD g TO g is the identity on the row set. The
    * dedup anti-join is scoped to graph `to` — incoming rows can only
    * collide there, so both join sides are one graph's branch, never
    * the whole store. STORE INVARIANT: every graph's triples are a set
    * (insertData dedups arbitrary incoming data; graph-to-graph ops
    * preserve it) — so set-minus-set here needs no extra distinct. */
  def addGraph(from: String, to: String): QuadStore =
    if (from == to) this
    else {
      val src = graph(from)
      // (to ∖ from) ∪ from — same set as to ∪ (from ∖ to) with each
      // branch referenced once (linear chains; see [[insertData]])
      val merged = graph(to).join(src, Seq("s", "p", "o"), "left_anti")
        .unionAll(src)
      next(Change.adds(tagged(to, graph(from))), ov = overrides + (to -> merged))
    }

  /** COPY from TO to — `to` is replaced by `from`'s triples. The
    * replaced target cannot collide with its replacement, so COPY is
    * join-free: override `to` with `from`'s branch (at production
    * scale: a partition overwrite, no row rewrites). COPY g TO g is a
    * no-op (SPARQL 1.1 Update §3.2.3) — without the guard,
    * drop-then-recopy-from-the-dropped-graph would DELETE it. */
  def copyGraph(from: String, to: String): QuadStore =
    if (from == to) this
    else next(Change.both(tagged(to, graph(from)), tagged(to, graph(to))),
      ov = overrides + (to -> graph(from)))

  /** MOVE from TO to — COPY then DROP the source; MOVE g TO g is a
    * no-op (SPARQL 1.1 Update §3.2.4). */
  def moveGraph(from: String, to: String): QuadStore =
    if (from == to) this
    else next(
      Change.both(tagged(to, graph(from)), tagged(to, graph(to)).unionAll(tagged(from, graph(from)))),
      ov = overrides + (to -> graph(from)) - from, dr = dropped + from)

  /** INSERT DATA into a named graph (set semantics; dedup scoped to
    * the target graph like [[addGraph]]). */
  def insertData(g: String, triples: DataFrame): QuadStore = {
    val x = triples.select("s", "p", "o").distinct()
    // (g ∖ X) ∪ X — the graph branch referenced once (linear chains)
    val merged = graph(g).join(x, Seq("s", "p", "o"), "left_anti").unionAll(x)
    next(Change.adds(tagged(g, triples)), ov = overrides + (g -> merged))
  }

  /** INSERT quads that carry their OWN graph tags (the N-Quads LOAD
    * path): set semantics like [[insertData]], with the dedup anti-join
    * keyed on all four columns. The graph tags are DATA here, so the
    * per-graph override algebra cannot key them driver-side — this op
    * flattens to the assembled relation, referenced once:
    * (store ∖ X) ∪ X (at production scale only the touched graphs'
    * partitions participate). */
  def insertQuads(incoming0: DataFrame): QuadStore = {
    val incoming = incoming0.select(Cols.map(col): _*).distinct()
    next(Change.adds(incoming0.select(Cols.map(col): _*)),
      b = quads.join(incoming, Cols, "left_anti").unionAll(incoming),
      ov = Map.empty, dr = Set.empty)
  }

  /** DELETE DATA from a named graph. */
  def deleteData(g: String, triples: DataFrame): QuadStore = {
    val doomed = triples.select("s", "p", "o")
    next(Change.dels(tagged(g, doomed)),
      ov = overrides + (g -> graph(g).join(doomed, Seq("s", "p", "o"), "left_anti")))
  }

  /** DELETE quads that carry their OWN graph tags (the quad-template
    * DELETE { GRAPH g { … } } WHERE path): one anti-join keyed on all
    * four columns — graph tags are data, so this flattens like
    * [[insertQuads]]. */
  def deleteQuads(doomed0: DataFrame): QuadStore = {
    val doomed = doomed0.select(Cols.map(col): _*)
    next(Change.dels(doomed), b = quads.join(doomed, Cols, "left_anti"),
      ov = Map.empty, dr = Set.empty)
  }

  /** CLEAR ALL. */
  def clear(): QuadStore =
    next(Change.dels(quads), b = base.limit(0), ov = Map.empty, dr = Set.empty)
}

object QuadStore {
  private val Cols = Seq("s", "p", "o", "g")
  private val Schema = StructType(Cols.map(StructField(_, StringType)))

  /** One op's recorded step: the quads it added and deleted, each built
    * only when [[QuadStore.delta]] is read. */
  private[rdf] final case class Change(adds: Option[() => DataFrame],
                                  dels: Option[() => DataFrame])
  private[rdf] object Change {
    def both(a: => DataFrame, d: => DataFrame): Change = Change(Some(() => a), Some(() => d))
    def adds(a: => DataFrame): Change = Change(Some(() => a), None)
    def dels(d: => DataFrame): Change = Change(None, Some(() => d))
  }

  /** Handle over a duplicate-free quad relation (the virtual TPC-H
    * views are; journal snapshots are), with an empty change. */
  def apply(quads: DataFrame): QuadStore =
    new QuadStore(quads, Map.empty, Set.empty, Vector.empty)

  /** Boundary constructor for quads of unknown provenance: dedups ONCE
    * so the set invariant holds and every subsequent op stays
    * join-free. Use [[apply]] only for inputs already known
    * duplicate-free. */
  def ofRaw(quads: DataFrame): QuadStore = QuadStore(quads.distinct())
}
