package graft.gom

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.rdf.{QuadStore, Rdr, Repository}

/** The Generic Object Model — Blazegraph's `bigdata-gom` module
  * (reference: bigdata-core/bigdata-gom/src/java/com/bigdata/gom/)
  * re-expressed over the Spark-native store.
  *
  * GOM is an object-graph façade: a [[Gpo]] ("generic persistent
  * object", IGPO.java) is a resource with a loosely-typed property
  * set; resource-valued properties model directed associations whose
  * reverse navigation aggregates into [[LinkSet]]s (ILinkSet.java);
  * an [[ObjectManager]] (om/ObjectManager.java, om/ObjectMgrModel
  * .java) canonicalizes GPOs, batches writes under native
  * transactions, and evaluates SPARQL against the same state.
  * Behavior extension is by "skins" ([[GenericSkin]], gpo/BasicSkin
  * .java, skin/GenericSkinRegistry.java), never by subclassing.
  *
  * Spark-native design — the reference materializes each GPO with a
  * DESCRIBE against its B+Tree indices and buffers dirty objects on
  * the connection (ObjectMgrModel's dirty list + native transaction
  * counter). Here:
  *
  *   - **Materialization is batched**: [[ObjectManager.initGPOs]] /
  *     [[ObjectManager.materializeAll]] fetch the forward AND reverse
  *     statements of MANY resources with ONE Spark job (an `isin`
  *     filter over the quad view — at production scale a semi-join
  *     against a pushed id list). Navigating a materialized GPO never
  *     runs a job; per-object `materialize()` exists for parity but a
  *     loop over it is the anti-pattern the batch API removes.
  *   - **Writes are delta-sized plans**: mutators update the
  *     in-memory GPO immediately (read-your-writes) and buffer exact
  *     statement deltas on the manager; the outermost
  *     `commitNativeTransaction` flushes ONE new store handle — a
  *     broadcast anti-join for the removes plus a set-semantics union
  *     for the adds (the [[graft.rdf.TripleStore]] discipline; a
  *     lakehouse MERGE at production scale). Nothing store-sized
  *     shuffles on account of an object write.
  *   - Outside a native transaction each mutation auto-commits (the
  *     reference's unisolated-connection behavior); transactions are
  *     the batching lever.
  *   - **Durable mode** ([[ObjectManager.durable]] over a
  *     [[graft.rdf.Repository]] — the reference GOM persists through
  *     its SAIL connection the same way): the outermost commit seals
  *     the buffered delta as the journal's next commit point. The
  *     commit writes the EXACT delta the manager already holds — adds
  *     anti-joined against the delta-subjects slice, removes/removed
  *     resources as broadcast semi-join/filter slices of the head —
  *     one head pass, no O(store) diff (the [[Repository.commit]]
  *     fallback's double anti-join is exactly what having the delta
  *     avoids).
  */
final class ObjectManager private (initial: Graft, repo: Option[Repository]) {

  private[gom] var g: Graft = initial
  private val spark: SparkSession = initial.spark

  // canonical GPO per resource within this manager's scope
  // (IObjectManager.getGPO: "canonical ... and never null")
  private val table = mutable.LinkedHashMap.empty[String, Gpo]

  // native transaction state (om/INativeTransaction.java: a nesting
  // COUNTER, not real isolation — begin increments, the matching
  // outermost commit flushes)
  private var txDepth = 0

  // buffered statement delta (ObjectMgrModel's dirty-object list,
  // kept as exact triples so the flush is two delta-keyed plans)
  private[gom] val pendingAdds = mutable.LinkedHashSet.empty[(String, String, String)]
  private[gom] val pendingRemoves = mutable.LinkedHashSet.empty[(String, String, String)]
  // IGPO.remove(): drop the object AND every link to it — compiles to
  // a constant-list filter, not a join (MutableGraph.removeVertex)
  private[gom] val pendingRemovedResources = mutable.LinkedHashSet.empty[String]

  private var nextId = 0
  // per-manager scope for minted ids (the reference's UUID-based
  // IIDGenerator): two managers — or two SESSIONS over one durable
  // repository — must never mint colliding `gpo:#…` ids, or a "new"
  // object would silently merge with a previously persisted one
  private val idScope =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)
  private var closed = false

  private def checkOpen(): Unit =
    if (closed) throw new IllegalStateException("ObjectManager is closed")

  /** Canonical [[Gpo]] for a resource id (IObjectManager.getGPO). */
  def getGPO(id: String): Gpo = {
    checkOpen()
    table.getOrElseUpdate(id, new Gpo(this, id))
  }

  /** The canonical GPO iff this manager has already interned one —
    * used by write fix-ups, which must not grow the object table with
    * a handle per literal value ever written. */
  private[gom] def peek(id: String): Option[Gpo] = table.get(id)

  /** The GPO of a STATEMENT — sids mode (IObjectManager
    * getGPO(Statement)): the statement's deterministic [[Rdr]] id, so
    * metadata statements about it are its property set. */
  def getGPO(s: String, p: String, o: String): Gpo = getGPO(Rdr.sidOf(s, p, o))

  /** Mint a new object with an automatic `gpo:#<scope>-<n>` id
    * (IObjectManager.createGPO over the UUID-scoped IIDGenerator —
    * unique across managers and across durable sessions). */
  def createGPO(): Gpo = {
    checkOpen()
    nextId += 1
    getGPO(s"gpo:#$idScope-$nextId")
  }

  /** Batch-materialize GPOs for a set of resource ids with ONE job
    * (IObjectManager.initGPOs over a statement stream; here the ids
    * drive the fetch and the statements come back from the store). */
  def initGPOs(ids: Seq[String]): Map[String, Gpo] = {
    checkOpen()
    val gpos = ids.map(getGPO)
    materializeAll(gpos.filterNot(_.isMaterialized))
    gpos.map(gp => gp.id -> gp).toMap
  }

  /** One Spark job filling forward+reverse statement sets for all the
    * given GPOs (IObjectManager.materialize is the 1-object case). */
  private[gom] def materializeAll(gpos: Seq[Gpo]): Unit = {
    checkOpen()
    if (gpos.isEmpty) return
    val ids = gpos.map(_.id)
    // the quad store's default view with set semantics — same triple
    // in two graphs is one statement, matching the evaluate() view
    val rows = g.store.quads.select("s", "p", "o")
      .where(col("s").isin(ids: _*) || col("o").isin(ids: _*))
      .distinct().collect()
    val byId = gpos.map(gp => gp.id -> gp).toMap
    gpos.foreach(_.beginLoad())
    rows.foreach { r =>
      val (s, p, o) = (r.getString(0), r.getString(1), r.getString(2))
      // read-your-writes includes removals: statements touching a
      // resource removed in this (uncommitted) transaction are gone
      // from the view, exactly as the evaluate() path filters them
      if (!pendingRemovedResources.contains(s) && !pendingRemovedResources.contains(o)) {
        byId.get(s).foreach(_.fwd += ((p, o)))
        byId.get(o).foreach(_.rev += ((s, p)))
      }
    }
    // overlay this manager's own uncommitted delta (read-your-writes:
    // the store rows predate the pending flush)
    pendingRemoves.foreach { case (s, p, o) =>
      byId.get(s).foreach(_.fwd -= ((p, o)))
      byId.get(o).foreach(_.rev -= ((s, p)))
    }
    pendingAdds.foreach { case (s, p, o) =>
      byId.get(s).foreach(_.fwd += ((p, o)))
      byId.get(o).foreach(_.rev += ((s, p)))
    }
    gpos.foreach(_.endLoad())
  }

  // ---- native transactions (om/INativeTransaction.java) ----

  /** Begin (nest) a native transaction; returns the nesting depth. */
  def beginNativeTransaction(): Int = { checkOpen(); txDepth += 1; txDepth }

  /** Commit one nesting level; the OUTERMOST commit flushes the
    * buffered delta as one new store handle. `expected` must be the
    * value the matching begin returned (INativeTransaction's
    * expectedCounter handshake). */
  def commitNativeTransaction(expected: Int): Int = {
    checkOpen()
    if (txDepth != expected)
      throw new IllegalStateException(
        s"native transaction counter mismatch: expected $expected, at $txDepth")
    txDepth -= 1
    if (txDepth == 0) flush()
    txDepth
  }

  /** Abandon the buffered delta and reset nesting; materialized GPOs
    * are invalidated back to committed state (lazy re-fetch), and a
    * handle killed by an UNCOMMITTED remove() comes back to life —
    * the store never saw the removal. */
  def rollbackNativeTransaction(): Unit = {
    checkOpen()
    txDepth = 0
    // only handles removed IN THIS transaction revive — a remove()
    // already committed (earlier transaction or auto-commit) is real,
    // and resurrecting its handle would let writes silently re-create
    // the deleted resource
    val removedNow = pendingRemovedResources.toSet
    pendingAdds.clear(); pendingRemoves.clear(); pendingRemovedResources.clear()
    table.valuesIterator.foreach { gp =>
      if (removedNow.contains(gp.id)) gp.rollbackReset() else gp.invalidate()
    }
  }

  def getNativeTransactionCounter: Int = txDepth

  private[gom] def dirty: Boolean =
    pendingAdds.nonEmpty || pendingRemoves.nonEmpty || pendingRemovedResources.nonEmpty

  /** Mutators call this after buffering: outside a native transaction
    * every mutation auto-commits (unisolated-connection behavior). */
  private[gom] def autoFlush(): Unit = if (txDepth == 0) flush()

  /** The buffered delta applied onto a quad plan. Every step is keyed
    * by the DRIVER-SIZED delta: removed resources → constant-list
    * filter (a partition op, not a join); removes → anti-join whose
    * broadcast side is the delta; adds → set-semantics union where the
    * existing-statement check anti-joins the delta against the
    * DELTA-SUBJECTS SLICE of the store (never the whole relation —
    * the anti-join's build side must be the small one). */
  private def applyDelta(base: DataFrame): DataFrame = {
    import spark.implicits._
    var quads = base
    if (pendingRemovedResources.nonEmpty) {
      val rr = pendingRemovedResources.toSeq
      quads = quads.filter(!col("s").isin(rr: _*) && !col("o").isin(rr: _*))
    }
    if (pendingRemoves.nonEmpty) {
      val rm = pendingRemoves.toSeq.toDF("s", "p", "o")
      quads = quads.join(broadcast(rm), Seq("s", "p", "o"), "left_anti")
    }
    if (pendingAdds.nonEmpty) {
      val add = pendingAdds.toSeq.toDF("s", "p", "o")
        .withColumn("g", lit(g.defaultGraph))
      val subjs = pendingAdds.toSeq.map(_._1).distinct
      val slice = quads.filter(col("s").isin(subjs: _*)).select("s", "p", "o", "g")
      quads = quads.unionAll(
        add.join(broadcast(slice), Seq("s", "p", "o", "g"), "left_anti"))
    }
    quads
  }

  /** Flush the buffered delta: ONE new functional store handle, or —
    * in durable mode — the journal's next commit point, written from
    * the exact delta (delta-sized segments, one head pass). */
  private def flush(): Unit = {
    if (!dirty) return
    import spark.implicits._
    val old = g
    repo match {
      case Some(r) =>
        val head = g.store.quads.select("s", "p", "o", "g")
        def emptyQuads =
          Seq.empty[(String, String, String, String)].toDF("s", "p", "o", "g")
        val addQuads =
          if (pendingAdds.isEmpty) None
          else Some(pendingAdds.toSeq.toDF("s", "p", "o")
            .withColumn("g", lit(g.defaultGraph)))
        val delSlices =
          (if (pendingRemoves.isEmpty) Nil
           else Seq(head.join(broadcast(pendingRemoves.toSeq.toDF("s", "p", "o")),
             Seq("s", "p", "o"), "left_semi"))) ++
          (if (pendingRemovedResources.isEmpty) Nil
           else {
             val rr = pendingRemovedResources.toSeq
             Seq(head.filter(col("s").isin(rr: _*) || col("o").isin(rr: _*)))
           })
        // a quad REMOVED (directly or via a removed resource) and then
        // re-ADDED in the same transaction must end PRESENT — the
        // in-memory applyDelta applies removals before the union, so
        // the re-add survives there; the journal twin subtracts the
        // re-adds from the delete set instead (same final state, and
        // the adds' existence check can then run against the raw head)
        val dels0 = delSlices.reduceOption(_ unionAll _).getOrElse(emptyQuads)
        val dels = addQuads.fold(dels0)(a =>
          dels0.join(broadcast(a), Seq("s", "p", "o", "g"), "left_anti"))
        val adds = addQuads.fold(emptyQuads) { add =>
          val subjs = pendingAdds.toSeq.map(_._1).distinct
          val slice = head.filter(col("s").isin(subjs: _*))
          add.join(broadcast(slice), Seq("s", "p", "o", "g"), "left_anti")
        }
        r.journal.commit(adds, dels)
        g = r.connection()
      case None =>
        g = g.withStore(QuadStore(applyDelta(g.store.quads)))
    }
    old.release() // drop the superseded handle's merge view, if any
    pendingAdds.clear(); pendingRemoves.clear(); pendingRemovedResources.clear()
  }

  // ---- SPARQL over the manager's view ----

  /** The current view INCLUDING the uncommitted delta — evaluate()
    * inside a native transaction sees this manager's dirty state, like
    * the reference flushing dirty objects to its connection before a
    * query, but without committing (rollback still discards). */
  private def viewHandle: Graft =
    if (!dirty) g else g.withStore(QuadStore(applyDelta(g.store.quads)))

  /** SPARQL SELECT/ASK text → solution DataFrame (IObjectManager
    * .evaluate; the DataFrame IS the binding-set iterator). */
  def evaluate(query: String): DataFrame = { checkOpen(); viewHandle.query(query) }

  /** SPARQL CONSTRUCT/DESCRIBE text → triples DataFrame
    * (IObjectManager.evaluateGraph). */
  def evaluateGraph(query: String): DataFrame = evaluate(query)

  /** SPARQL UPDATE text against the committed state (IObjectManager
    * .execute). Flushes the buffered delta first, then invalidates
    * materialized GPOs — the store changed under them. */
  def execute(update: String): Unit = {
    checkOpen()
    flush()
    val old = g
    repo match {
      case Some(r) => r.update(update); g = r.connection()
      case None    => g = g.update(update)
    }
    old.release()
    table.valuesIterator.foreach(_.invalidate())
  }

  // ---- simple save/recall (the reference's NameManager GPO) ----

  private val NameManager = "gom:nameManager"

  /** Save a value under a name (IObjectManager.save — "internally it
    * uses a NameManager GPO"; single-valued). */
  def save(key: String, value: String): Unit = getGPO(NameManager).setValue(key, value)

  /** Recall a saved value (IObjectManager.recall). */
  def recall(key: String): Option[String] = getGPO(NameManager).materialize().getValue(key)

  /** Recall a saved reference as a GPO (IObjectManager.recallAsGPO). */
  def recallAsGPO(key: String): Option[Gpo] = recall(key).map(getGPO)

  /** Names under which references have been saved (getNames). */
  def getNames: Seq[String] =
    getGPO(NameManager).materialize().getStatements.map(_._2).distinct.sorted

  // ---- lifecycle ----

  /** GPOs currently canonicalized by this manager (the running object
    * table; the reference iterates weak references). */
  def getGPOs: Iterator[Gpo] = table.valuesIterator

  /** Flush any open transaction's delta and detach (IObjectManager
    * .close: "any open ... transactions are flushed"). */
  def close(): Unit = {
    checkOpen()
    flush()
    table.clear()
    closed = true
  }

  /** True iff commits seal journal commit points
    * ([[ObjectManager.durable]]); a plain manager evaluates lazy
    * in-memory plans only. */
  def isPersistent: Boolean = repo.isDefined

  /** The current VIEW handle (for composing with the rest of the
    * engine — export, search, inference): inside an open native
    * transaction this is the read-only overlay [[viewHandle]] — it
    * never commits, so a later rollback still discards; outside a
    * transaction there is nothing pending and it IS the store. */
  def connection: Graft = { checkOpen(); viewHandle }
}

object ObjectManager {
  /** Wrap a [[Graft]] connection (the ObjectManagerFactory analog). */
  def apply(g: Graft): ObjectManager = new ObjectManager(g, None)

  /** Wrap a plain (s,p,o) DataFrame as the object space. */
  def ofTriples(spark: SparkSession, triples: DataFrame): ObjectManager =
    new ObjectManager(Graft.ofTriples(spark, triples), None)

  def empty(spark: SparkSession): ObjectManager =
    new ObjectManager(Graft.empty(spark), None)

  /** A PERSISTENT manager over a durable [[Repository]]: every
    * outermost native-transaction commit (and every auto-committed
    * mutation) seals a journal commit point from the exact buffered
    * delta; reopening the repository reattaches to the committed
    * object graph. Single-writer like the journal itself. */
  def durable(repo: Repository): ObjectManager =
    new ObjectManager(repo.connection(), Some(repo))
}

/** A generic persistent object (reference: gpo/GPO.java, contract in
  * gpo/IGPO.java): identity + a loosely-typed property set, with
  * reverse-link aggregation. Canonical within one [[ObjectManager]]
  * (object identity == resource identity there, so `equals` is
  * reference equality, as IGPO documents).
  *
  * Mutators materialize first (the reference does the same — setValue
  * must see the current bindings to replace them), apply to the
  * in-memory sets immediately, and buffer exact statement deltas on
  * the manager; see [[ObjectManager]] for the flush discipline.
  */
final class Gpo private[gom] (om: ObjectManager, val id: String) {

  // forward statements (p, o) and reverse links (src, p); loaded by
  // the manager's batch fetch
  private[gom] val fwd = mutable.LinkedHashSet.empty[(String, String)]
  private[gom] val rev = mutable.LinkedHashSet.empty[(String, String)]
  private var loaded = false
  private var dead = false

  private def checkLive(): Unit =
    if (dead) throw new IllegalStateException(s"GPO $id has been removed")

  private[gom] def isMaterialized: Boolean = loaded
  private[gom] def beginLoad(): Unit = { fwd.clear(); rev.clear() }
  private[gom] def endLoad(): Unit = loaded = true
  private[gom] def invalidate(): Unit = { loaded = false; fwd.clear(); rev.clear() }
  /** rollback of a handle removed IN the rolled-back transaction:
    * drop cached state AND revive it — the store still holds the
    * resource (committed removes keep their dead handles). */
  private[gom] def rollbackReset(): Unit = { invalidate(); dead = false }

  def getObjectManager: ObjectManager = om

  /** Force full materialization (IGPO.materialize) — prefer the
    * manager's batch [[ObjectManager.initGPOs]] in loops. */
  def materialize(): this.type = {
    checkLive()
    if (!loaded) om.materializeAll(Seq(this))
    this
  }

  // ---- reads (IGPO get*) ----

  /** First value of a property, if any (IGPO.getValue). */
  def getValue(property: String): Option[String] =
    { materialize(); fwd.collectFirst { case (p, o) if p == property => o } }

  /** All values of a property (IGPO.getValues). */
  def getValues(property: String): Seq[String] =
    { materialize(); fwd.toSeq.collect { case (p, o) if p == property => o } }

  /** All forward statements as (s,p,o) (IGPO.getStatements). */
  def getStatements: Seq[(String, String, String)] =
    { materialize(); fwd.toSeq.map { case (p, o) => (id, p, o) } }

  /** Exists (self,p,?) (IGPO.isBound). */
  def isBound(property: String): Boolean = getValues(property).nonEmpty

  private def isResource(t: String): Boolean = !graft.rdf.Lexicon.isLiteral(t)

  /** All resources this object points at (IGPO.getLinksOut). */
  def getLinksOut: Seq[Gpo] =
    { materialize(); fwd.toSeq.collect { case (_, o) if isResource(o) => om.getGPO(o) }.distinct }

  /** The out-link set for one property (IGPO.getLinksOut(URI)). */
  def getLinksOut(property: String): LinkSet = LinkSet(this, property, in = false)

  /** All objects pointing at this one (IGPO.getLinksIn). */
  def getLinksIn: Seq[Gpo] =
    { materialize(); rev.toSeq.map { case (s, _) => om.getGPO(s) }.distinct }

  /** The in-link set for one property (IGPO.getLinksIn(URI)). */
  def getLinksIn(property: String): LinkSet = LinkSet(this, property, in = true)

  /** The link GPO modeling (this, p, target) in sids mode, iff the
    * statement exists (IGPO.getLink). */
  def getLink(property: String, target: Gpo): Option[Gpo] = {
    materialize()
    if (fwd.contains((property, target.id))) Some(om.getGPO(id, property, target.id))
    else None
  }

  /** Membership in a link set (IGPO.isMemberOf). */
  def isMemberOf(ls: LinkSet): Boolean = ls.contains(this)

  /** Range count per reverse-link property — the documented shape is
    * `SELECT ?p (COUNT(*) AS ?c) WHERE { ?o ?p <self> } GROUP BY ?p`
    * (IGPO.getReverseLinkProperties); computed on the materialized
    * reverse set (set semantics, read-your-writes). */
  def getReverseLinkProperties: Map[String, Long] = {
    materialize()
    rev.toSeq.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
  }

  /** The object's rdf:type analog (IGPO.getType). */
  def getType: Option[Gpo] = getValue("type").map(om.getGPO)

  /** Pretty-printed property set (IGPO.pp). */
  def pp: String = {
    materialize()
    (s"id: $id" +: fwd.toSeq.sortBy(x => (x._1, x._2))
      .map { case (p, o) => s"  $p -> $o" }).mkString("\n")
  }

  // ---- writes (IGPO set/add/remove) ----

  private[gom] def buffer(adds: Seq[(String, String, String)],
                          removes: Seq[(String, String, String)]): Unit = {
    // fix-ups touch only ALREADY-CANONICALIZED handles (peek, not
    // getGPO — interning a Gpo per literal value written would grow
    // the object table without bound)
    removes.foreach { t =>
      if (om.pendingAdds.contains(t)) om.pendingAdds -= t else om.pendingRemoves += t
      val (s, p, o) = t
      om.peek(s).foreach(_.fwdIfLoaded(_ -= ((p, o))))
      om.peek(o).foreach(_.revIfLoaded(_ -= ((s, p))))
    }
    adds.foreach { t =>
      if (om.pendingRemoves.contains(t)) om.pendingRemoves -= t else om.pendingAdds += t
      val (s, p, o) = t
      om.peek(s).foreach(_.fwdIfLoaded(_ += ((p, o))))
      om.peek(o).foreach(_.revIfLoaded(_ += ((s, p))))
    }
    om.autoFlush()
  }

  private def fwdIfLoaded(f: mutable.LinkedHashSet[(String, String)] => Unit): Unit =
    if (loaded) f(fwd)
  private def revIfLoaded(f: mutable.LinkedHashSet[(String, String)] => Unit): Unit =
    if (loaded) f(rev)

  /** Replace (self,p,?) with (self,p,v) — single-valued write
    * (IGPO.setValue). Re-asserting the already-current value is a
    * no-op: nothing buffers, so no empty-delta journal commit point
    * gets sealed by the auto-flush (version churn with zero effect). */
  def setValue(property: String, value: String): Unit = {
    checkLive(); materialize()
    val old = fwd.toSeq.collect { case (p, o) if p == property => (id, p, o) }
    val removes = old.filterNot(_ == ((id, property, value)))
    val adds =
      if (fwd.contains((property, value))) Nil else Seq((id, property, value))
    if (adds.nonEmpty || removes.nonEmpty) buffer(adds, removes)
  }

  /** Assert (self,p,v) — multi-valued (IGPO.addValue). */
  def addValue(property: String, value: String): Unit = {
    checkLive(); materialize()
    if (!fwd.contains((property, value)))
      buffer(adds = Seq((id, property, value)), removes = Nil)
  }

  /** Remove (self,p,v) if present (IGPO.removeValue). */
  def removeValue(property: String, value: String): Unit = {
    checkLive(); materialize()
    if (fwd.contains((property, value)))
      buffer(adds = Nil, removes = Seq((id, property, value)))
  }

  /** Remove all (self,p,?) (IGPO.removeValues). */
  def removeValues(property: String): Unit = {
    checkLive(); materialize()
    val old = fwd.toSeq.collect { case (p, o) if p == property => (id, p, o) }
    if (old.nonEmpty) buffer(adds = Nil, removes = old)
  }

  /** Remove the object: its own statements AND every link to it; the
    * handle is dead afterwards (IGPO.remove). Compiles to a
    * constant-list filter at flush, not a join. */
  def remove(): Unit = {
    checkLive(); materialize()
    // fix up canonicalized neighbors' in-memory views (peek: a
    // neighbor never interned needs no fix-up)
    fwd.toSeq.foreach { case (p, o) => om.peek(o).foreach(_.revIfLoaded(_ -= ((id, p)))) }
    rev.toSeq.foreach { case (s, p) => om.peek(s).foreach(_.fwdIfLoaded(_ -= ((p, id)))) }
    om.pendingAdds.filterInPlace { case (s, _, o) => s != id && o != id }
    om.pendingRemoves.filterInPlace { case (s, _, o) => s != id && o != id }
    om.pendingRemovedResources += id
    dead = true
    om.autoFlush()
  }

  // ---- skins (IGPO.asClass over skin/GenericSkinRegistry.java) ----

  /** Wrap this object in a registered skin (IGPO.asClass). */
  def asClass[T <: GenericSkin](implicit ct: ClassTag[T]): T =
    SkinRegistry.mint[T](this)

  override def toString: String = s"Gpo($id)"
}

/** A link set — the members pointing at (in) or pointed at by (out)
  * one object through one property (reference: gpo/ILinkSet.java,
  * gpo/LinkSet.java). Mutation asserts/retracts the link statement
  * through the owner's manager, exactly like the reference's
  * Set-mutator implementations. */
final case class LinkSet(owner: Gpo, property: String, in: Boolean) {

  def getOwner: Gpo = owner
  def getLinkProperty: String = property
  def isLinkSetIn: Boolean = in

  /** Current members (set semantics). */
  def members: Seq[Gpo] = {
    owner.materialize()
    if (in) owner.rev.toSeq.collect { case (s, p) if p == property => owner.getObjectManager.getGPO(s) }
    else owner.fwd.toSeq.collect { case (p, o) if p == property => owner.getObjectManager.getGPO(o) }
  }

  def size: Int = members.size
  def sizeLong: Long = size.toLong

  def contains(gpo: Gpo): Boolean = members.exists(_ eq gpo)

  /** The link statements themselves (ILinkSet.statements). */
  def statements: Seq[(String, String, String)] =
    members.map(m => if (in) (m.id, property, owner.id) else (owner.id, property, m.id))

  /** Assert membership: (member, p, owner) for an in-set, (owner, p,
    * member) for an out-set (LinkSet add). */
  def add(member: Gpo): Unit =
    if (in) member.addValue(property, owner.id)
    else owner.addValue(property, member.id)

  /** Retract membership (LinkSet remove). */
  def remove(member: Gpo): Unit =
    if (in) member.removeValue(property, owner.id)
    else owner.removeValue(property, member.id)

  /** Members wrapped in a registered skin (ILinkSet.iterator(Class)). */
  def iteratorAs[T <: GenericSkin](implicit ct: ClassTag[T]): Iterator[T] =
    members.iterator.map(_.asClass[T])
}

/** Marker for behavior layered onto a GPO (reference:
  * gpo/IGenericSkin.java): a skin delegates persistent state to its
  * backing object; applications register constructors instead of
  * subclassing GPO implementations. */
trait GenericSkin {
  def gpo: Gpo
}

/** Typed convenience accessors over a GPO's string term space
  * (reference: gpo/BasicSkin.java — getString/getInt/getDouble/
  * getBoolean over the value factory). */
final class BasicSkin(val gpo: Gpo) extends GenericSkin {
  /** The value's lexical form: "lex"@tag / "lex"^^dt → lex. */
  def getString(p: String): Option[String] =
    gpo.getValue(p).map(graft.sparql.RdfLiteral.strOf(_: String))
  def getInt(p: String): Option[Int] = getString(p).flatMap(_.toIntOption)
  def getLong(p: String): Option[Long] = getString(p).flatMap(_.toLongOption)
  def getDouble(p: String): Option[Double] = getString(p).flatMap(_.toDoubleOption)
  def getBoolean(p: String): Option[Boolean] = getString(p).flatMap(_.toBooleanOption)
  def setValue(p: String, v: String): Unit = gpo.setValue(p, v)
}

/** Runtime registry mapping skin classes to constructors (reference:
  * skin/GenericSkinRegistry.java — "an implementation class ... MUST
  * have been registered ... and MUST implement a constructor accepting
  * a single IGenericSkin argument"; here the constructor is a plain
  * function, [[BasicSkin]] pre-registered). */
object SkinRegistry {

  private val ctors = new java.util.concurrent.ConcurrentHashMap[Class[_], Gpo => GenericSkin]()

  register[BasicSkin](new BasicSkin(_))

  def register[T <: GenericSkin](ctor: Gpo => T)(implicit ct: ClassTag[T]): Unit =
    ctors.put(ct.runtimeClass, ctor)

  private[gom] def mint[T <: GenericSkin](gpo: Gpo)(implicit ct: ClassTag[T]): T = {
    val ctor = ctors.get(ct.runtimeClass)
    if (ctor == null)
      throw new UnsupportedOperationException(
        s"no skin registered for ${ct.runtimeClass.getName} (SkinRegistry.register it)")
    ctor(gpo).asInstanceOf[T]
  }
}
