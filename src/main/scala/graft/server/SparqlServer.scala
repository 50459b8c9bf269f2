package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.Graft
import graft.plans.Jobs
import graft.rdf.{Lexicon, QuadStore, Repository, Serializer}
import graft.sparql.{Algebra, Ask, Parser, Update}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** SPARQL 1.1 Protocol endpoint + REST management plane over
  * [[graft.Graft]] handles — the NanoSparqlServer analog
  * (bigdata-core/bigdata-sails/.../webapp/NanoSparqlServer.java and its
  * servlet stack). JDK HttpServer, no new dependency.
  *
  * QUERY + UPDATE (QueryServlet/UpdateServlet):
  *   - `POST /sparql` with `application/sparql-query` (or
  *     `GET /sparql?query=…`): SELECT renders by Accept —
  *     `application/sparql-results+json` (default) / `+xml` /
  *     `text/csv` / `text/tab-separated-values`; ASK renders the
  *     boolean document (JSON/XML); CONSTRUCT / DESCRIBE render
  *     N-Triples. Result documents STREAM: rows leave through a
  *     chunked response via `toLocalIterator`, so an unbounded
  *     CONSTRUCT never buffers on the driver (one partition at a time
  *     does — the protocol's floor).
  *   - `…?explain` returns the formatted Spark plan as `text/plain`
  *     instead of results (BigdataRDFContext's explain mode analog).
  *   - `POST /sparql/update` with `application/sparql-update` (or
  *     form `update=`): applies the ';'-separated request, 204.
  *
  * DATA INGEST (InsertServlet/DeleteServlet — the curl surface every
  * migrating Blazegraph script hits on day one):
  *   - `POST /sparql` with an RDF document body — Content-Type picks
  *     the parser: `text/turtle`, `application/n-triples`,
  *     `application/rdf+xml`, `application/ld+json`,
  *     `application/n-quads`, `application/trig`; optional
  *     `context-uri=` (or `graph=`) targets a named graph. Returns the
  *     reference's `<data modified="N"/>` document. An unsupported
  *     content type is a loud 415, never a silent parse-as-query.
  *   - `DELETE /sparql?query=<CONSTRUCT…>` removes the construction's
  *     statements (every graph they appear in);
  *     `DELETE /sparql` with an RDF body removes those statements.
  *
  * METADATA (QueryServlet.java:152-171 / RESTServlet.java:252-269):
  *   - `GET /sparql?ESTCARD[&s=…&p=…&o=…&c=…]` — fast range count of
  *     the matching access path, `<data rangeCount="N"/>`;
  *   - `GET /sparql?CONTEXTS` — `<contexts><context uri=…/>…`;
  *   - `GET /sparql?GETSTMTS[&s=…&p=…&o=…&c=…]` — matching statements
  *     as streamed N-Quads. Term parameters are N-Triples-encoded
  *     (`<iri>`, `"lit"`, `"lit"@lang`, `"lit"^^<dt>`).
  *
  * STATUS + CANCEL + COUNTERS (StatusServlet.java:165-240,
  * CountersServlet): every exchange — query, update, ingest, backup,
  * namespace management, workbench — runs as ONE operation in its own
  * Spark job group keyed by UUID, opened by the reply seam; `GET
  * /status` lists the running ones, `…?cancelQuery&queryId=<uuid>`
  * cancels the group (the cluster-wide kill the reference implements
  * by hand), and `GET /counters` records each when it ends.
  *
  * MULTI-TENANCY (MultiTenancyServlet — one server, many isolated
  * knowledge bases):
  *   - `GET /namespace` — one N-Triples description line per live
  *     namespace; `POST /namespace` with `name=…` creates (409 if it
  *     exists); `DELETE /namespace/<ns>` drops it — except the DEFAULT
  *     namespace, which is protected (403), as the reference protects
  *     its default KB;
  *   - `/namespace/<ns>/sparql[/update]` — the full surface above,
  *     scoped. The bare `/sparql` paths resolve the default namespace
  *     (`kb`) PER REQUEST, so they can never diverge from
  *     `/namespace/kb/sparql`.
  *
  * DURABILITY: constructed over a journal directory
  * ([[SparqlServer.durable]]), every namespace is a [[Repository]] and
  * a server restart reattaches every namespace from disk (the
  * reference's namespaces are journal-backed the same way). Every
  * write — update, ingest, remove, GSP, staged tx — runs the same
  * evaluator as an in-memory handle: it edits the head's
  * [[graft.rdf.QuadStore]], which carries the (adds, dels) it applied,
  * and the namespace's one `publish` seam commits that delta through
  * the journal (a truth-maintenance namespace commits it through its
  * maintained closure). The in-memory constructor serves ephemeral
  * namespaces for tests and scratch serving: its `publish` swaps the
  * handle.
  *
  * [[graft.sparql.RemoteService]] speaks this protocol back, so two
  * graft clusters federate over SERVICE with no extra glue, and
  * [[graft.server.RemoteRepository]] is the client-side analog of the
  * reference's bigdata-client RemoteRepository. */
final class SparqlServer private (initial: Graft, host: String, port: Int,
                                  val defaultNamespace: String,
                                  journalDir: Option[String],
                                  autoCompactEvery: Int) {

  def this(initial: Graft, host: String = "127.0.0.1", port: Int = 0,
           defaultNamespace: String = "kb") =
    this(initial, host, port, defaultNamespace, None, Int.MaxValue)

  import SparqlServer.Request

  private val spark = initial.spark
  import spark.implicits._

  // ---- tenants ----------------------------------------------------

  /** One namespace's store operations — memory- or journal-backed.
    *
    * ONE WRITE PATH: each write below is written once. It edits the
    * head handle's [[QuadStore]] — which records the `(adds, dels)` it
    * applied ([[QuadStore.delta]]) — and hands the edited handle to the
    * tenant's [[publish]], the one seam where a namespace's change
    * becomes visible: the in-memory tenant swaps its reference, the
    * durable tenant commits the delta to its journal, the
    * truth-maintenance tenant commits it through the maintained
    * closure. Writes serialize per namespace (the reference's
    * single-writer journal lock): two concurrent REST updates queue
    * instead of one failing loud on the journal's version race. */
  private sealed trait Tenant {
    def current: Graft
    /** The ASSERTED-statements view — `includeInferred=false`
      * (QueryServlet.java:140, default true; honored by query/
      * HASSTMT/GETSTMTS): identical to [[current]] on non-TM tenants,
      * the base (un-entailed) store on a truth-maintenance tenant.
      * Writes that act on stored statements edit this view. */
    def asserted: Graft = current
    def assertedAt(version: Long): Graft = at(version)
    /** Read-only connection against a historical commit point — the
      * protocol's `?timestamp=` knob (TxServlet's read-only tx
      * analog); durable namespaces only. */
    def at(version: Long): Graft =
      sys.error("timestamp reads need a journal-backed namespace")
    /** Journal head version (-1 for in-memory tenants). */
    def version: Long = -1L
    /** The backing journal, when durable — put in dynamic scope
      * around query compilation so `SERVICE bd:history` serves THIS
      * namespace's commit log. */
    def journal: Option[graft.rdf.Journal] = None
    /** Metadata-only ESTCARD: Some(n) when the count is answerable
      * from parquet footers (durable + fully compacted head), None →
      * caller falls back to an exact count job. */
    def metadataCount(graph: Option[String]): Option[Long] = None
    /** Online backup: snapshot the namespace's journal to a
      * server-visible directory while holding the write lock
      * (quiesced); durable namespaces only. Returns the backed-up
      * version. */
    def backup(target: Path): Long =
      sys.error("backup needs a journal-backed namespace")
    def destroy(): Unit
    /** Drop the cached head handle's materialized merge view. */
    def release(): Unit

    /** Make `next` — a handle derived from [[current]] or [[asserted]]
      * whose store carries the write's change — this namespace's
      * state; returns the version published (-1 in memory).
      * `suppress`: the request's `suppressTruthMaintenance=true`
      * (QueryServlet.java:132, DeleteServlet.java:128) — a verbatim
      * commit on a truth-maintenance tenant, moot elsewhere. */
    protected def publish(next: Graft, suppress: Boolean): Long

    /** TRIPLES mode (truth maintenance — the reference's TM requires a
      * triples-mode KB): statements live in the default graph, a
      * remove names the statements themselves (truth maintenance
      * un-derives what they supported), graph-scoped Graph Store ops
      * on named graphs are refused, and an insert's modified count
      * takes only statements not already asserted. */
    protected def triplesMode: Boolean = false

    /** A staged tx's whole-store check before it applies: `next` is
      * the tx folded onto the head, `staged` its items; throws
      * [[TxConflict]] exactly when a commit now must not land. */
    protected def validate(next: => Graft, staged: => Seq[Staged],
                           expectVersion: Long): Unit = ()

    private val SPO = Seq("s", "p", "o")

    /** Incoming statements in the form this namespace stores them. */
    private def stored(df: DataFrame): DataFrame =
      if (triplesMode) df.select(SPO.map(col): _*).distinct().withColumn("g", lit("g:default"))
      else df.select(col("s"), col("p"), col("o"), col("g"))

    private def graphScoped(g: String): Unit =
      if (triplesMode && g != "g:default") sys.error(
        "truth-maintenance namespaces are triples-mode (the reference's " +
          "TM requires a triples-mode KB) — graph-scoped Graph Store " +
          "operations are not supported")

    private def edit(h: Graft)(f: QuadStore => QuadStore): Graft = h.withStore(f(h.store))

    def update(text: String): Unit = updateOps(Parser.parseUpdates(text))

    /** Apply already-parsed update ops — the protocol dataset knobs
      * (using-graph-uri) rewrite the ops before application. Their
      * WHEREs read [[current]] (the entailed store on a TM tenant). */
    def updateOps(ops: Seq[graft.sparql.UpdateOp], suppress: Boolean = false): Unit =
      synchronized { publish(current.updateOps(ops), suppress); () }

    /** Insert parsed quads; returns the statement count ingested. */
    def ingest(quads: DataFrame, suppress: Boolean = false): Long = synchronized {
      val q = stored(quads).localCheckpoint()
      val h = asserted
      publish(edit(h)(_.insertQuads(q)), suppress)
      q.count()
    }

    /** Remove every graph's occurrence of the (s,p,o) rows; returns
      * the quad count removed. */
    def remove(spo: DataFrame, suppress: Boolean = false): Long =
      removeBy(SPO, spo, suppress)

    /** Remove exactly these (s,p,o,g) quads — the DELETE-by-access-
      * path arm (graph-scoped, unlike [[remove]]'s every-graph
      * contract); returns the quad count removed. */
    def removeQuads(quads: DataFrame, suppress: Boolean = false): Long =
      removeBy(if (triplesMode) SPO else SPO :+ "g", quads, suppress)

    private def removeBy(keys: Seq[String], rows: DataFrame, suppress: Boolean): Long =
      synchronized { val (doomed, _) = replace(keys, rows, None, suppress); doomed.count() }

    /** ATOMIC remove+insert — the reference's UPDATE-with-query /
      * UPDATE-with-body servlets (UpdateServlet.java:90,817): remove
      * every graph's occurrence of `removeSpo`, insert `adds`, as ONE
      * operation; returns removed + inserted. */
    def updateWithBody(removeSpo: DataFrame, adds: DataFrame, suppress: Boolean): Long =
      synchronized {
        val (doomed, added) = replace(SPO, removeSpo, Some(adds), suppress)
        doomed.count() + added.fold(0L)(_.count())
      }

    /** The asserted rows matching `rows` on `keys` leave, `adds` (if
      * any) arrive, as one published change. Returns the removed rows
      * and the rows counted as inserted. */
    private def replace(keys: Seq[String], rows: DataFrame, adds: Option[DataFrame],
                        suppress: Boolean): (DataFrame, Option[DataFrame]) = {
      val h = asserted
      val named = if (triplesMode) Some(stored(rows).localCheckpoint()) else None
      val a = adds.map(stored(_).localCheckpoint())
      val doomed = h.store.quads
        .join(named.getOrElse(rows).select(keys.map(col): _*), keys, "left_semi")
        .localCheckpoint()
      // triples mode counts only statements not already asserted (a
      // re-insert counts 0)
      val added =
        if (triplesMode) a.map(_.join(h.store.quads, SPO :+ "g", "left_anti").localCheckpoint())
        else a
      publish(edit(h) { st =>
        val st1 = st.deleteQuads(named.getOrElse(doomed))
        a.fold(st1)(st1.insertQuads)
      }, suppress)
      (doomed, added)
    }

    /** Graph Store Protocol PUT: replace graph `g` with `quads`. */
    def putGraph(g: String, quads: DataFrame): Unit = synchronized {
      graphScoped(g)
      val q = stored(quads).localCheckpoint()
      publish(edit(asserted)(_.dropGraph(g).insertQuads(q)), suppress = false)
      ()
    }

    /** Graph Store Protocol DELETE: drop graph `g`. */
    def dropGraph(g: String): Unit = synchronized {
      graphScoped(g)
      publish(edit(asserted)(_.dropGraph(g)), suppress = false)
      ()
    }

    /** Mass-load server-visible files/globs as ONE commit (the
      * DataLoaderServlet analog); returns (version, statements). */
    def bulkLoad(paths: Seq[String], graph: Option[String],
                 compact: Boolean): (Long, Long) = {
      val quads = paths
        .map(p => Update.loadOpQuads(spark, p, graph, current.defaultGraph))
        .reduce(_ unionAll _)
      (-1L, ingest(quads))
    }

    /** Parse a staged tx's update texts (a malformed later item fails
      * before anything commits); a triples-mode tenant also
      * materializes its data items, since its items commit one by
      * one. */
    private def stage(items: Seq[Either[String, DataFrame]]): Seq[Staged] = items.map {
      case Left(text) => Left(Parser.parseUpdates(text))
      case Right(df)  => Right(if (triplesMode) stored(df).localCheckpoint() else df)
    }

    /** Atomically apply a staged tx's items (update texts + parsed
      * quad batches) as one commit; `expectVersion` is the journal
      * version at tx creation — a head that moved since is a CONFLICT
      * (first-committer-wins). A triples-mode tenant commits each item
      * through the maintained closure in arrival order (each
      * mutation's entailment delta depends on the prior closed state),
      * so its transactions are not failure-atomic past staging. */
    def commitStaged(items: Seq[Either[String, DataFrame]], expectVersion: Long): Long =
      synchronized {
        if (triplesMode) {
          validate(current, Nil, expectVersion)
          stage(items).foreach(i => publish(current.updateItems(Seq(i)), suppress = false))
          version
        } else {
          val staged = stage(items)
          val next = current.updateItems(staged)
          validate(next, staged, expectVersion)
          publish(next, suppress = false)
        }
      }

    /** PREPARE-TX (TxServlet.java:84): run the SAME validation
      * [[commitStaged]] applies, committing nothing — throws
      * TxConflict exactly when a commit now would. Advisory (no lock
      * is taken between prepare and commit). */
    def prepareStaged(items: Seq[Either[String, DataFrame]], expectVersion: Long): Unit =
      synchronized {
        lazy val staged = stage(items)
        validate(current.updateItems(staged), staged, expectVersion)
      }
  }

  /** One staged tx item: a parsed update request or a quad batch. */
  private type Staged = Either[Seq[graft.sparql.UpdateOp], DataFrame]

  private def emptyQuads: DataFrame =
    Seq.empty[(String, String, String, String)].toDF("s", "p", "o", "g")

  private final class MemTenant(ref: AtomicReference[Graft]) extends Tenant {
    def current: Graft = ref.get()
    // the handle's change is published by the swap itself. The next
    // handle starts over ONE materialized relation: a handle over the
    // written store would carry every earlier write's plan, and the
    // next write would plan (and run) all of them again. Its partitions
    // are capped at the session's parallelism — each write's union
    // adds the branches it touched, so uncapped they would multiply
    protected def publish(next: Graft, suppress: Boolean): Long = {
      val quads = next.store.quads.coalesce(spark.sparkContext.defaultParallelism)
      ref.set(next.withStore(QuadStore(quads.localCheckpoint()))); -1L
    }
    def release(): Unit = ref.get().release()
    def destroy(): Unit = ()
  }

  /** A journal-backed namespace's attach state, written once for the
    * durable and the truth-maintenance tenants. Reads serve a
    * per-version cached connection (so the union-default-graph merge
    * view materializes once per COMMIT, not once per request). Every
    * `autoCompactEvery` commits the store compacts itself — a
    * server-managed store must keep its own snapshot-resolution cost
    * bounded (the reference's journal likewise compacts on its own
    * overflow schedule), or a year of small REST updates degrades
    * every read into an O(delta-count)-input resolution.
    *
    * `indexJournal` is the journal the namespace's persisted literal
    * text index follows (what queries see); `compactionJournal` the
    * one whose uncompacted commits count toward compaction. */
  private abstract class JournalTenant(dir: Path, indexJournal: graft.rdf.Journal,
                                       compactionJournal: graft.rdf.Journal) extends Tenant {
    /** The store at commit point `v` (-1 = head), unconfigured. */
    protected def viewAt(v: Long): Graft
    /** Commit one write's change; returns the version published. */
    protected def commit(adds: DataFrame, dels: DataFrame, suppress: Boolean): Long
    /** Compact the store. */
    protected def compactStore(): Unit

    // per-namespace analyzer config, persisted beside the journal
    // (ConfigurableAnalyzerFactory stores it in namespace properties);
    // read once at attach — restart reattaches it with the namespace
    private val analyzerConf: Option[String] = {
      val f = dir.resolve("analyzer.conf")
      if (Files.exists(f)) Some(Files.readString(f).trim).filter(_.nonEmpty) else None
    }
    protected def withConf(g: Graft): Graft =
      if (analyzerConf.isDefined) g.copy(analyzerName = analyzerConf) else g
    // namespace-owned persisted literal text index (created by the
    // namespace POST's textIndex=true): reattached with the namespace
    // and synced at attach — a crash between a journal commit and its
    // index sync heals here, the MaintainedClosure recovery discipline
    private val textIx: Option[graft.search.PersistedSearchIndex] = {
      val d = dir.resolve("textindex")
      if (graft.search.PersistedSearchIndex.exists(d.toString)) {
        val ix = graft.search.PersistedSearchIndex.open(spark, d.toString)
        graft.rdf.TextIndexMaintenance.sync(ix, indexJournal)
        Some(ix)
      } else None
    }
    /** Attach the index view to a HEAD connection — only when current
      * to the head version (a stale index must not serve hits for
      * literals that were since removed); historical and asserted
      * reads never attach it. */
    private def withIx(g: Graft): Graft = textIx match {
      case Some(ix) if ix.version == indexJournal.version => g.copy(textIndex = Some(ix.view))
      case _ => g
    }
    @volatile private var cached: (Long, Graft) = (-1L, null)
    def current: Graft = {
      val c = cached
      if (c._1 == version && c._2 != null) c._2
      else synchronized {
        // version is re-read INSIDE the lock and the head read from the
        // same lock-held point (writes share this monitor), so a commit
        // landing between the fast-path check and here can never cache
        // a NEW state under an OLD version key
        val vNow = version
        if (cached._1 != vNow || cached._2 == null)
          cached = (vNow, withIx(withConf(viewAt(-1L))))
        cached._2
      }
    }
    override def at(version: Long): Graft = withConf(viewAt(version))
    def release(): Unit = synchronized {
      Option(cached._2).foreach(_.release())
      cached = (-1L, null)
    }

    protected def publish(next: Graft, suppress: Boolean): Long = {
      // a journal commits quads only
      if (next.solutionSets.nonEmpty) Update.connectionScoped()
      val (adds, dels) = next.store.delta
      val v = commit(adds, dels, suppress)
      maybeCompact()
      v
    }

    protected def maybeCompact(): Unit = synchronized {
      // every write path runs through here; the store compaction (if
      // due) happens FIRST, so the text-index sync lands on the
      // post-compaction head version — syncing before it would leave
      // ix.version one behind and withIx would silently detach the
      // index until the next write (the compaction commit itself is
      // skipped by changedQuads, so the sync stays delta-sized either
      // way)
      val compacting =
        compactionJournal.version - compactionJournal.lastCompacted >= autoCompactEvery
      if (compacting) compactStore()
      // the index (if any) catches up to the head (delta-sized batch),
      // so the next `current` serves index-backed search over the new
      // commit
      textIx.foreach { ix =>
        graft.rdf.TextIndexMaintenance.sync(ix, indexJournal)
        // the journal's compaction moment is the index's too: collapse
        // its segment log so steady-state search reads ONE postings
        // scan. Reclaim discipline: vacuum FIRST — it deletes only
        // files the CURRENT manifest no longer references, i.e. the
        // generation superseded by the PREVIOUS compaction, giving
        // in-flight readers a full compaction cycle of grace — then
        // compact, whose freshly superseded files stay until the NEXT
        // cycle. Without the vacuum the server leaks a full postings
        // copy per compaction (disk grows O(cycles × index)).
        if (compacting) { ix.vacuum(); ix.compact() }
      }
    }
    def destroy(): Unit = deleteRecursively(dir)
  }

  /** Journal-backed namespace: writes commit their change through the
    * repository's journal. */
  private final class DurableTenant(repo: Repository, dir: Path)
      extends JournalTenant(dir, repo.journal, repo.journal) {
    // ospIndex=true namespaces lay down the object-hash twin on every
    // compaction — searchInSearch hit joins then prune out of the box
    private val ospIndex: Boolean = Files.exists(dir.resolve("ospindex"))
    protected def viewAt(v: Long): Graft = repo.connection(v)
    protected def commit(adds: DataFrame, dels: DataFrame, suppress: Boolean): Long =
      repo.journal.commit(adds, dels)
    protected def compactStore(): Unit = { repo.compact(ospHashTwin = ospIndex); () }
    override def version: Long = repo.version
    override def journal: Option[graft.rdf.Journal] = Some(repo.journal)
    override def bulkLoad(paths: Seq[String], graph: Option[String],
                          compact: Boolean): (Long, Long) = synchronized {
      // drives THIS tenant's journal handle — no second handle on the
      // directory; single-pass (appendRaw + footer count) by design
      val r = graft.rdf.BulkLoad.runWith(spark, repo.journal, paths, graph, compact)
      // run even when the load already compacted: maybeCompact is also
      // the text-index sync point, and an explicitly-compacted journal
      // skips the inner compact anyway
      maybeCompact()
      r
    }
    override def metadataCount(graph: Option[String]): Option[Long] = {
      val j = repo.journal
      val v = j.version
      // fully-compacted head: the base segment IS the state, so its
      // footers answer exactly (the reference's rangeCount answers
      // from B+Tree page metadata the same way); with pending deltas
      // the caller runs the exact count instead
      if (j.lastCompacted != v) None
      else j.segmentRowCount(v, graph) match {
        case Some(n) => Some(n)
        // no adds segment at a compacted head = empty state; but a
        // graph-bound None may instead mean a legacy unpartitioned
        // segment the footers can't scope — fall back to the exact job
        case None => if (graph.isEmpty) Some(0L) else None
      }
    }
    override def backup(target: Path): Long = synchronized {
      // under the tenant write lock: no commit can land mid-copy, so
      // the snapshot is exactly the current version
      repo.journal.backupTo(target)
      repo.version
    }
    /** Two-sided conflict validation when the head moved:
      *
      * 1. WRITE set (TxServlet.java:56-58's per-index-range revision
      *    check, at partition granularity): the partitionBy("g")
      *    segment manifests name every graph the interleaved commits
      *    wrote — 409 when that set intersects THIS tx's write set.
      *    Compaction commits are skipped: a compaction snapshot names
      *    every graph but changes nothing logically, and maybeCompact()
      *    runs after every write, so counting it would 409 every tx
      *    racing an auto-compaction.
      *
      * 2. READ set, by re-evaluation: graph manifests can't tell WHAT
      *    an update's WHERE read, so the staged delta is evaluated
      *    twice — against the expectVersion snapshot the client saw,
      *    and against the current head — and the tx 409s when they
      *    differ. An update whose WHERE reads graph Y but writes graph
      *    X conflicts iff an interleaved commit to Y actually changed
      *    the update's effect; staged literal DataFrames evaluate
      *    identically on both sides and commit (their semantics are
      *    rebase-onto-head by definition — the server cannot see what
      *    stale reads produced them). */
    override protected def validate(next: => Graft, staged: => Seq[Staged],
                                    expectVersion: Long): Unit =
      if (repo.version != expectVersion) {
        val (adds, dels) = next.store.delta match {
          case (a, d) => (a.localCheckpoint(), d.localCheckpoint())
        }
        val interleaved: Option[Set[String]] =
          (expectVersion + 1 to repo.version)
            .filterNot(repo.journal.compactedAt)
            .foldLeft(Option(Set.empty[String])) { (acc, v) =>
              for { a <- acc; t <- repo.journal.touchedGraphs(v) } yield a ++ t
            }
        val mine = adds.select("g").unionByName(dels.select("g")).distinct()
          .collect().flatMap(r => Option(r.getString(0))).toSet
        interleaved match {
          case Some(gs) if (gs & mine).isEmpty => // disjoint: proceed
          case Some(gs) => throw new TxConflict(
            s"tx conflict: graph(s) ${(gs & mine).toSeq.sorted.mkString(", ")} " +
              s"modified since v$expectVersion (head now v${repo.version})")
          case None => throw new TxConflict(
            s"tx conflict: head moved from v$expectVersion to v${repo.version} " +
              "and a legacy unpartitioned segment hides its touched graphs")
        }
        val (adds0, dels0) = at(expectVersion).updateItems(staged).store.delta
        def differ(x: DataFrame, y: DataFrame): Boolean =
          x.exceptAll(y).limit(1).count() > 0 ||
            y.exceptAll(x).limit(1).count() > 0
        if (differ(adds0, adds) || differ(dels0, dels))
          throw new TxConflict(
            s"tx conflict: a staged update reads data modified since " +
              s"v$expectVersion (head now v${repo.version}) — its effect " +
              "differs between the two snapshots")
      }
  }

  /** Truth-maintenance namespace — the reference's inference-enabled
    * namespaces, where truth maintenance is a NAMESPACE property wired
    * into the commit path (BigdataSail's truthMaintenance option;
    * every update servlet honors `suppressTruthMaintenance` —
    * QueryServlet.java:132, DeleteServlet.java:128). Backed by a
    * paired base/closed journal under `dir/tm`
    * ([[graft.inference.MaintainedClosure]], DYNAMIC program: the
    * TBox arrives over the protocol as statements). Queries — head and
    * `?timestamp=` historical reads alike — serve the CLOSED
    * (entailed) store; update WHEREs read it too (queries on an
    * inferencing namespace see inference — the reference's TM stores
    * behave the same), and each change applies to the ASSERTED
    * statements through the maintained closure, DRed keeping derivable
    * rows; suppressed requests commit verbatim and stay unclosed until
    * a re-derive-tier commit converges them. The per-namespace
    * analyzer and persisted literal text index compose with TM exactly
    * like the durable tenant, the index maintained over the CLOSED
    * journal (bds:search sees what queries see: the entailed store).
    *
    * TRIPLES mode: the reference does not support truth maintenance
    * over quads (BigdataSail — TM requires a triples-mode KB), so
    * graph-scoped Graph Store ops are refused loud and all statements
    * live in the default graph. */
  private final class TmTenant(tm: graft.inference.MaintainedClosure, dir: Path)
      extends JournalTenant(dir, tm.journals._2, tm.journals._1) {
    override protected def triplesMode: Boolean = true
    private def view(t: DataFrame): Graft = Graft(spark, QuadStore(
      t.select(col("s"), col("p"), col("o"), lit("g:default").as("g"))))
    protected def viewAt(v: Long): Graft = view(tm.closure(v))
    // the asserted views never attach the head index (it serves hits
    // for literals those views may not contain)
    override def asserted: Graft = withConf(view(tm.base()))
    override def assertedAt(version: Long): Graft = withConf(view(tm.base(version)))
    override def version: Long = tm.version
    // bd:history serves the ASSERTED change log (the base journal) —
    // entailment churn is derived state, not user history
    override def journal: Option[graft.rdf.Journal] = Some(tm.journals._1)
    /** The change, projected to statements, through the closure's own
      * entry points: inserts only assert, deletes only retract (DRed),
      * both commit as ONE atomic delta, suppressed lands verbatim. A
      * change with neither side commits nothing. */
    protected def commit(adds: DataFrame, dels: DataFrame, suppress: Boolean): Long = {
      val (a, d) = (adds.select("s", "p", "o"), dels.select("s", "p", "o"))
      if (suppress) tm.commitRaw(a, d)
      else (held(a), held(d)) match {
        case (None, None)       => ()
        case (Some(x), None)    => tm.assertTriples(x)
        case (None, Some(y))    => tm.retractTriples(y)
        case (Some(x), Some(y)) => tm.commitDelta(x, y)
      }
      tm.version
    }
    /** `side` if it may hold rows. Ground data and materialized batches
      * pass as they are; a side derived from the store (a WHERE
      * solution, a graph) is materialized once, its row count read off
      * that job, so an empty one commits nothing. */
    private def held(side: DataFrame): Option[DataFrame] = {
      import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
      def leaf(p: LogicalPlan): Boolean = p match {
        case l: LocalRelation => l.data.nonEmpty
        case Project(_, child) => leaf(child)
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _ => false
      }
      if (graft.plans.LocalTier.provablyEmpty(side)) None
      else if (leaf(side.queryExecution.optimizedPlan)) Some(side)
      else graft.plans.Fixpoint.materialize(side) match {
        case (_, 0L) => None
        case (m, _)  => Some(m)
      }
    }
    protected def compactStore(): Unit = tm.compact()
    override def bulkLoad(paths: Seq[String], graph: Option[String],
                          compact: Boolean): (Long, Long) = synchronized {
      require(graph.isEmpty,
        "truth-maintenance namespaces are triples-mode — no target graph")
      val quads = paths
        .map(p => Update.loadOpQuads(spark, p, None, "g:default"))
        .reduce(_ unionAll _)
      val n = ingest(quads)
      if (compact) tm.compact()
      (tm.version, n)
    }
    // staged tx: whole-store first-committer-wins
    override protected def validate(next: => Graft, staged: => Seq[Staged],
                                    expectVersion: Long): Unit =
      if (tm.version != expectVersion)
        throw new TxConflict(
          s"tx conflict: head moved from v$expectVersion to v${tm.version} " +
            "(truth-maintenance namespaces validate at whole-store granularity)")
    override def backup(target: Path): Long = synchronized {
      val (b, c) = tm.journals
      b.backupTo(target.resolve("base"))
      c.backupTo(target.resolve("closed"))
      tm.version
    }
  }

  /** Staged-tx commit lost first-committer-wins validation. */
  private final class TxConflict(msg: String) extends RuntimeException(msg)

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }

  private val namespaces = new ConcurrentHashMap[String, Tenant]()

  journalDir match {
    case None =>
      namespaces.put(defaultNamespace, new MemTenant(new AtomicReference(initial)))
    case Some(d) =>
      val root = Paths.get(d)
      Files.createDirectories(root)
      // re-apply a persisted SERVICE whitelist policy (written by
      // POST /whitelist): first line enabled flag, one URI per line
      val wl = root.resolve("whitelist.conf")
      if (Files.exists(wl)) {
        val lines = Files.readString(wl).split("\n").toSeq.filter(_.nonEmpty)
        lines.headOption.foreach(en =>
          graft.sparql.ServiceRegistry.setWhitelist(en.toBoolean, lines.tail))
      }
      // reattach every namespace the directory already holds; a `tm`
      // subdirectory marks a truth-maintenance namespace (paired
      // base/closed journals — openDynamic rolls the closure forward
      // if a crash landed between the two commits)
      val subs = Files.list(root)
      try subs.iterator().asScala.foreach { sub =>
        if (Files.isDirectory(sub.resolve("tm")))
          namespaces.put(sub.getFileName.toString,
            new TmTenant(graft.inference.MaintainedClosure.openDynamic(
              spark, sub.resolve("tm").toString), sub))
        else if (Files.exists(sub.resolve("commits")))
          namespaces.put(sub.getFileName.toString,
            new DurableTenant(Repository.open(spark, sub.toString), sub))
      } finally subs.close()
      if (!namespaces.containsKey(defaultNamespace)) {
        val sub = root.resolve(defaultNamespace)
        val repo = Repository.create(spark, sub.toString)
        if (!initial.store.quads.isEmpty)
          repo.journal.append(initial.store.quads)
        namespaces.put(defaultNamespace, new DurableTenant(repo, sub))
      }
  }

  /** THE NAMESPACE RESOLVER: the exchange's operation records the
    * namespace it resolves. */
  private def tenant(ns: String): Tenant = {
    val t = namespaces.get(ns)
    require(t != null, s"no namespace $ns")
    ongoing.foreach(_.ns = Some(ns))
    t
  }

  /** The current (latest-updated) handle of a namespace (default: the
    * default namespace, resolved per call — never a stale alias). */
  def current(ns: String = defaultNamespace): Graft = tenant(ns).current

  // ---- multi-request write transactions (TxServlet analog) ---------

  /** One open transaction: staged items apply at commit in arrival
    * order, as ONE journal commit. `startVersion` is the namespace's
    * head at creation — validation is first-committer-wins at
    * whole-store granularity (coarser than the reference's
    * per-index-range conflict detection, never less safe). */
  private final case class Tx(id: String, ns: String, startVersion: Long,
                              base: Graft,
                              items: scala.collection.mutable.Buffer[Either[String, DataFrame]],
                              startedMs: Long)
  private val txs = new ConcurrentHashMap[String, Tx]()

  /** Read-your-writes view of an open transaction: the namespace as of
    * tx creation (`base` — Graft is immutable, so holding it IS the
    * start snapshot, for memory and journal tenants alike) with the
    * staged items folded on top in arrival order. Pure plan
    * composition — nothing is published, the journal never sees it —
    * giving queries carrying `?tx=` the reference TxServlet's full
    * read/write-tx isolation: a tx sees its own staged writes, other
    * connections don't. */
  private def txView(id: String, ns: String): Graft = {
    val tx = txs.get(id)
    require(tx != null, s"no such transaction: $id")
    require(tx.ns == ns, s"transaction $id belongs to namespace ${tx.ns}, not $ns")
    // updateItems routes through withStore: the staged writes
    // invalidate the committed-version accelerators (osp twin / text
    // index) for THIS view
    tx.base.updateItems(tx.items.synchronized { tx.items.toVector }
      .map(_.left.map(Parser.parseUpdates)))
  }

  private def stageTx(id: String, ns: String,
                      item: Either[String, DataFrame]): Unit = {
    val tx = txs.get(id)
    require(tx != null, s"no such transaction: $id")
    require(tx.ns == ns, s"transaction $id belongs to namespace ${tx.ns}, not $ns")
    // stage-time parse check: a malformed update fails ITS request
    // loudly, not the eventual commit
    item.left.foreach(t => Parser.parseUpdates(t))
    tx.items.synchronized { tx.items += item }
    ()
  }

  // ---- operations (StatusServlet + CountersServlet analog) --------

  /** ONE OPERATION PER EXCHANGE, opened by the reply seam ([[serve]])
    * for every exchange but the `/status` and `/counters` reads. Every
    * Spark job the exchange starts — compile-time jobs, writes, the
    * streamed reply — runs in its cancellable job group `id`, so
    * `/status` lists it while it runs, `cancelQuery` and the query
    * deadline interrupt it cluster-wide, and `/counters` records it
    * when it ends. `label` is its query or update text, else its method
    * and path; `ns` the namespace it resolved ([[tenant]]). */
  private final class Operation(val label: String) {
    val id: String = java.util.UUID.randomUUID().toString
    val startedMs: Long = System.currentTimeMillis()
    @volatile var ns: Option[String] = None
    /** The deadline in ms, once it fired. */
    @volatile var timedOut: Option[Long] = None
    @volatile private var deadline: Option[java.util.concurrent.ScheduledFuture[_]] = None

    /** Arm the query deadline (`ms` ≤ 0: none): when it fires, the
      * group's running jobs are interrupted and its later ones fail —
      * the reference's query-timeout contract
      * (BigdataRDFContext.newQuery setTimeout); driver-side planning
      * between jobs is not interruptible. */
    def arm(ms: Long): Unit = if (ms > 0) deadline = Some(deadlines.schedule(new Runnable {
      def run(): Unit = { timedOut = Some(ms); Jobs.cancel(id) }
    }, ms, java.util.concurrent.TimeUnit.MILLISECONDS))
    def disarm(): Unit = deadline.foreach(_.cancel(false))
  }
  private val running = new ConcurrentHashMap[String, Operation]()
  private val served = new java.util.concurrent.atomic.AtomicLong()

  /** The operation of the exchange this thread serves, if any: the one
    * its job group names. */
  private def ongoing: Option[Operation] =
    Jobs.current.flatMap(id => Option(running.get(id)))

  /** Completed-operation stats ring (CountersServlet analog-lite):
    * the last [[HistoryCap]] operations with their wall times, the
    * per-query history document `/counters` serves. Deeper metrics
    * (task/shuffle/IO) are the Spark UI's job — deliberately not
    * re-implemented here. */
  private final case class Done(ns: Option[String], op: String, elapsedMs: Long)
  private val HistoryCap = 200
  private val history = new java.util.concurrent.ConcurrentLinkedDeque[Done]()

  /** Thrown when a query's deadline cancels its job group. */
  private final class QueryTimeout(val ms: Long)
    extends RuntimeException(s"query timeout after $ms ms")

  private val deadlines =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-query-deadline"); t.setDaemon(true); t
    })

  /** Run `body` as exchange `r`'s one [[Operation]]: listed while it
    * runs, recorded and counted when it ends, its failure after a
    * fired deadline a [[QueryTimeout]]. */
  private def runOperation(r: Request)(body: => Unit): Unit = {
    val op = new Operation(
      r.param("query").orElse(r.param("update"))
        .orElse(Some(r.text).filter(_ => r.contentType.startsWith("application/sparql-")))
        .filter(_.trim.nonEmpty).getOrElse(s"${r.method} ${r.path}"))
    running.put(op.id, op)
    try Jobs.group(op.id)(body)
    catch {
      case _: Throwable if op.timedOut.isDefined => throw new QueryTimeout(op.timedOut.get)
    } finally {
      op.disarm(); running.remove(op.id); served.incrementAndGet()
      history.addFirst(Done(op.ns, op.label.replace('\n', ' ').take(120),
        System.currentTimeMillis() - op.startedMs))
      while (history.size > HistoryCap) history.pollLast()
    }
  }

  /** The request's query deadline in ms (0 = none): the reference's
    * three knobs with its precedence — the X-BIGDATA-MAX-QUERY-MILLIS
    * header overrides `maxQueryTimeMillis=` (ms) overrides `timeout=`
    * (whole seconds; ≤0 = unlimited). BigdataRDFContext.getQueryTimeout. */
  private def queryTimeoutMs(r: Request): Long = {
    def num(s: String): Option[Long] = s.trim.toLongOption
    r.header("X-BIGDATA-MAX-QUERY-MILLIS").flatMap(num)
      .orElse(r.param("maxQueryTimeMillis").flatMap(num))
      .orElse(r.param("timeout").flatMap(num).map(_ * 1000L))
      .filter(_ > 0).getOrElse(0L)
  }

  // ---- http plumbing ----------------------------------------------

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  // a thread per in-flight exchange: a long-running query must not
  // block /status or the cancel that kills it
  private val handlers = Executors.newCachedThreadPool()
  server.setExecutor(handlers)

  /** `http://host:port` of the bound socket (port 0 = OS-assigned). */
  def address: String =
    s"http://${server.getAddress.getHostString}:${server.getAddress.getPort}"

  /** HTML/XML-escape for workbench/status pages and reply attributes. */
  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def wantsGzip(r: Request): Boolean =
    r.header("Accept-Encoding").exists(_.contains("gzip"))

  /** THE REPLY SEAM: every handler runs on its exchange's one
    * [[Request]] and — but for the `introspection` reads — inside its
    * one [[Operation]], and every failure answers here, once the
    * operation has ended: a query deadline kill is the server giving
    * up (503), a lost first-committer-wins validation a conflict
    * (409), anything else the client's bad request (400). An exchange
    * whose status line a stream already sent can only be dropped. */
  private def serve(handle: Request => Unit, introspection: Boolean = false): HttpHandler = ex => {
    val r = new Request(ex)
    try if (introspection) handle(r) else runOperation(r)(handle(r))
    catch {
      case NonFatal(e) =>
        val (status, msg) = e match {
          case t: QueryTimeout => (503, t.getMessage)
          case c: TxConflict   => (409, c.getMessage)
          case _               => (400, s"bad request: ${e.getMessage}")
        }
        if (ex.getResponseCode != -1) ex.close()
        else try respond(r, status, "text/plain", msg) catch { case NonFatal(_) => ex.close() }
    }
  }

  private def respond(r: Request, status: Int, contentType: String,
                      body: String): Unit = {
    val ex = r.ex
    val raw = body.getBytes("UTF-8")
    val bytes =
      if (raw.nonEmpty && wantsGzip(r)) {
        ex.getResponseHeaders.add("Content-Encoding", "gzip")
        val buf = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(buf)
        gz.write(raw); gz.close()
        buf.toByteArray
      } else raw
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1L else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The reference's `<data …/>` reply document (InsertServlet,
    * DeleteServlet, QueryServlet's ESTCARD/HASSTMT, BackupServlet):
    * one attribute per pair, in order. */
  private def data(r: Request, attrs: (String, Any)*): Unit =
    respond(r, 200, "application/xml", attrs
      .map { case (k, v) => s"""$k="${esc(v.toString)}"""" }
      .mkString("""<?xml version="1.0"?><data """, " ", "/>"))

  /** Chunked-transfer document: `head`, then `rows` joined by `sep`,
    * then `foot` — written as each partition's iterator arrives, so
    * the driver holds one partition of rows at a time, never the
    * result set. */
  private def respondStream(r: Request, contentType: String, head: String,
                            rows: Iterator[String], sep: String,
                            foot: String): Unit = {
    val ex = r.ex
    // force the FIRST partition's job before committing the status
    // line: a query error (or a cancelQuery) during it surfaces as a
    // clean 400 rather than an aborted 200 stream. Later partitions'
    // errors abort mid-stream — the floor of true streaming.
    rows.hasNext
    ex.getResponseHeaders.add("Content-Type", contentType)
    // transfer compression composes with chunking: a 100-GB N-Triples
    // export over HTTP is mostly repeated IRIs — gzip when asked
    val gzip = wantsGzip(r)
    if (gzip) ex.getResponseHeaders.add("Content-Encoding", "gzip")
    ex.sendResponseHeaders(200, 0) // 0 = chunked
    val sink: java.io.OutputStream =
      if (gzip) new java.util.zip.GZIPOutputStream(ex.getResponseBody, 8192)
      else ex.getResponseBody
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(sink, "UTF-8"))
    out.write(head)
    var first = true
    rows.foreach { r =>
      if (!first) out.write(sep)
      out.write(r); first = false
    }
    out.write(foot)
    out.flush(); out.close(); ex.close()
  }

  /** Minimal RFC 7231 Accept negotiation: parse the media-range list
    * with q-values and return the SUPPORTED type with the highest q
    * (exact ranges beat wildcards at equal q, header order breaks
    * remaining ties, q=0 excludes). None when the header names no
    * supported type — [[pick]] then falls back to its loose match
    * (the `Accept: xml` curl convenience). */
  private def negotiate(accept: String, supported: Seq[String]): Option[String] = {
    val ranges = accept.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      .zipWithIndex.map { case (r, i) =>
        val parts = r.split(';').map(_.trim)
        val q = parts.tail.collectFirst {
          case p if p.toLowerCase.startsWith("q=") =>
            p.drop(2).toDoubleOption.getOrElse(1.0)
        }.getOrElse(1.0)
        (parts.head.toLowerCase, q, i)
      }
    // RFC 7231 §5.3.2 precedence: a supported type's quality comes
    // from its MOST SPECIFIC matching range (exact > type/* > */*) —
    // a wildcard's q must not override the q the client put on the
    // type itself
    def spec(t: String, s: String): Int =
      if (t == s) 3
      else if (t != "*/*" && t.endsWith("/*") && s.startsWith(t.stripSuffix("*"))) 2
      else if (t == "*/*") 1
      else 0
    val scored = supported.flatMap { s =>
      val ms = ranges.filter { case (t, _, _) => spec(t, s) > 0 }
      if (ms.isEmpty) None
      else {
        val (_, q, i) = ms.maxBy { case (t, _, i) => (spec(t, s), -i) }
        Some((s, q, i))
      }
    }
    if (scored.isEmpty) None // nothing parseable matched → loose-value dispatch
    else {
      val acceptable = scored.filter(_._2 > 0)
      // every matched type carries q=0: the client excluded them all —
      // RFC 7231 lets the server ignore the header; serve the default
      // rather than an EXPLICITLY excluded type via substring dispatch
      if (acceptable.isEmpty) Some(supported.head)
      else Some(acceptable.minBy { case (_, q, i) => (-q, i) }._1)
    }
  }

  // ---- result formats ---------------------------------------------

  /** One result serialization — THE format table: its media type, its
    * `format=` aliases, the substring a loose `Accept` value selects it
    * by, its W3C format-registry name (the Service Description's
    * `sd:resultFormat`), and its streamed writer: `head(vars)`, one
    * line of `rows(df)` per row joined by `sep`, then `foot`. `ask`
    * renders an ASK result's boolean document, where the format has
    * one. */
  private final case class Format(mediaType: String, aliases: Seq[String], key: String,
                                  w3cName: String, head: Seq[String] => String,
                                  rows: DataFrame => DataFrame, sep: String, foot: String,
                                  ask: Option[Boolean => String] = None)

  /** SELECT results; the two SPARQL results documents also answer ASK. */
  private val bindingFormats = Seq(
    Format("application/sparql-results+json", Seq("json"), "results+json",
      "SPARQL_Results_JSON", Serializer.sparqlJsonHead, Serializer.sparqlJsonBindings,
      ",", Serializer.sparqlJsonFoot, Some(Serializer.sparqlAskJson _)),
    Format("application/sparql-results+xml", Seq("xml"), "xml",
      "SPARQL_Results_XML", Serializer.sparqlXmlHead, Serializer.sparqlXmlResults,
      "", Serializer.sparqlXmlFoot, Some(Serializer.sparqlAskXml _)),
    Format("text/csv", Seq("csv"), "csv", "SPARQL_Results_CSV",
      _.mkString(",") + "\r\n", Serializer.sparqlCsvRows, "\r\n", ""),
    Format("text/tab-separated-values", Seq("tsv"), "tab-separated", "SPARQL_Results_TSV",
      _.map("?" + _).mkString("\t") + "\n", Serializer.sparqlTsvRows, "\n", ""))

  private val askFormats = bindingFormats.filter(_.ask.isDefined)

  private val NTriples = Format("application/n-triples", Seq("ntriples", "nt"), "n-triples",
    "N-Triples", _ => "", Serializer.toNTriples, "\n", "")

  /** CONSTRUCT / DESCRIBE results (the reference negotiates Rio writers
    * the same way); N-Triples is the default. */
  private val graphFormats = Seq(NTriples,
    Format("text/turtle", Seq("turtle", "ttl"), "turtle", "Turtle",
      _ => Serializer.turtleHeader() + "\n", Serializer.toTurtle(_), "\n", ""),
    Format("application/ld+json", Seq("jsonld"), "ld+json", "JSON-LD",
      _ => "{\"@context\":" + Serializer.jsonLdContext() + ",\"@graph\":[",
      Serializer.toJsonLdCompact(_), ",", "]}"))

  /** Statements with their graph: GETSTMTS and `?convert` only. */
  private val NQuads = Format("application/n-quads", Nil, "n-quads", "N-Quads",
    _ => "", Serializer.toNQuads, "\n", "")

  /** The format of `fs` the client asked for: RFC 7231 negotiation,
    * else the first whose key the header contains, else the first. */
  private def pick(accept: String, fs: Seq[Format]): Format =
    negotiate(accept, fs.map(_.mediaType)).flatMap(t => fs.find(_.mediaType == t))
      .orElse(fs.find(f => accept.contains(f.key)))
      .getOrElse(fs.head)

  /** `df` streamed as format `f`'s document. */
  private def stream(r: Request, f: Format, df: DataFrame): Unit =
    respondStream(r, f.mediaType, f.head(df.columns.toSeq),
      f.rows(df).toLocalIterator().asScala.map(_.getString(0)), f.sep, f.foot)

  // ---- request decisions ------------------------------------------

  /** `includeInferred` (QueryServlet.java:140, default true): false
    * reads the ASSERTED statements — meaningful on a truth-maintenance
    * namespace, identity elsewhere. */
  private def inferred(r: Request): Boolean =
    r.param("includeInferred").forall(_.toBoolean)

  /** THE READ VIEW of every read (query, HASSTMT, GETSTMTS, ESTCARD):
    * `?timestamp=<version>` is a read-only tx against that commit point
    * (the reference's TxServlet/timestamp knob), `?tx=<id>` reads
    * inside an open transaction — start snapshot + own staged writes —
    * and otherwise the head; each entailed or asserted per
    * [[inferred]]. */
  private def readView(r: Request, ns: String): Graft = {
    val t = tenant(ns)
    (r.param("timestamp").map(_.toLong), r.param("tx")) match {
      case (Some(v), _)     => if (inferred(r)) t.at(v) else t.assertedAt(v)
      case (None, Some(id)) => txView(id, ns)
      case (None, None)     => if (inferred(r)) t.current else t.asserted
    }
  }

  /** `suppressTruthMaintenance=true` (QueryServlet.java:132,
    * DeleteServlet.java:128): skip closure maintenance for THIS
    * request — a no-op on non-TM namespaces. */
  private def suppress(r: Request): Boolean =
    r.param("suppressTruthMaintenance").exists(_.toBoolean)

  /** Compile with THIS namespace's journal answering bd:history (the
    * built plan carries the segment scans; execution needs no scope),
    * capped at a `?timestamp=` read view's version. An in-memory
    * namespace compiles in a PINNED journal-less scope: its bd:history
    * fails loud, never falling through to a process-global default
    * registration (cross-namespace history exposure). */
  private def compiled(ns: String, cap: Option[Long])(build: => DataFrame): DataFrame =
    tenant(ns).journal match {
      case Some(j) => graft.sparql.HistoryService.withJournal(j, cap)(build)
      case None    => graft.sparql.HistoryService.withoutJournal(build)
    }

  // ---- term + document decoding -----------------------------------

  /** Content-Type → LOAD extension; the single dispatch table of every
    * RDF body (InsertServlet's Rio format negotiation). */
  private val rdfContentTypes = Map(
    "text/turtle" -> "ttl", "application/x-turtle" -> "ttl",
    "application/n-triples" -> "nt", "text/plain" -> "nt",
    "application/rdf+xml" -> "rdf", "application/ld+json" -> "jsonld",
    "application/n-quads" -> "nq", "application/trig" -> "trig",
    "application/trix" -> "trix", "application/rdf+json" -> "rj",
    "text/rdf+n3" -> "n3", "text/n3" -> "n3")

  /** W3C format-registry names of the LOAD extensions (TriX has none):
    * the Service Description's `sd:inputFormat`. */
  private val w3cInputNames = Map("ttl" -> "Turtle", "nt" -> "N-Triples",
    "rdf" -> "RDF_XML", "jsonld" -> "JSON-LD", "nq" -> "N-Quads", "trig" -> "TriG",
    "rj" -> "RDF_JSON", "n3" -> "N3")

  private def rdfExtension(ct: String): Option[String] =
    rdfContentTypes.get(ct.split(';').head.trim.toLowerCase)

  /** Run `use` over an RDF document's quads — `ct` picks the parser —
    * then delete its spill file. The document is written to a spill
    * file and read by the distributed LOAD readers: the same code path
    * (and the same loud parse failures) as SPARQL LOAD. A POSTed body
    * is driver-received by protocol nature (and the spill file is
    * driver-local): bulk cluster-scale ingest goes through `?uri=`
    * against shared storage instead, where executors read the
    * document directly. Every mutation path materializes the parsed
    * data before it returns, so a long-lived server does not
    * accumulate request bodies on disk. */
  private def withDocument[T](ct: String, bytes: Array[Byte], graph: Option[String],
                              defaultGraph: String)(use: DataFrame => T): T = {
    val ext = rdfExtension(ct).getOrElse(sys.error(s"unsupported RDF content type: '$ct'"))
    val tmp = Files.createTempFile("graft_post", s".$ext")
    try {
      Files.write(tmp, bytes)
      use(Update.loadOpQuads(spark, s"file://$tmp", graph, defaultGraph))
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** Minimal multipart/form-data reader for the UPDATE-with-body
    * servlet shape (two RDF document parts named `add`/`remove`):
    * field name from Content-Disposition, part Content-Type for the
    * parser dispatch, raw body bytes. Preamble/epilogue per RFC 2046;
    * good for document parts (no nested multiparts). */
  private def multipartParts(body: Array[Byte],
                             contentType: String): Map[String, (String, Array[Byte])] = {
    val boundary = contentType.split(';').map(_.trim)
      .collectFirst { case p if p.toLowerCase.startsWith("boundary=") =>
        p.substring("boundary=".length).stripPrefix("\"").stripSuffix("\"") }
      .getOrElse(sys.error("multipart body without a boundary parameter"))
    val text = new String(body, "ISO-8859-1") // byte-preserving charset
    // RFC 2046 §5.1.1: a delimiter is only valid at a LINE START —
    // split on CRLF+"--boundary" so a part whose content merely
    // contains the boundary byte sequence mid-line stays intact. The
    // body's FIRST delimiter has no preceding CRLF; prefixing one
    // makes the split rule uniform.
    val delim = "\r\n--" + boundary
    ("\r\n" + text).split(java.util.regex.Pattern.quote(delim)).toSeq
      .drop(1)                                  // preamble
      .takeWhile(p => !p.startsWith("--"))      // closing delimiter
      .flatMap { part =>
        val p = part.stripPrefix("\r\n")
        val headerEnd = p.indexOf("\r\n\r\n")
        if (headerEnd < 0) None
        else {
          val headers = p.substring(0, headerEnd).split("\r\n").toSeq
          def header(n: String): Option[String] = headers
            .find(_.toLowerCase.startsWith(n.toLowerCase + ":"))
            .map(_.split(":", 2)(1).trim)
          val name = header("Content-Disposition")
            .flatMap(_.split(';').map(_.trim)
              .collectFirst { case a if a.startsWith("name=") =>
                a.substring(5).stripPrefix("\"").stripSuffix("\"") })
          val ct = header("Content-Type").getOrElse("")
          // the CRLF preceding the next delimiter was consumed by the
          // delimiter split itself (it belongs to the delimiter, RFC
          // 2046), so the remainder is the EXACT part body
          val raw = p.substring(headerEnd + 4)
          name.map(n => n -> (ct, raw.getBytes("ISO-8859-1")))
        }
      }.toMap
  }

  /** The quad access path for ESTCARD/GETSTMTS/HASSTMT and
    * DELETE-by-access-path: bound terms prune the scan (the
    * narrow-scan pruning the quad source already proves). Each term
    * is an N-Triples token (`<iri>`, `"lit"@lang`, `_:b`), or a bare
    * term value. */
  private def accessPath(g: Graft, r: Request): DataFrame =
    Seq("s" -> "s", "p" -> "p", "o" -> "o", "c" -> "g").foldLeft(g.store.quads) {
      case (df, (param, column)) =>
        r.param(param).fold(df)(term => df.filter(col(column) === Lexicon.fromToken(term)))
    }

  // ---- handlers ---------------------------------------------------

  private def isGraphResult(ast: Algebra): Boolean = ast match {
    case _: graft.sparql.Construct | _: graft.sparql.Describe |
         _: graft.sparql.DescribeWhere => true
    case _ => false
  }

  /** A write's graph-result query (CONSTRUCT / DESCRIBE), parsed once. */
  private def graphQuery(q: String, what: String): Algebra = {
    val ast = Parser.parse(q)
    require(isGraphResult(ast), s"$what requires CONSTRUCT or DESCRIBE")
    ast
  }

  private def handleQuery(r: Request, ns: String): Unit = r.method match {
    case "HEAD" =>
      // HEAD /sparql: endpoint liveness probe (generic clients and
      // monitors send it; the reference's servlets inherit it from
      // HttpServlet) — status + headers, NO body. The namespace must
      // resolve FIRST: a monitor probing a deleted namespace must
      // see the same 4xx a GET would, not a healthy 200
      tenant(ns)
      r.ex.getResponseHeaders.set("Content-Type", "application/n-triples")
      r.ex.sendResponseHeaders(200, -1)
      r.ex.close()
    // QueryServlet.java:183: mint a UUID server-side as text/plain
    // (RFC 4122 has no REST method, so the reference added one); GET
    // and POST alike, checked before the content-type arms
    case _ if r.flag("uuid") =>
      respond(r, 200, "text/plain", java.util.UUID.randomUUID().toString)
    case _ if r.flag("HASSTMT") => handleHasStmt(r, ns)
    // UPDATE-with-query: atomic delete-described + insert-body
    case "PUT" => handleUpdateWithQuery(r, ns)
    // UPDATE via POST w/ multipart add/remove parts
    case "POST" if r.flag("updatePost") => handleUpdateWithParts(r, ns)
    // DELETE via POST w/ body (clients that cannot send a DELETE body
    // — RESTServlet.java:275)
    case "POST" if r.flag("delete") => handleDelete(r, ns)
    // SPARQL 1.1 Service Description — the reference answers a bare
    // GET on the endpoint with one (BigdataRDFServlet / VoID+SD
    // document); N-Triples, one line per statement
    case "GET" if r.bare => handleServiceDescription(r, ns)
    case "GET" if r.flag("ESTCARD") => handleEstcard(r, ns)
    case "GET" if r.flag("CONTEXTS") => handleContexts(r, ns)
    case "GET" if r.flag("GETSTMTS") => handleGetStmts(r, ns)
    case "DELETE" => handleDelete(r, ns)
    // the reference dispatches update bodies from /sparql by content
    // type (UpdateServlet via RESTServlet)
    case "POST" if r.contentType.startsWith("application/sparql-update") => handleUpdate(r, ns)
    case "POST" if rdfExtension(r.contentType).isDefined || r.flag("uri") => handleInsert(r, ns)
    // the SPARQL 1.1 Protocol's URL-encoded POST binding, the
    // reference's RESTServlet form dispatch: query= runs, else
    // update= takes the update path, else a form with neither is not
    // guessed at
    case "POST" if r.isForm => r.param("query") match {
      case Some(q) => execQuery(r, ns, q)
      case None if r.param("update").isDefined => handleUpdate(r, ns)
      case None => sys.error("no query or update in form")
    }
    // a DECLARED media type none of the arms above recognize → 415
    // (sparql11-protocol: the direct-POST query binding is
    // application/sparql-query). A POST with NO Content-Type stays the
    // permissive query-text convenience.
    case "POST" if r.contentType.nonEmpty &&
                   !r.contentType.startsWith("application/sparql-query") =>
      respond(r, 415, "text/plain", s"unsupported media type: ${r.contentType}")
    case m =>
      val q = if (m == "GET") r.param("query") else Some(r.text)
      execQuery(r, ns, q.getOrElse(sys.error("no query in request")))
  }

  /** Execute query text `q` against the request's [[readView]] and
    * render per its protocol knobs (`format=`, `explain`, the
    * protocol dataset, the deadline) — shared by every dispatch arm
    * that carries a query. */
  private def execQuery(r: Request, ns: String, q: String): Unit = {
    // ?format=json|xml|csv|tsv|turtle|ntriples|jsonld overrides the
    // Accept header (the reference's format= convenience for curl)
    val accept = r.param("format").fold(r.accept) { f =>
      (bindingFormats ++ graphFormats).find(_.aliases.contains(f))
        .getOrElse(sys.error(s"unknown format: $f")).mediaType
    }
    // the deadline covers compile-time jobs too (ASK's existence
    // probe, the first read's merge view)
    ongoing.foreach(_.arm(queryTimeoutMs(r)))
    val g = readView(r, ns)
    val ast = Parser.parse(q)
    // SPARQL 1.1 Protocol §2.1.4: a protocol-supplied RDF dataset
    // (repeatable default-graph-uri=/named-graph-uri=, query string or
    // form body) takes precedence over the query's own FROM / FROM
    // NAMED. IRIs intern like every other loader path.
    val dgs = r.all("default-graph-uri").map(Lexicon.intern)
    val ngs = r.all("named-graph-uri").map(Lexicon.intern)
    val df = compiled(ns, r.param("timestamp").map(_.toLong)) {
      g.query(
        if (dgs.isEmpty && ngs.isEmpty) ast
        else graft.sparql.ProtocolDataset.overrideIn(ast, dgs, ngs))
    }
    if (r.flag("explain")) {
      // the reference's ?explain: the query PLAN, not the results.
      // maxBopLength clamps the rendered plan (the reference's
      // StatusServlet/BigdataRDFContext parameter — a pathological
      // plan must not produce an unbounded response body);
      // 0 = unlimited, matching the reference's interpretation.
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val cap = r.param("maxBopLength").map(_.toInt).getOrElse(0)
      val body =
        if (cap > 0 && plan.length > cap)
          plan.take(cap) + s"\n… [truncated at maxBopLength=$cap of ${plan.length} chars]"
        else plan
      respond(r, 200, "text/plain", body)
    } else ast match {
      case _: Ask =>
        val f = pick(accept, askFormats)
        respond(r, 200, f.mediaType, f.ask.get(df.collect().head.getBoolean(0)))
      case _ if isGraphResult(ast) => stream(r, pick(accept, graphFormats), df)
      case _ => stream(r, pick(accept, bindingFormats), df)
    }
  }

  /** SPARQL 1.1 Service Description (§3): what this endpoint speaks,
    * as N-Triples over the `sd:` vocabulary. */
  private def handleServiceDescription(r: Request, ns: String): Unit = {
    val sd = "http://www.w3.org/ns/sparql-service-description#"
    val formats = "http://www.w3.org/ns/formats/"
    val b = "_:svc"
    val lines = Seq(
      s"""$b <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <${sd}Service> .""",
      s"""$b <${sd}endpoint> <$address/namespace/$ns/sparql> .""",
      s"""$b <${sd}supportedLanguage> <${sd}SPARQL11Query> .""",
      s"""$b <${sd}supportedLanguage> <${sd}SPARQL11Update> .""",
      s"""$b <${sd}feature> <${sd}UnionDefaultGraph> .""",
      s"""$b <${sd}feature> <${sd}BasicFederatedQuery> .""") ++
      (bindingFormats ++ graphFormats).map(f =>
        s"""$b <${sd}resultFormat> <$formats${f.w3cName}> .""") ++
      rdfContentTypes.values.flatMap(w3cInputNames.get).toSeq.distinct.sorted.map(n =>
        s"""$b <${sd}inputFormat> <$formats$n> .""")
    respond(r, 200, "application/n-triples", lines.mkString("\n"))
  }

  /** `POST /sparql` with an RDF document body (InsertServlet.java:61:
    * POST-with-body; content-type picks the parser, `context-uri`
    * the target graph), or `?uri=<document-url>` (InsertServlet's
    * POST-with-URIs form, `file:` scheme — a cluster ingests from
    * shared storage, not by tunneling bytes through the coordinator).
    * Under `?tx=` the statements stage instead of committing. */
  private def handleInsert(r: Request, ns: String): Unit = {
    val graph = r.param("context-uri").orElse(r.param("graph")).map(Lexicon.intern)
    val t = tenant(ns)
    def land(quads: DataFrame): Unit = r.param("tx") match {
      case Some(id) =>
        // materialize before the spill file drops, then stage
        val staged = quads.localCheckpoint()
        stageTx(id, ns, Right(staged))
        data(r, "modified" -> staged.count(), "staged" -> true)
      case None =>
        data(r, "modified" -> t.ingest(quads, suppress(r)))
    }
    r.param("uri") match {
      case Some(uri) =>
        require(uri.startsWith("file:"), s"only file: ingest URIs are supported, got $uri")
        land(Update.loadOpQuads(spark, uri, graph, t.current.defaultGraph))
      case None => withDocument(r.contentType, r.body, graph, t.current.defaultGraph)(land)
    }
  }

  /** `PUT /sparql?query=<CONSTRUCT|DESCRIBE>` with an RDF body
    * (UpdateServlet.java:90 `doUpdateWithQuery`): ATOMIC update — the
    * query's materialized statements are removed and the body's
    * statements inserted as ONE commit; `<data modified="removed+
    * inserted"/>`. The curl-script shape for "replace what this query
    * describes with this document". */
  private def handleUpdateWithQuery(r: Request, ns: String): Unit = {
    val t = tenant(ns)
    val ast = graphQuery(
      r.param("query").getOrElse(sys.error("PUT update needs ?query=<CONSTRUCT|DESCRIBE>")),
      "PUT update")
    withDocument(r.contentType, r.body, None, t.current.defaultGraph) { adds =>
      data(r, "modified" ->
        t.updateWithBody(t.current.query(ast).select("s", "p", "o"), adds, suppress(r)))
    }
  }

  /** `POST /sparql?updatePost` with a multipart body carrying RDF
    * document parts named `remove` and `add` (UpdateServlet.java:817
    * `doUpdateWithBody`): atomic remove+insert in one request; each
    * part's own Content-Type picks its parser. */
  private def handleUpdateWithParts(r: Request, ns: String): Unit = {
    val t = tenant(ns)
    require(r.contentType.toLowerCase.startsWith("multipart/"),
      s"updatePost needs a multipart body, got '${r.contentType}'")
    val parts = multipartParts(r.body, r.contentType)
    require(parts.contains("add") || parts.contains("remove"),
      "updatePost needs an 'add' and/or 'remove' part")
    def part(name: String)(use: DataFrame => Unit): Unit = parts.get(name) match {
      case Some((ct, bytes)) => withDocument(ct, bytes, None, t.current.defaultGraph)(use)
      case None              => use(emptyQuads)
    }
    part("remove") { remove =>
      part("add") { add =>
        data(r, "modified" -> t.updateWithBody(remove.select("s", "p", "o"), add, suppress(r)))
      }
    }
  }

  /** `DELETE /sparql?query=<CONSTRUCT…>` or DELETE-with-body
    * (DeleteServlet.java); also reachable as `POST /sparql?delete`
    * with a body (RESTServlet.java:275 — the arm for clients that
    * cannot send DELETE with a body): removes the described
    * statements from every graph they appear in. */
  private def handleDelete(r: Request, ns: String): Unit = {
    val t = tenant(ns)
    // the delete query comes from the QUERY STRING (never the body —
    // under POST ?delete the body IS the RDF document to remove)
    val delQuery = r.param("query")
    def remove(spo: DataFrame): Unit = data(r, "modified" -> t.remove(spo, suppress(r)))
    if (delQuery.isEmpty && rdfExtension(r.contentType).isEmpty &&
        Seq("s", "p", "o", "c").exists(k => r.param(k).isDefined))
      // DELETE-by-access-path (DeleteServlet.java:106
      // doDeleteWithAccessPath): NT-encoded s/p/o/c terms choose the
      // doomed quads exactly like ESTCARD/GETSTMTS; `c=` scopes the
      // removal to one graph. A completely BARE DELETE stays loud
      // below — the reference wipes the namespace on an empty access
      // path, a foot-gun this server keeps behind the explicit update
      // path (DROP ALL).
      data(r, "modified" -> t.removeQuads(accessPath(t.current, r), suppress(r)))
    else delQuery match {
      case Some(q) =>
        val ast = graphQuery(q, "DELETE with query")
        remove(t.current.query(ast).select("s", "p", "o"))
      case None => withDocument(r.contentType, r.body, None, t.current.defaultGraph) { q =>
        remove(q.select("s", "p", "o"))
      }
    }
  }

  /** `GET /sparql?HASSTMT&s=&p=&o=&c=` (QueryServlet.java:159) —
    * boolean statement-existence probe over the chosen access path of
    * the request's [[readView]], like the reference's HasStmtTask.
    * Answers `<data result="…" milliseconds="…"/>`, the
    * buildAndCommitBooleanResponse document
    * (BigdataRDFServlet.java:530). The probe is a `LIMIT 1` existence
    * job over the pruned access path — never a count. */
  private def handleHasStmt(r: Request, ns: String): Unit = {
    val t0 = System.currentTimeMillis()
    val g = readView(r, ns)
    val found = !accessPath(g, r).isEmpty
    data(r, "result" -> found, "milliseconds" -> (System.currentTimeMillis() - t0))
  }

  /** `GET /sparql?ESTCARD&…` — the reference's fast range count
    * (QueryServlet.java:152: ESTCARD over the chosen access path of
    * the request's [[readView]]). The reference answers from B+Tree
    * page metadata; here an unbound or graph-only-bound count of the
    * full head view over a DURABLE, fully-compacted head is answered
    * from parquet FOOTERS (graph-partitioned segments scope the `c=`
    * term to one partition directory) — no Spark job, no data read;
    * the response carries `fastpath="metadata"` so callers (and
    * tests) can tell. Every other count runs exactly over the pruned
    * access path. */
  private def handleEstcard(r: Request, ns: String): Unit = {
    val t0 = System.currentTimeMillis()
    val head = inferred(r) && r.param("timestamp").isEmpty && r.param("tx").isEmpty
    val fast =
      if (!head || Seq("s", "p", "o").exists(k => r.param(k).isDefined)) None
      else tenant(ns).metadataCount(r.param("c").map(Lexicon.fromToken))
    val n = fast.getOrElse(accessPath(readView(r, ns), r).count())
    data(r, Seq("rangeCount" -> n, "milliseconds" -> (System.currentTimeMillis() - t0)) ++
      fast.map(_ => "fastpath" -> "metadata"): _*)
  }

  /** `POST /dataloader` (namespace-scoped: `/namespace/<ns>/dataloader`)
    * — the DataLoaderServlet analog (bigdata-sails/.../webapp/
    * DataLoaderServlet.java:61: POST a properties doc naming
    * server-visible files/dirs to mass-load). Body: `text/plain`, one
    * file path/dir/glob per line (`#` comments skipped); `?graph=`
    * targets a named graph, `?no-compact` skips the final seal. The
    * whole batch lands as ONE commit through the tenant's own journal
    * (single-pass: segment write + footer count). Non-`file:` schemes
    * are refused loudly, like `?uri=` ingest. */
  private def handleDataLoader(r: Request, ns: String): Unit = {
    require(r.method == "POST", "dataloader requires POST")
    val graph = r.param("graph").map(Lexicon.intern)
    val paths = r.text.split('\n').map(_.trim)
      .filter(p => p.nonEmpty && !p.startsWith("#")).toSeq
    require(paths.nonEmpty, "no input paths in body")
    paths.foreach { p =>
      require(!p.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*") || p.startsWith("file:"),
        s"only file: ingest paths are supported, got $p")
    }
    val (v, n) = tenant(ns).bulkLoad(paths, graph, compact = !r.flag("no-compact"))
    data(r, "modified" -> n, "version" -> v)
  }

  /** `GET /sparql?CONTEXTS` — the named graphs (QueryServlet CONTEXTS
    * op), as the reference's contexts XML document. */
  private def handleContexts(r: Request, ns: String): Unit = {
    val gs = tenant(ns).current.store.graphs.collect().map(_.getString(0)).sorted
    val body = gs.map(g => s"""<context uri="${esc(Lexicon.iri(g))}"/>""").mkString
    respond(r, 200, "application/xml",
      s"""<?xml version="1.0"?><contexts>$body</contexts>""")
  }

  /** `GET /sparql?GETSTMTS&…` — the matching statements of the
    * request's [[readView]] (BLZG-1207: getStatements honors
    * includeInferred), streamed as N-Quads (QueryServlet GETSTMTS /
    * ExportServlet analog). */
  private def handleGetStmts(r: Request, ns: String): Unit =
    stream(r, NQuads, accessPath(readView(r, ns), r))

  /** SPARQL 1.1 Graph Store Protocol (`/rdf-graphs?graph=<iri>` or
    * `?default`): GET streams the graph as N-Triples, PUT replaces it
    * with the request body (204), POST merges the body into it
    * (`<data modified>`), DELETE drops it (204); GET/DELETE of an
    * empty graph is a 404 per the spec. The reference exposes the
    * same operations through its Insert/Delete servlets; GSP adds the
    * standard URL shapes a generic client library expects. */
  private def handleGraphStore(r: Request, ns: String): Unit = {
    val t = tenant(ns)
    val g =
      if (r.flag("default")) t.current.defaultGraph
      else Lexicon.intern(r.param("graph").getOrElse(
        sys.error("graph store request needs ?graph=<iri> or ?default")))
    def graphRows = t.current.store.graph(g)
    r.method match {
      case "GET" =>
        if (graphRows.isEmpty) respond(r, 404, "text/plain", s"no graph: $g")
        else stream(r, NTriples, graphRows)
      case "PUT" => withDocument(r.contentType, r.body, Some(g), g) { quads =>
        t.putGraph(g, quads)
        respond(r, 204, "text/plain", "")
      }
      case "POST" => withDocument(r.contentType, r.body, Some(g), g) { quads =>
        data(r, "modified" -> t.ingest(quads))
      }
      case "DELETE" =>
        if (graphRows.isEmpty) respond(r, 404, "text/plain", s"no graph: $g")
        else { t.dropGraph(g); respond(r, 204, "text/plain", "") }
      case other => respond(r, 405, "text/plain", s"method not allowed: $other")
    }
  }

  /** `/sparql/update` and every form or body update: the ONE update
    * path. A `?tx=<id>` request stages its text in that transaction;
    * otherwise the request applies at once, under the protocol update
    * dataset (§2.2.3 `using-graph-uri` / `using-named-graph-uri`) and
    * [[suppress]]. */
  private def handleUpdate(r: Request, ns: String): Unit = {
    val text =
      if (r.isForm) r.param("update").getOrElse(sys.error("no update in form"))
      else r.text // application/sparql-update
    val ugs = r.all("using-graph-uri").map(Lexicon.intern)
    val ungs = r.all("using-named-graph-uri").map(Lexicon.intern)
    r.param("tx") match {
      case Some(id) =>
        require(ugs.isEmpty && ungs.isEmpty,
          "using-graph-uri/using-named-graph-uri are not supported on " +
            "staged (?tx=) updates — put USING in the update text")
        stageTx(id, ns, Left(text))  // staged, not committed
      case None =>
        val ops = Parser.parseUpdates(text)
        tenant(ns).updateOps(
          if (ugs.isEmpty && ungs.isEmpty) ops
          else graft.sparql.ProtocolDataset.usingIn(ops, ugs, ungs),
          suppress(r))
    }
    respond(r, 204, "text/plain", "")
  }

  /** `GET/POST /whitelist` — the SERVICE-endpoint whitelist config
    * (ast/service/ServiceRegistry.java:354-381's
    * add/removeServiceWhitelistURL + setWhitelistEnabled, surfaced
    * over the management plane). POST replaces: form/query
    * `enabled=true|false` + repeated `uri=`; GET reads the current
    * policy back. The registry is process-global, exactly like the
    * reference's singleton — one policy per JVM, all namespaces. */
  private def handleWhitelist(r: Request): Unit = {
    import graft.sparql.ServiceRegistry
    r.method match {
      case "GET" =>
        val uris = ServiceRegistry.whitelisted
          .map(u => s"<uri>${esc(u)}</uri>").mkString
        respond(r, 200, "application/xml",
          s"""<?xml version="1.0"?><whitelist enabled="${ServiceRegistry.isWhitelistEnabled}">$uris</whitelist>""")
      case "POST" =>
        // management-plane guard: the whitelist defends against
        // untrusted QUERIERS, so those same clients must not be
        // able to switch it off over HTTP. With
        // -Dgraft.whitelist.readonly=true (or a whitelist.readonly
        // marker beside the journals) the endpoint is read-only —
        // policy changes then happen only via config/filesystem,
        // the reference's config-file-fed registry posture.
        val readOnly =
          sys.props.get("graft.whitelist.readonly").exists(_.toBoolean) ||
            journalDir.exists(d =>
              Files.exists(Paths.get(d).resolve("whitelist.readonly")))
        if (readOnly)
          respond(r, 403, "text/plain",
            "whitelist endpoint is read-only (graft.whitelist.readonly)")
        else {
          val enabled = r.param("enabled")
            .getOrElse(sys.error("no enabled= in request")).toBoolean
          val uris = r.all("uri")
          ServiceRegistry.setWhitelist(enabled, uris)
          // durable servers persist the policy beside the journals;
          // startup re-applies it (the reference's singleton registry
          // is config-file-fed the same way)
          journalDir.foreach(d => Files.writeString(
            Paths.get(d).resolve("whitelist.conf"),
            (enabled.toString +: uris).mkString("\n")))
          respond(r, 200, "text/plain",
            s"whitelist: enabled=$enabled uris=${uris.size}")
        }
      case other => respond(r, 405, "text/plain", s"method not allowed: $other")
    }
  }

  /** `GET /status` (StatusServlet analog) — one line per running
    * [[Operation]]: every exchange in flight except the `/status` and
    * `/counters` reads themselves, as `id`, namespace (`-` before or
    * without one), age and text, under a `running: n served: m` head.
    * `?cancelQuery&queryId=<id>` cancels that operation's job group
    * (404 when none runs under that id). */
  private def handleStatus(r: Request): Unit =
    if (r.flag("cancelQuery")) {
      val id = r.param("queryId").getOrElse(sys.error("no queryId"))
      if (running.containsKey(id)) {
        Jobs.cancel(id)
        respond(r, 200, "text/plain", s"cancelled: $id")
      } else respond(r, 404, "text/plain", s"no such query: $id")
    } else {
      val now = System.currentTimeMillis()
      // maxBopLength: the reference's StatusServlet detail clamp —
      // how much of each running operation's text is rendered
      val cap = r.param("maxBopLength").map(_.toInt).filter(_ > 0).getOrElse(120)
      val rows = running.values.asScala.toSeq.sortBy(_.startedMs).map { op =>
        s"${op.id}\t${op.ns.getOrElse("-")}\t${now - op.startedMs}ms\t" +
          op.label.replace('\n', ' ').take(cap)
      }
      respond(r, 200, "text/plain",
        (s"running: ${rows.size} served: ${served.get()}" +: rows).mkString("\n"))
    }

  /** `POST /backup?target=<dir>` (bare + namespace-scoped) — online
    * journal snapshot (BackupServlet.java:62 analog): copies the
    * namespace's commit log + segments to a server-visible directory
    * under the namespace WRITE LOCK (quiesced — no commit lands
    * mid-copy), so the copy is itself an openable journal
    * (`Repository.open`/`SparqlServer.durable` reattach it as-is).
    * Durable namespaces only; non-file targets refused. */
  private def handleBackup(r: Request, ns: String): Unit = {
    require(r.method == "POST", "backup requires POST")
    val target = r.param("target")
      .getOrElse(sys.error("backup needs ?target=<server-visible-dir>"))
    require(!target.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*") || target.startsWith("file:"),
      s"only file: backup targets are supported, got $target")
    val v = tenant(ns).backup(Paths.get(target.stripPrefix("file://")))
    data(r, "backup" -> target, "version" -> v)
  }

  /** `GET /counters` — performance-counters document (CountersServlet
    * analog-lite): served/running totals over every [[Operation]] (each
    * exchange except the `/status` and `/counters` reads), aggregates
    * per namespace of the operations that resolved one, and the
    * recent-operation history ring. Deep executor/shuffle/IO metrics
    * are deliberately NOT re-implemented — that is the Spark UI's job
    * (the declared non-goal split). */
  private def handleCounters(r: Request): Unit = {
    val h = history.iterator().asScala.toSeq
    val byNs = h.flatMap(d => d.ns.map(_ -> d)).groupMap(_._1)(_._2).toSeq.sortBy(_._1).map {
      case (n, ds) =>
        val avg = ds.map(_.elapsedMs).sum / ds.size
        s"""<namespace name="${esc(n)}" ops="${ds.size}" avgMs="$avg" maxMs="${ds.map(_.elapsedMs).max}"/>"""
    }.mkString
    val recent = h.take(20).map { d =>
      val ns = d.ns.fold("")(n => s""" ns="${esc(n)}"""")
      s"""<op$ns ms="${d.elapsedMs}">${esc(d.op)}</op>"""
    }.mkString
    respond(r, 200, "application/xml",
      s"""<?xml version="1.0"?><counters served="${served.get()}" running="${running.size}">$byNs<recent>$recent</recent></counters>""")
  }

  /** Multi-request write transactions, minimal form (TxServlet.java:71
    * analog): `POST /tx` begins one (`?ns=` scopes it; default
    * namespace otherwise) and returns its id; requests carrying
    * `?tx=<id>` STAGE their mutation instead of committing;
    * `POST /tx/<id>/commit` publishes the staged sequence as ONE
    * journal commit — a head that moved since tx creation is a loud
    * 409 (first-committer-wins); `POST /tx/<id>/abort` discards.
    * Queries carrying `?tx=<id>` read INSIDE the transaction — the
    * start snapshot plus the tx's own staged writes ([[txView]]) —
    * while other connections never see staged state until commit:
    * the reference's full read/write-tx isolation. `?timestamp=`
    * remains the read-only commit-point knob. */
  private def handleTx(r: Request): Unit = {
    def commitTx(id: String): Unit = {
      val tx = txs.remove(id)
      if (tx == null) respond(r, 404, "text/plain", s"no such transaction: $id")
      else {
        val v = tenant(tx.ns).commitStaged(tx.items.synchronized(tx.items.toSeq), tx.startVersion)
        respond(r, 200, "application/xml",
          s"""<?xml version="1.0"?><tx txId="$id" committed="$v"/>""")
      }
    }
    def abortTx(id: String): Unit =
      if (txs.remove(id) == null) respond(r, 404, "text/plain", s"no such transaction: $id")
      else respond(r, 200, "application/xml",
        s"""<?xml version="1.0"?><tx txId="$id" aborted="true"/>""")
    // validate-without-commit; advisory (no lock is held between
    // prepare and commit — the reference's single-writer semantics
    // make the same caveat)
    def prepareTx(id: String): Unit = {
      val tx = txs.get(id)
      if (tx == null) respond(r, 404, "text/plain", s"no such transaction: $id")
      else {
        tenant(tx.ns).prepareStaged(tx.items.synchronized(tx.items.toSeq), tx.startVersion)
        respond(r, 200, "application/xml",
          s"""<?xml version="1.0"?><tx txId="$id" prepared="true"/>""")
      }
    }
    val rest = r.path.stripPrefix("/tx").stripPrefix("/")
    (if (rest.isEmpty) Nil else rest.split("/").toList, r.method) match {
      case (Nil, "POST") =>
        val ns = r.param("ns").getOrElse(defaultNamespace)
        val t = tenant(ns)
        val id = java.util.UUID.randomUUID().toString
        txs.put(id, Tx(id, ns, t.version, t.current,
          scala.collection.mutable.Buffer.empty, System.currentTimeMillis()))
        respond(r, 201, "application/xml",
          s"""<?xml version="1.0"?><tx txId="$id" namespace="$ns" readsOnCommitTime="${t.version}"/>""")
      case (Nil, "GET") =>
        val rows = txs.values.asScala.toSeq.sortBy(_.startedMs).map { t =>
          s"""<tx txId="${t.id}" namespace="${t.ns}" staged="${t.items.size}"/>"""
        }
        respond(r, 200, "application/xml",
          s"""<?xml version="1.0"?><txs>${rows.mkString}</txs>""")
      case (List(id, "commit"), "POST") => commitTx(id)
      case (List(id, "abort"), "POST")  => abortTx(id)
      // the reference's verb shape (TxServlet.java:82-94):
      // POST /tx/<id>?COMMIT|ABORT|PREPARE — param-dispatched
      case (List(id), "POST") if r.flag("COMMIT")  => commitTx(id)
      case (List(id), "POST") if r.flag("ABORT")   => abortTx(id)
      case (List(id), "POST") if r.flag("PREPARE") => prepareTx(id)
      case (List(_), "POST") =>
        respond(r, 405, "text/plain", "unsupported tx operation (COMMIT | ABORT | PREPARE)")
      case _ => respond(r, 405, "text/plain", "unsupported tx operation")
    }
  }

  /** Blueprints REST binding (BlueprintsServletProxy.java:41 analog):
    * the [[graft.graph.MutableGraph]] mutation surface over HTTP,
    * compiled onto the namespace's own SPARQL UPDATE write path —
    * durable tenants journal these like any update, and vertices/
    * edges ARE statements (the BigdataGraph mapping). POST form:
    * {{{
    *   op=addVertex&id=v[&label=L]        op=addEdge&out=a&label=p&in=b
    *   op=setProperty&id=v&key=k&value=x  op=removeProperty&id=v&key=k
    *   op=removeEdge&out=a&label=p&in=b   op=removeVertex&id=v
    * }}}
    * GET `?vertex=<id>` streams the vertex's statements as N-Triples
    * (mutate → traverse round-trip for a remote property-graph
    * client). */
  private def handleBlueprints(r: Request, ns: String): Unit =
    if (r.method == "GET") {
      val id = r.param("vertex").getOrElse(sys.error("GET needs ?vertex=<id>"))
      stream(r, NTriples, tenant(ns).current.store.quads
        .filter(col("s") === id).select("s", "p", "o").distinct())
    } else {
      require(r.method == "POST", "blueprints requires GET or POST")
      def p(k: String) = r.param(k).getOrElse(sys.error(s"missing param $k"))
      // ids render as IRIs (the parser interns them back to the
      // terms MutableGraph uses)
      def iri(x: String) = {
        require(x.matches("[^\\s<>\"{}|^`]+"), s"bad term: $x")
        "<" + Lexicon.iri(x) + ">"
      }
      def strLit(x: String) = "\"" + Lexicon.escape(x) + "\""
      val text = p("op") match {
        case "addVertex" =>
          s"INSERT DATA { ${iri(p("id"))} ${iri("type")} ${iri(r.param("label").getOrElse("Vertex"))} }"
        case "addEdge" =>
          s"INSERT DATA { ${iri(p("out"))} ${iri(p("label"))} ${iri(p("in"))} }"
        case "setProperty" =>
          s"DELETE { ${iri(p("id"))} ${iri(p("key"))} ?o } WHERE { ${iri(p("id"))} ${iri(p("key"))} ?o } ; " +
            s"INSERT DATA { ${iri(p("id"))} ${iri(p("key"))} ${strLit(p("value"))} }"
        case "removeProperty" =>
          s"DELETE { ${iri(p("id"))} ${iri(p("key"))} ?o } WHERE { ${iri(p("id"))} ${iri(p("key"))} ?o }"
        case "removeEdge" =>
          s"DELETE DATA { ${iri(p("out"))} ${iri(p("label"))} ${iri(p("in"))} }"
        case "removeVertex" =>
          s"DELETE { ${iri(p("id"))} ?p ?o } WHERE { ${iri(p("id"))} ?p ?o } ; " +
            s"DELETE { ?s ?p ${iri(p("id"))} } WHERE { ?s ?p ${iri(p("id"))} }"
        case other => sys.error(s"unknown blueprints op: $other")
      }
      tenant(ns).update(text)
      respond(r, 204, "text/plain", "")
    }

  /** The workbench query form: a namespace switcher + textarea whose
    * POST renders an HTML bindings table ([[handleWorkbench]]). */
  private def workbenchForm(selectedNs: String,
                            queryText: String =
                              "SELECT ?s ?p ?o WHERE { ?s ?p ?o } LIMIT 10"): String = {
    val opts = namespaces.keys.asScala.toSeq.sorted.map { ns =>
      val sel = if (ns == selectedNs) " selected" else ""
      s"""<option value="${esc(ns)}"$sel>${esc(ns)}</option>"""
    }.mkString
    s"""<form action="/workbench" method="post">
       |<label>namespace <select name="ns">$opts</select></label><br/>
       |<textarea name="query" rows="6" cols="80">${esc(queryText)}</textarea><br/>
       |<button type="submit">Run</button>
       |</form>
       |<h3>Update</h3>
       |<form action="/workbench" method="post">
       |<label>namespace <select name="ns">$opts</select></label><br/>
       |<textarea name="update" rows="4" cols="80"></textarea><br/>
       |<button type="submit">Apply</button>
       |</form>
       |<h3>New namespace</h3>
       |<form action="/namespace" method="post">
       |<input name="name" pattern="[A-Za-z0-9_-]+"/><button type="submit">Create</button>
       |</form>""".stripMargin
  }

  private def workbenchPage(body: String): String =
    s"""<!DOCTYPE html><html><head><title>graft workbench</title></head><body>
       |<h1>graft workbench</h1>$body</body></html>""".stripMargin

  /** Browser result rendering beyond the landing page
    * (WorkbenchServlet.java:45 / bigdata-war-html's query view, the
    * migration-comfort slice): the workbench form POSTs here and the
    * bindings render as an HTML table under the same form (namespace
    * switcher re-targets it). Row cap 500 keeps the page bounded —
    * the protocol endpoints stream full results; ASK renders its
    * boolean as a one-cell table through the same path. */
  private def handleWorkbench(r: Request): Unit = r.method match {
    case "GET" =>
      respond(r, 200, "text/html; charset=utf-8", workbenchPage(workbenchForm(defaultNamespace)))
    // WorkbenchServlet.java:63 ATTR_CONVERT: POST an RDF document; the
    // Content-Type picks the parser, the Accept header the streamed
    // output serialization — format conversion as a service (no store
    // touched)
    case "POST" if r.flag("convert") =>
      withDocument(r.contentType, r.body, None, "g:default") { quads =>
        val f = pick(r.accept, graphFormats :+ NQuads)
        stream(r, f, if (f eq NQuads) quads else quads.select("s", "p", "o"))
      }
    case "POST" =>
      val ns = r.param("ns").getOrElse(defaultNamespace)
      if (!namespaces.containsKey(ns)) sys.error(s"no namespace: $ns")
      r.param("update").filter(_.trim.nonEmpty) match {
        case Some(upd) =>
          // browser update form: apply through the namespace's own
          // write path, confirm with the workbench page
          tenant(ns).update(upd)
          respond(r, 200, "text/html; charset=utf-8", workbenchPage(
            s"<p>update applied to <code>${esc(ns)}</code></p>\n${workbenchForm(ns)}"))
        case None =>
          val q = r.param("query").getOrElse(sys.error("no query or update in form"))
          // the workbench compiles with the namespace's journal in
          // scope too — bd:history works from the form like /sparql
          val df = compiled(ns, None) { tenant(ns).current.query(q) }
          val (vars, rows) = (df.columns.toSeq, df.limit(501).collect())
          val shown = rows.take(500)
          val thead = vars.map(v => s"<th>${esc(v)}</th>").mkString
          val trs = shown.map { row =>
            vars.indices.map { i =>
              val v = if (row.isNullAt(i)) "" else String.valueOf(row.get(i))
              s"<td>${esc(v)}</td>"
            }.mkString("<tr>", "", "</tr>")
          }.mkString
          val note =
            if (rows.length > 500)
              "<p>(first 500 rows shown — the protocol endpoint streams full results)</p>"
            else ""
          respond(r, 200, "text/html; charset=utf-8", workbenchPage(
            s"""${workbenchForm(ns, q)}
               |<p>${shown.length} row(s) · namespace <code>${esc(ns)}</code></p>
               |<table border="1"><thead><tr>$thead</tr></thead><tbody>$trs</tbody></table>
               |$note""".stripMargin))
      }
    case _ => sys.error("workbench requires GET or POST")
  }

  /** Minimal workbench landing page (the spirit of
    * WorkbenchServlet.java:45, not the full browser workbench): each
    * namespace's endpoints plus a query form wired to the protocol's
    * own GET binding. */
  private def handleIndex(r: Request): Unit =
    if (r.path != "/") respond(r, 404, "text/plain", s"no such resource: ${r.path}")
    else {
      val nss = namespaces.keys.asScala.toSeq.sorted.map { ns =>
        s"""<li><b>$ns</b> — <a href="/namespace/$ns/sparql">sparql</a> · """ +
          s"""<a href="/namespace/$ns/properties">properties</a></li>"""
      }.mkString
      respond(r, 200, "text/html; charset=utf-8",
        s"""<!DOCTYPE html><html><head><title>graft</title></head><body>
           |<h1>graft SPARQL server</h1>
           |<p><a href="/status">status</a> · default namespace: <code>$defaultNamespace</code></p>
           |<h2>Namespaces</h2><ul>$nss</ul>
           |<h2>Query</h2>
           |${workbenchForm(defaultNamespace)}
           |</body></html>""".stripMargin)
    }

  /** MultiTenancyServlet's properties document, as the reference's
    * java.util.Properties XML format. */
  private def handleProperties(r: Request, ns: String): Unit = {
    val t = tenant(ns)
    val isTm = t.isInstanceOf[TmTenant]
    val props = Seq(
      "com.bigdata.rdf.sail.namespace" -> ns,
      "graft.quads" -> (!isTm).toString,
      "graft.durable" -> journalDir.isDefined.toString) ++
      (if (isTm) Seq("graft.truthMaintenance" -> "true") else Nil) ++
      journalDir.map(d => "graft.journal" -> s"$d/$ns") ++
      t.current.analyzerName.map("graft.analyzer" -> _) ++
      (if (t.current.textIndex.isDefined) Seq("graft.textIndex" -> "true") else Nil) ++
      (if (t.current.ospHash.isDefined) Seq("graft.ospIndex" -> "current") else Nil)
    val entries = props.map { case (k, v) => s"""<entry key="$k">$v</entry>""" }.mkString
    respond(r, 200, "application/xml",
      s"""<?xml version="1.0"?><!DOCTYPE properties SYSTEM "http://java.sun.com/dtd/properties.dtd"><properties>$entries</properties>""")
  }

  /** `POST /namespace` with `name=…` (and the creation options):
    * creates a namespace — 409 if it exists. */
  private def createNamespace(r: Request): Unit = {
    val name = r.param("name").getOrElse(sys.error("no name in request"))
    require(name.matches("[A-Za-z0-9_-]+"), s"bad namespace name: $name")
    def option(k: String) = r.param(k).exists(_.toBoolean)
    // optional per-namespace analyzer (bds:search default); persisted
    // beside a durable journal, restart reattaches it
    val analyzer = r.param("analyzer").filter(_.nonEmpty)
    // plain names are id-shaped; pattern:<regex> and
    // termcompletion:<subword>[:<soft>] carry their regexes verbatim
    // (any chars except newlines — the conf file is one line)
    analyzer.foreach(a => require(
      a.matches("[A-Za-z0-9_-]+") ||
        ((a.toLowerCase.startsWith("pattern:") ||
          a.toLowerCase.startsWith("termcompletion:")) &&
          !a.exists(c => c == '\n' || c == '\r')),
      s"bad analyzer name: $a"))
    // textIndex=true: create the namespace with a MAINTAINED persisted
    // literal text index (the reference's
    // AbstractTripleStore.Options.TEXT_INDEX namespace property) —
    // journal-backed namespaces only; it lives beside the journal and
    // syncs on every commit
    val wantTextIndex = option("textIndex")
    require(!wantTextIndex || journalDir.isDefined,
      "textIndex=true needs a journal-backed namespace " +
        "(start the server with a journal directory)")
    // ospIndex=true: every auto-compaction also lays down the
    // object-hash twin segment, so searchInSearch hit→subject joins
    // prune to the hits' buckets (the reference keeps its OSP index
    // beside SPO/POS the same way)
    val wantOspIndex = option("ospIndex")
    require(!wantOspIndex || journalDir.isDefined,
      "ospIndex=true needs a journal-backed namespace " +
        "(start the server with a journal directory)")
    // truthMaintenance=true: an INFERENCING namespace — the
    // reference's truth-maintenance namespace option (TM wired into
    // the commit path; suppressTruthMaintenance honored per update
    // request). Durable only: the maintained closure IS a pair of
    // journals.
    val wantTm = option("truthMaintenance")
    require(!wantTm || journalDir.isDefined,
      "truthMaintenance=true needs a journal-backed namespace " +
        "(start the server with a journal directory)")
    // analyzer/textIndex compose with TM (the index maintains over the
    // CLOSED journal); the OSP twin is tied to the Repository
    // compaction machinery and stays refused
    require(!wantTm || !wantOspIndex,
      "truthMaintenance namespaces do not support ospIndex " +
        "(the object-hash twin is a Repository compaction feature)")
    // computeIfAbsent decides the winner BEFORE any disk state is made
    // — no check-then-create window where a racing loser leaks a
    // freshly created journal directory; a journal dir already on disk
    // (but unattached) surfaces as Journal.create's "already exists" →
    // 409 below
    val createdNew = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      namespaces.computeIfAbsent(name, { _ =>
        val t: Tenant = journalDir match {
          case None => new MemTenant(new AtomicReference(
            Graft.empty(spark).copy(analyzerName = analyzer)))
          case Some(d) if wantTm =>
            val sub = Paths.get(d).resolve(name)
            Files.createDirectories(sub)
            val tmStore = graft.inference.MaintainedClosure
              .createDynamic(spark, sub.resolve("tm").toString)
            analyzer.foreach(a => Files.writeString(sub.resolve("analyzer.conf"), a))
            if (wantTextIndex)
              graft.rdf.TextIndexMaintenance.create(spark,
                sub.resolve("textindex").toString, tmStore.journals._2,
                analyzer.getOrElse("latin"))
            new TmTenant(tmStore, sub)
          case Some(d) =>
            val sub = Paths.get(d).resolve(name)
            val repo = Repository.create(spark, sub.toString)
            analyzer.foreach(a => Files.writeString(sub.resolve("analyzer.conf"), a))
            if (wantTextIndex)
              graft.rdf.TextIndexMaintenance.create(spark,
                sub.resolve("textindex").toString, repo.journal,
                analyzer.getOrElse("latin"))
            if (wantOspIndex)
              Files.writeString(sub.resolve("ospindex"), "true")
            new DurableTenant(repo, sub)
        }
        createdNew.set(true)
        t
      })
      if (createdNew.get) respond(r, 201, "text/plain", s"created: $name")
      else respond(r, 409, "text/plain", s"namespace exists: $name")
    } catch {
      case e: IllegalArgumentException
        if e.getMessage != null && e.getMessage.contains("already exists") =>
        respond(r, 409, "text/plain", s"namespace exists: $name")
    }
  }

  /** THE ROUTE TABLE of a namespace's resources: `/namespace/<ns>/<tail>`
    * for every tail, and the bare `/<tail>` default-namespace alias for
    * every tail but `properties`. */
  private val routes: Map[String, (Request, String) => Unit] = Map(
    "sparql" -> (handleQuery _), "sparql/update" -> (handleUpdate _),
    "rdf-graphs" -> (handleGraphStore _), "dataloader" -> (handleDataLoader _),
    "blueprints" -> (handleBlueprints _), "backup" -> (handleBackup _),
    "properties" -> (handleProperties _))

  private def handleNamespace(r: Request): Unit = {
    val rest = r.path.stripPrefix("/namespace").stripPrefix("/")
    (if (rest.isEmpty) Nil else rest.split("/").toList, r.method) match {
      case (Nil, "GET") =>
        // one description line per namespace, like the reference's
        // RDF answer (title + its scoped protocol endpoint)
        val lines = namespaces.keys.asScala.toSeq.sorted.map { ns =>
          s"""<$address/namespace/$ns/sparql> <http://purl.org/dc/terms/title> "$ns" ."""
        }
        respond(r, 200, "application/n-triples", lines.mkString("\n"))
      case (Nil, "POST") => createNamespace(r)
      case (List(ns), "DELETE") =>
        // the default namespace backs the bare /sparql alias — the
        // reference's MultiTenancyServlet protects its default KB the
        // same way
        if (ns == defaultNamespace)
          respond(r, 403, "text/plain", s"cannot delete the default namespace: $ns")
        else {
          val t = namespaces.remove(ns)
          if (t != null) { t.destroy(); respond(r, 200, "text/plain", s"deleted: $ns") }
          else respond(r, 404, "text/plain", s"no namespace: $ns")
        }
      case (ns :: tail, _) =>
        if (!namespaces.containsKey(ns)) respond(r, 404, "text/plain", s"no namespace: $ns")
        else routes.get(tail.mkString("/")) match {
          case Some(handle) => handle(r, ns)
          case None => respond(r, 404, "text/plain", s"no such resource: $rest")
        }
      case _ => respond(r, 405, "text/plain", "method not allowed")
    }
  }

  // the bare paths resolve the DEFAULT namespace per request — they
  // alias /namespace/<default>/… exactly, never a captured handle
  Seq("sparql/update", "sparql", "rdf-graphs", "dataloader", "blueprints", "backup")
    .foreach(tail => server.createContext("/" + tail, serve(routes(tail)(_, defaultNamespace))))
  server.createContext("/namespace", serve(handleNamespace))
  server.createContext("/status", serve(handleStatus, introspection = true))
  server.createContext("/whitelist", serve(handleWhitelist))
  server.createContext("/counters", serve(handleCounters, introspection = true))
  server.createContext("/tx", serve(handleTx))
  server.createContext("/workbench", serve(handleWorkbench))
  server.createContext("/", serve(handleIndex))

  def start(): this.type = { server.start(); this }
  /** Stop serving and free what the server holds: the handler and
    * deadline threads (the per-instance pools would otherwise leak
    * their threads per started server — noticeable in test suites)
    * and every namespace's cached head handle, whose materialized
    * merge view sits in block storage until released. */
  def stop(): Unit = {
    server.stop(0)
    handlers.shutdown()
    deadlines.shutdownNow()
    namespaces.values.asScala.foreach(_.release())
  }
}

object SparqlServer {
  /** A server whose namespaces are journal-backed [[Repository]]s
    * under `journalDir` — restart reattaches every namespace from
    * disk. `initial` seeds the default namespace's journal on FIRST
    * creation only (reattachment keeps the durable state).
    * `autoCompactEvery`: compact a namespace's journal after that
    * many uncompacted commits (bounds snapshot-resolution cost under
    * a steady REST write load; history before the latest compaction
    * stays readable until `vacuum`). */
  def durable(initial: Graft, journalDir: String, host: String = "127.0.0.1",
              port: Int = 0, defaultNamespace: String = "kb",
              autoCompactEvery: Int = 64): SparqlServer =
    new SparqlServer(initial, host, port, defaultNamespace, Some(journalDir),
      autoCompactEvery)

  /** One HTTP exchange, read once — THE request reader: nothing else
    * reads an exchange's query string or body. Its parameters are one
    * ordered multimap, servlet `getParameter` style: the query
    * string's pairs, then — for an `application/x-www-form-urlencoded`
    * body — the form's. [[param]] takes the first value, [[all]] every
    * value in order, [[flag]] tests presence (`?ESTCARD`, `?explain`).
    * The body is read at most once, so a form's parameters and its
    * bytes never race for it. */
  private[graft] final class Request(val ex: HttpExchange) {
    val method: String = ex.getRequestMethod
    val path: String = ex.getRequestURI.getPath
    def header(name: String): Option[String] = Option(ex.getRequestHeaders.getFirst(name))
    val contentType: String = header("Content-Type").getOrElse("")
    val accept: String = header("Accept").getOrElse("")
    def isForm: Boolean = contentType.startsWith("application/x-www-form-urlencoded")
    lazy val body: Array[Byte] = ex.getRequestBody.readAllBytes()
    def text: String = new String(body, StandardCharsets.UTF_8)
    private lazy val params: Seq[(String, Option[String])] =
      Request.pairs(Option(ex.getRequestURI.getRawQuery).getOrElse("")) ++
        (if (isForm) Request.pairs(text) else Nil)
    def param(k: String): Option[String] = params.collectFirst { case (`k`, Some(v)) => v }
    def all(k: String): Seq[String] = params.collect { case (`k`, Some(v)) => v }
    def flag(k: String): Boolean = params.exists(_._1 == k)
    /** No parameters at all (a bare `GET /sparql`). */
    def bare: Boolean = params.isEmpty
  }

  private[graft] object Request {
    /** The one URL decoder (`%XX` and `+`). */
    def decode(s: String): String = URLDecoder.decode(s, StandardCharsets.UTF_8)

    /** `k=v&flag&…` → (key, decoded value) pairs in order; a bare key
      * has no value. */
    private def pairs(raw: String): Seq[(String, Option[String])] =
      raw.split('&').toSeq.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k)    => k -> None
          case Array(k, v) => k -> Some(decode(v))
        }
      }
  }
}
