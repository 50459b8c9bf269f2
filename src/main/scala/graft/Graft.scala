package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.rdf.{QuadStore, Serializer}
import graft.sparql.{Algebra, ClearAll, ClearSolutions, Compiler, CreateSolutions, DeleteFromSolutions, DropSolutions, InsertIntoSolutions, Parser, ProtocolDataset, TriplePattern, TripleSource, Update, UpdateOp}

/** The migrating user's single entry point — the analog of the
  * reference's repository-connection surface
  * (bigdata-core/bigdata-sail/src/java/com/bigdata/rdf/sail/
  * BigdataSailRepositoryConnection: prepareTupleQuery / prepareUpdate /
  * add / export). Wraps a [[graft.rdf.QuadStore]]:
  *
  *   - `query` evaluates SPARQL text (SELECT/ASK/CONSTRUCT/DESCRIBE).
  *     The default graph is the RDF MERGE of all graphs (the
  *     reference's quads-mode default-graph-as-union behavior); GRAPH
  *     patterns range over the named graphs.
  *   - `update` applies a ';'-separated SPARQL UPDATE request and
  *     returns the new immutable handle (stores are functional plans).
  *   - `load` ingests any supported serialization by file extension
  *     (.ttl/.trig/.rdf/.rdfxml/.owl/.jsonld/.nt/.nq/parquet).
  *   - `exportNQuads` / `exportTurtle` serialize back out.
  *
  * Everything stays a lazy DataFrame plan — nothing evaluates until
  * the caller acts on a result. For tuned TPC-H-shaped access paths
  * (star fusion, per-table branch pruning) use the schema-aware
  * [[graft.rdf.TpchRdf]] source; this façade's generic source still
  * constant-folds pattern filters into the quad scan.
  */
final case class Graft(spark: SparkSession, store: QuadStore,
                       defaultGraph: String = "g:default",
                       unionDefaultGraph: Boolean = true,
                       analyzerName: Option[String] = None,
                       textIndex: Option[graft.search.SearchIndexView] = None,
                       ospHash: Option[String] = None,
                       solutionSets: Map[String, DataFrame] = Map.empty) {

  /** Set iff the union-default-graph merge view has been materialized
    * for this handle (see [[release]]). */
  @transient private[this] var mergedView: Option[DataFrame] = None

  private lazy val source: TripleSource = new TripleSource {
    // `unionDefaultGraph` mirrors the reference's quads-mode option
    // (BigdataSail UNION_DEFAULT_GRAPH, on by default there too):
    // true → queries' default graph is the RDF MERGE of all graphs
    // (set semantics: the same triple in two graphs is one triple);
    // false → strictly the `defaultGraph` named graph, no merge
    // distinct needed. The merge view is materialized ONCE per handle
    // (localCheckpoint — sound because stores are immutable per
    // handle): without it every pattern scan of every query re-pays
    // the full-store distinct shuffle, and the subtree can re-execute
    // within one multi-pattern plan. Trade-off: scans filter the
    // materialized blocks instead of pushing predicates into parquet —
    // at 100 TB the once-per-handle shuffle beats a per-scan one.
    // memoized via `mergedView` (NOT a lazy val: release() drops the
    // checkpoint blocks, so the next scan must re-materialize a fresh
    // view rather than reuse a DataFrame over dropped blocks)
    def triples: DataFrame =
      if (unionDefaultGraph) mergedView.getOrElse {
        val m = store.quads.select("s", "p", "o").distinct().localCheckpoint()
        mergedView = Some(m)
        m
      } else store.graph(defaultGraph)
    def fuseStar(patterns: Seq[TriplePattern],
                 subjectTables: Option[Set[String]]): Option[DataFrame] = None
    override def quads: Option[DataFrame] = Some(store.quads)
    // bds:search over a real store searches its LITERALS — the
    // reference's FullTextIndex indexes every literal's lexical form
    // and binds the matched literal term (SearchServiceFactory). The
    // corpus is the distinct object-literal set (vocabulary-sized, a
    // cheap aggregate; at production scale this IS the persisted
    // literal index FullText.invertedIndex builds once); doc_id = the
    // full term so hits bind/render as literals, text = the lexical
    // form (tag-stripped) so tokenization sees the value.
    // per-namespace analyzer config (ConfigurableAnalyzerFactory):
    // bds:search without bds:analyzer tokenizes with this
    override def defaultAnalyzer: Option[String] = analyzerName
    // persisted-index production shape: when a namespace keeps a
    // maintained literal index (server `textIndex=true`, or
    // TextIndexMaintenance by hand), bds:search and
    // bds:searchInSearch plan index lookups instead of the
    // vocabulary-sized distinct below — for a quad store the search
    // corpus IS the literal space, so one index serves both slots
    override def searchIndex: Option[graft.search.SearchIndexView] = textIndex
    override def literalIndex: Option[graft.search.SearchIndexView] = textIndex
    override def searchCorpus: Option[DataFrame] =
      Some(graft.sparql.BuiltinServices.literalSpace(store.quads))
    // durable OSP-hash twin (Journal.compact(ospHashTwin = true)):
    // hit→subject joins prune to the hits' object-hash partition
    // directories instead of paying the full-view pass. The twin holds
    // the store's WHOLE distinct (s,p,o) — exactly the union-default
    // merge view; a non-union handle must not leak other graphs' rows,
    // so it keeps the default path.
    override def scanForObjects(objs: DataFrame): DataFrame = ospHash match {
      case Some(path) if unionDefaultGraph =>
        graft.rdf.TripleStorage.scanForObjectsPruned(spark, path, objs)
      case _ => super.scanForObjects(objs)
    }
    override def objectKeyedScan: Boolean =
      ospHash.isDefined && unionDefaultGraph
  }

  /** SPARQL query text → result DataFrame (solutions, triples for
    * CONSTRUCT/DESCRIBE, or a 1-row boolean for ASK). The handle's
    * [[solutionSets]] (built by `INSERT INTO %set` updates) are in
    * INCLUDE scope. */
  def query(q: String): DataFrame =
    Compiler.withNamedSolutionSets(solutionSets)(
      Compiler.compile(Parser.parse(q), source))

  /** Compile an ALREADY-PARSED (possibly transformed) query against
    * this handle — the seam the server's protocol knobs use (e.g. a
    * protocol-supplied dataset rewrites the AST before compiling). */
  def query(ast: Algebra): DataFrame =
    Compiler.withNamedSolutionSets(solutionSets)(Compiler.compile(ast, source))

  /** [[query]] with EXTERNALLY-supplied named solution sets in scope:
    * `INCLUDE %name` resolves against `sets` when the query has no
    * WITH definition for it — the reference's SolutionSetManager seam
    * (a set persisted by `INSERT INTO SOLUTIONS` or created by a
    * harness is INCLUDEable without being defined in the query). Each
    * DataFrame's columns are the set's variable names; a null cell is
    * an unbound slot. Merges OVER the handle's own sets. */
  def query(q: String, namedSolutionSets: Map[String, DataFrame]): DataFrame =
    Compiler.withNamedSolutionSets(solutionSets ++ namedSolutionSets)(
      Compiler.compile(Parser.parse(q), source))

  /** [[query]] under a PROTOCOL-supplied RDF dataset (SPARQL 1.1
    * Protocol §2.1.4 `default-graph-uri`/`named-graph-uri`): the
    * protocol dataset replaces the query's own FROM / FROM NAMED. */
  def queryWithDataset(q: String, defaultGraphs: Seq[String],
                       namedGraphs: Seq[String]): DataFrame =
    query(ProtocolDataset.overrideIn(Parser.parse(q), defaultGraphs, namedGraphs))

  /** SPARQL UPDATE request text (';'-separated ops, incl. graph
    * management and LOAD) → updated handle. The superseded handle's
    * materialized merge view (if any) stays live until GC or an
    * explicit [[release]] — an update-then-query LOOP should release
    * each superseded handle (or run `unionDefaultGraph = false`)
    * rather than accumulate checkpoint blocks. */
  def update(q: String): Graft = updateOps(Parser.parseUpdates(q))

  /** A handle over MUTATED in-memory state. The durable accelerators
    * — the object-hash twin and the persisted text index — describe
    * the COMMITTED version this handle was resolved from; consulted
    * after an in-memory mutation they would answer over stale data
    * (a hit→subject join missing the new triple, an index search
    * missing the new literal), so they DROP here and queries take the
    * live-corpus paths. The next commit's connection re-resolves
    * them ([[graft.rdf.Repository.connection]]). */
  def withStore(newStore: QuadStore): Graft =
    copy(store = newStore, ospHash = None, textIndex = None)

  /** Apply ALREADY-PARSED (possibly transformed) update ops — the
    * protocol-dataset seam ([[sparql.ProtocolDataset.usingIn]]), in
    * request order: store ops through [[Update.applyQuads]] (the
    * handle's store records their change), SOLUTIONS ops on the
    * handle's [[solutionSets]] (an `INSERT INTO %s SELECT` sees the
    * store state its position implies). */
  def updateOps(ops: Seq[UpdateOp]): Graft = ops.foldLeft(this)(_ applyOne _)

  /** Apply a staged write sequence in arrival order — the one fold of a
    * multi-request transaction: `Left(ops)` is a parsed update request,
    * `Right(quads)` an insert-only batch (a REST data POST). */
  def updateItems(items: Seq[Either[Seq[UpdateOp], DataFrame]]): Graft =
    items.foldLeft(this) {
      case (h, Left(ops)) => h.updateOps(ops)
      case (h, Right(q))  => h.withStore(h.store.insertQuads(q))
    }

  private def applyOne(op: UpdateOp): Graft = op match {
    case CreateSolutions(n, silent) =>
      if (solutionSets.contains(n)) {
        if (silent) this
        else sys.error(s"CREATE SOLUTIONS %$n: the solution set already exists")
      } else copy(solutionSets = solutionSets.updated(n, spark.emptyDataFrame))
    case DropSolutions(None, _) => copy(solutionSets = Map.empty)
    case DropSolutions(Some(n), silent) =>
      if (!solutionSets.contains(n) && !silent)
        sys.error(s"DROP SOLUTIONS %$n: no such solution set")
      else copy(solutionSets = solutionSets - n)
    case ClearSolutions(None, _) =>
      copy(solutionSets = solutionSets.map { case (k, _) => k -> spark.emptyDataFrame })
    case ClearSolutions(Some(n), silent) =>
      if (!solutionSets.contains(n)) {
        if (silent) this
        else sys.error(s"CLEAR SOLUTIONS %$n: no such solution set")
      } else copy(solutionSets = solutionSets.updated(n, spark.emptyDataFrame))
    case InsertIntoSolutions(n, select) =>
      // the SELECT evaluates against the CURRENT state (store + sets),
      // materialized before the set mutates (self-insert reads the
      // pre-update set, like every SPARQL update's WHERE)
      val sol = Compiler.withNamedSolutionSets(solutionSets)(
        Compiler.compile(select, source)).localCheckpoint()
      val cur = solutionSets.getOrElse(n, spark.emptyDataFrame)
      val appended =
        if (cur.columns.isEmpty) sol
        else cur.unionByName(sol, allowMissingColumns = true)
      copy(solutionSets = solutionSets.updated(n, appended))
    case DeleteFromSolutions(n, select) =>
      val cur = solutionSets.getOrElse(n,
        sys.error(s"DELETE FROM %$n: no such solution set"))
      if (cur.columns.isEmpty) this
      else {
        val sol = Compiler.withNamedSolutionSets(solutionSets)(
          Compiler.compile(select, source)).localCheckpoint()
        // remove stored solutions EQUAL to some produced solution:
        // null-safe full-row anti join over the stored columns (a
        // produced row missing a stored column matches stored-unbound)
        val rr = sol.columns.foldLeft(sol)((d, c) => d.withColumnRenamed(c, "_d_" + c))
        val cond = cur.columns.map { c =>
          if (rr.columns.contains("_d_" + c))
            org.apache.spark.sql.functions.col(c) <=>
              org.apache.spark.sql.functions.col("_d_" + c)
          else org.apache.spark.sql.functions.col(c).isNull
        }.reduce(_ && _)
        copy(solutionSets =
          solutionSets.updated(n, cur.join(rr, cond, "left_anti")))
      }
    case ClearAll =>
      // ALL = graphs AND solution sets (GraphRefAll's ALL arm sets both)
      withStore(store.clear()).copy(solutionSets = Map.empty)
    case other =>
      withStore(Update.applyQuads(store, other, defaultGraph))
  }

  /** Drop this handle's materialized union-default-graph view from
    * block storage (no-op if never materialized or already released).
    * Queries on the handle remain valid — the next default-graph scan
    * just re-materializes. */
  def release(): Unit = {
    mergedView.foreach(org.apache.spark.sql.graftshim.Shim.unpersistCheckpoint)
    mergedView = None
  }

  /** LOAD a serialized RDF document (format by extension). */
  def load(path: String, graph: Option[String] = None): Graft =
    update(s"LOAD <file://$path>" + graph.fold("")(g => s" INTO GRAPH $g"))

  /** One N-Quads line per statement (column `value`) — map-only. */
  def exportNQuads: DataFrame = Serializer.toNQuads(store.quads)

  /** Pretty Turtle blocks for ONE graph (column `value`); write
    * [[graft.rdf.Serializer.turtleHeader]] ahead of the lines. */
  def exportTurtle(graph: String): DataFrame =
    Serializer.toTurtle(store.graph(graph))

  /** Pretty TriG `GRAPH { … }` blocks for the whole store (column
    * `value`); write [[graft.rdf.Serializer.turtleHeader]] first. */
  def exportTrig: DataFrame = Serializer.toTrig(store.quads)

  /** Expanded JSON-LD node objects for ONE graph (column `value`);
    * wrap the comma-joined lines in `[ … ]`. */
  def exportJsonLd(graph: String): DataFrame =
    Serializer.toJsonLd(store.graph(graph))

  /** Compacted JSON-LD node objects for ONE graph (column `value`) —
    * IRIs compact under [[graft.rdf.Serializer.defaultPrefixes]]; wrap
    * as `{"@context":` + [[graft.rdf.Serializer.jsonLdContext]] +
    * `,"@graph":[` + lines + `]}`. */
  def exportJsonLdCompact(graph: String): DataFrame =
    Serializer.toJsonLdCompact(store.graph(graph))
}

object Graft {

  /** A fresh empty store. */
  def empty(spark: SparkSession): Graft = {
    import spark.implicits._
    Graft(spark, QuadStore(
      Seq.empty[(String, String, String, String)].toDF("s", "p", "o", "g")))
  }

  /** Wrap an existing (s,p,o) DataFrame as the default graph. */
  def ofTriples(spark: SparkSession, triples: DataFrame,
                graph: String = "g:default"): Graft = {
    import org.apache.spark.sql.functions.lit
    Graft(spark, QuadStore(
      triples.select("s", "p", "o").withColumn("g", lit(graph))))
  }

  /** Wrap an existing (s,p,o,g) DataFrame. */
  def ofQuads(spark: SparkSession, quads: DataFrame): Graft =
    Graft(spark, QuadStore(quads.select("s", "p", "o", "g")))
}
