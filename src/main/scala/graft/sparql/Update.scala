package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rdf.{Lexicon, QuadStore, TripleStore}

/** Executes parsed SPARQL UPDATE operations (reference:
  * ast/eval/AST2BOpUpdate.java driving the B+Tree mutations; here each
  * op yields a new functional store).
  *
  * ONE evaluator: [[applyQuads]] is the only function that maps an op
  * to a store change. The [[QuadStore]] it returns carries the
  * `(adds, dels)` the op applied ([[QuadStore.delta]]), so the
  * in-memory handle, the journal commit ([[quadsDeltaSeq]], read off
  * the folded store) and the truth-maintained commit all come from the
  * same single evaluation of each op's WHERE. */
object Update {

  private def t2c(t: Term, n: String): Column = t match {
    case Var(v)   => col(v).cast("string").as(n)
    case Const(v) => lit(v).as(n)
  }

  /** Triple source for a bare (no WITH/USING) update WHERE against a
    * quad store: default-graph patterns see the union default graph
    * (the façade's quads-mode query convention) and GRAPH patterns
    * range over the store's named graphs — so cross-graph rewrites
    * like `INSERT { GRAPH ?g { … } } WHERE { GRAPH ?g { … } }` bind
    * their graph variable from the data (§3.1.3 over the Graph
    * Store). */
  private def bareQuadsSource(store: QuadStore): TripleSource =
    new TripleSource {
      lazy val triples: DataFrame = store.quads.select("s", "p", "o").distinct()
      override def quads: Option[DataFrame] = Some(store.quads)
      def fuseStar(patterns: Seq[TriplePattern],
                   subjectTables: Option[Set[String]]): Option[DataFrame] = None
    }

  /** Triple source for a USING-clause WHERE: the compiler's
    * DatasetClause handles graph selection over `quads`; bare
    * default-graph reads (no dataset restriction in play) see the
    * store's default graph. */
  private def usingSource(store: QuadStore, defaultGraph: String): TripleSource =
    new TripleSource {
      lazy val triples: DataFrame = store.graph(defaultGraph)
      override def quads: Option[DataFrame] = Some(store.quads)
      def fuseStar(patterns: Seq[TriplePattern],
                   subjectTables: Option[Set[String]]): Option[DataFrame] = None
    }

  /** Materialize a WHERE solution that feeds more than one consumer
    * (k template triples and/or both the delete and insert sides).
    * Without this every consumer re-derives the whole WHERE plan —
    * pattern scans, join, and the union-default-graph distinct over
    * the store (measured: update_quad_template's final plan carried
    * 86 source scans with ZERO exchange reuse; ~3 solution
    * re-derivations collapse to one). localCheckpoint rather than
    * persist: it truncates the lineage, so the downstream
    * delete/insert anti-joins optimize over a leaf the size of the
    * SOLUTION (delta-sized — the data a commit ships anyway), not the
    * store-derivation subtree. Single-consumer solutions skip the
    * materialization pass (§4 learning: persist multi-consumer
    * projections ONCE, and only those). */
  private def shared(sol: DataFrame, consumers: Int): DataFrame =
    if (consumers > 1) sol.localCheckpoint() else sol

  /** Instantiate a QUAD template against a solution DataFrame: each
    * triple lands in its own graph — None = `defaultGraph`, a Const =
    * that graph, a Var = the per-row binding (GRAPH ?g templates). */
  private def instantiateQuads(tmpl: Seq[(Option[Term], TriplePattern)],
                               sol: DataFrame,
                               defaultGraph: String): DataFrame =
    tmpl.map { case (g, tp) =>
      val gc = g.map(t2c(_, "g")).getOrElse(lit(defaultGraph).as("g"))
      sol.select(t2c(tp.s, "s"), t2c(tp.p, "p"), t2c(tp.o, "o"), gc)
    }.reduce(_ unionAll _).distinct()

  /** Instantiate a template against a solution DataFrame. */
  private def instantiate(tmpl: Seq[TriplePattern], sol: DataFrame): DataFrame =
    tmpl.map { tp =>
      sol.select(t2c(tp.s, "s"), t2c(tp.p, "p"), t2c(tp.o, "o"))
    }.reduce(_ unionAll _).distinct()

  private def ground(ts: Seq[TriplePattern],
                     spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    ts.map {
      case TriplePattern(Const(s), Const(p), Const(o)) => (s, p, o)
      case other => sys.error(s"INSERT/DELETE DATA needs ground triples, got $other")
    }.toDF("s", "p", "o")
  }

  /** Apply `op` to a triples-mode `store` (GRAPH tags on ground data
    * are ignored — a triple store has one graph): [[applyQuads]] over
    * that one graph, the WHERE reading the plain graph (no
    * union-default distinct) against the pre-update triples. */
  def apply(store: TripleStore, op: UpdateOp): TripleStore = {
    val g = "g:default"
    val scoped = op match {
      case InsertData(d) => InsertData(d.map { case (_, t) => (None, t) })
      case DeleteData(d) => DeleteData(d.map { case (_, t) => (None, t) })
      case w: DeleteInsertWhere => WithGraph(g, w)
      case other =>
        sys.error(s"triples-mode update supports ground data and DELETE/INSERT WHERE, got $other")
    }
    val quads = store.triples.select(col("s"), col("p"), col("o"), lit(g).as("g"))
    TripleStore(applyQuads(QuadStore(quads), scoped, g).graph(g))
  }

  /** Apply one op to a quads-mode store: ground data lands per GRAPH
    * block (bare triples in `defaultGraph`), WHERE-driven ops evaluate
    * their WHERE once against the pre-update store and apply deletes
    * before inserts (§3.1.3), graph management acts per graph. The
    * returned store records the change ([[QuadStore.delta]]). */
  def applyQuads(store: QuadStore, op: UpdateOp,
                 defaultGraph: String = "g:default"): QuadStore = {
    val spark = store.sparkSession
    def byGraph(d: Seq[(Option[String], TriplePattern)]) =
      d.groupBy(_._1.getOrElse(defaultGraph)).view.mapValues(v => ground(v.map(_._2), spark))
    // plain templates act on graph `g`
    def rewrite(g: String, where: Algebra, src: TripleSource,
                del: Seq[TriplePattern], ins: Seq[TriplePattern]): QuadStore = {
      val sol = shared(Compiler.compile(where, src), del.size + ins.size)
      val st1 = if (del.isEmpty) store else store.deleteData(g, instantiate(del, sol))
      if (ins.isEmpty) st1 else st1.insertData(g, instantiate(ins, sol))
    }
    // quad templates: each template triple lands in its own graph
    def rewriteQuads(where: Algebra, src: TripleSource,
                     del: Seq[(Option[Term], TriplePattern)],
                     ins: Seq[(Option[Term], TriplePattern)]): QuadStore = {
      val sol = shared(Compiler.compile(where, src), del.size + ins.size)
      val st1 =
        if (del.isEmpty) store else store.deleteQuads(instantiateQuads(del, sol, defaultGraph))
      if (ins.isEmpty) st1 else st1.insertQuads(instantiateQuads(ins, sol, defaultGraph))
    }
    op match {
      case InsertData(d) =>
        byGraph(d).foldLeft(store) { case (st, (g, df)) => st.insertData(g, df) }
      case DeleteData(d) =>
        byGraph(d).foldLeft(store) { case (st, (g, df)) => st.deleteData(g, df) }
      // WHERE and templates evaluate against graph g only (§3.1.3)
      case WithGraph(g, DeleteInsertWhere(del, ins, where)) =>
        rewrite(g, where, TripleSource.plain(store.graph(g)), del, ins)
      // bare (no WITH/USING): the WHERE sees the union default graph
      // (the façade's quads-mode query convention) and GRAPH patterns
      // range over the store's named graphs; template triples without
      // GRAPH address the default graph (§3.1.3)
      case DeleteInsertWhere(del, ins, where) =>
        rewrite(defaultGraph, where, bareQuadsSource(store), del, ins)
      case QuadsTemplateWhere(del, ins, where) =>
        rewriteQuads(where, bareQuadsSource(store), del, ins)
      // the WHERE sees the USING dataset (update-side FROM/FROM NAMED):
      // default-graph patterns scan the USING graphs' merge, GRAPH
      // patterns range over USING NAMED. Plain templates act on the
      // default graph (§3.1.3 USING); quad templates address their own
      // graphs (GRAPH vars bind from the USING NAMED set).
      case UsingClause(defaults, named, DeleteInsertWhere(del, ins, where)) =>
        rewrite(defaultGraph, DatasetClause(defaults, named, where),
          usingSource(store, defaultGraph), del, ins)
      case UsingClause(defaults, named, QuadsTemplateWhere(del, ins, where)) =>
        rewriteQuads(DatasetClause(defaults, named, where),
          usingSource(store, defaultGraph), del, ins)
      // -- text-form graph management (ast/CreateGraph.java family) --
      case CreateGraph(g, _)   => store.createGraph(g)
      case DropGraph(g, _)     => store.dropGraph(g.getOrElse(defaultGraph))
      case ClearGraph(g, _)    => store.dropGraph(g.getOrElse(defaultGraph))
      case ClearAll            => store.clear()
      // DROP GRAPHS (GraphRefAll's GRAPHS arm): every NAMED graph
      // goes, the default graph stays
      case DropGraphs(_)       => store.dropGraphs(defaultGraph)
      case _: SolutionsOp      => connectionScoped()
      case CopyGraph(f, t, _)  =>
        store.copyGraph(f.getOrElse(defaultGraph), t.getOrElse(defaultGraph))
      case MoveGraph(f, t, _)  =>
        store.moveGraph(f.getOrElse(defaultGraph), t.getOrElse(defaultGraph))
      case AddGraph(f, t, _)   =>
        store.addGraph(f.getOrElse(defaultGraph), t.getOrElse(defaultGraph))
      case Load(src, g, silent) =>
        try {
          // SILENT must absorb PARSE failures too (§3.1.4 success/no-op)
          // — the document parsers run lazily inside read tasks, so a
          // silent LOAD materializes the parsed data eagerly (inside
          // this try) before it reaches the store
          val q = loadOpQuads(spark, src, g, defaultGraph)
          store.insertQuads(if (silent) q.localCheckpoint() else q)
        } catch { case e: Exception if silent => store }
      case other => sys.error(s"quads-mode update supports ground data, WITH-scoped ops and graph management, got $other")
    }
  }

  /** Apply a ';'-separated op sequence in request order. */
  def applyQuadsSeq(store: QuadStore, ops: Seq[UpdateOp],
                    defaultGraph: String = "g:default"): QuadStore =
    ops.foldLeft(store)(applyQuads(_, _, defaultGraph))

  /** The (g-tagged) quads a LOAD op contributes. N-Quads/TriG
    * statements carry their own graph tags (INTO GRAPH overrides);
    * JSON-LD named-graph documents keep their labels unless INTO GRAPH
    * flattens; every triples-mode document lands whole in the target
    * graph. */
  private[graft] def loadOpQuads(spark: org.apache.spark.sql.SparkSession, src: String,
                                 g: Option[String], defaultGraph: String): DataFrame = {
    val path = src.stripPrefix("file://")
    val fmt = fmtPath(src)
    import spark.implicits._
    if (fmt.endsWith(".nq")) {
      val q = loadQuads(spark, src)
      g.fold(q)(gg => q.withColumn("g", lit(gg)))
    } else if (fmt.endsWith(".trig")) {
      val q = spark.read.option("wholetext", "true").textFile(path)
        .flatMap(graft.rdf.Turtle.parseTrig(_, defaultGraph))
        .toDF("s", "p", "o", "g")
      g.fold(q)(gg => q.withColumn("g", lit(gg)))
    } else if (fmt.endsWith(".trix")) {
      // TriX (Rio RDFFormat.TRIX) — XML quads, whole-file per task
      val q = spark.read.option("wholetext", "true").textFile(path)
        .flatMap(graft.rdf.TriX.parseQuads(_, defaultGraph))
        .toDF("s", "p", "o", "g")
      g.fold(q)(gg => q.withColumn("g", lit(gg)))
    } else if (fmt.endsWith(".jsonld") && g.isEmpty) {
      spark.read.option("wholetext", "true").textFile(path)
        .flatMap(graft.rdf.JsonLd.parseQuads(_, defaultGraph))
        .toDF("s", "p", "o", "g")
    } else loadTriples(spark, src)
      .select("s", "p", "o").withColumn("g", lit(g.getOrElse(defaultGraph)))
  }

  /** The journal-shaped mutation delta of one op against `store`:
    * `(adds, dels)` quad DataFrames sized by the CHANGE, never the
    * store — [[applyQuads]]'s recorded change ([[QuadStore.delta]]).
    * Ground-data ops emit their own rows verbatim, so a small
    * INSERT/DELETE DATA commit plans zero store scans (plan-asserted
    * in RepositorySpec); graph-management deltas are graph-sized (that
    * IS the change). */
  def quadsDelta(store: QuadStore, op: UpdateOp,
                 defaultGraph: String = "g:default"): (DataFrame, DataFrame) =
    applyQuads(store.rebased, op, defaultGraph).delta

  /** Fold an op sequence into ONE journal commit's `(adds, dels)`:
    * later ops see earlier ops' store state (request order, §3.1) and
    * the steps compose under the store's cancellation law
    * ([[QuadStore]]), which makes a single commit (dels apply before
    * adds) reproduce the sequential result. */
  def quadsDeltaSeq(store: QuadStore, ops: Seq[UpdateOp],
                    defaultGraph: String = "g:default"): (DataFrame, DataFrame) =
    applyQuadsSeq(store.rebased, ops, defaultGraph).delta

  /** [[quadsDeltaSeq]] over a MIXED sequence of parsed update requests
    * and pre-parsed quad batches — the multi-request write-transaction
    * fold ([[graft.Graft.updateItems]], TxServlet analog): the whole
    * tx lands as ONE commit's (adds, dels). A `Right(quads)` batch is
    * an insert-only step (REST data POST staged into a tx). */
  def quadsDeltaMixed(store: QuadStore,
                      items: Seq[Either[Seq[UpdateOp], DataFrame]],
                      defaultGraph: String = "g:default"): (DataFrame, DataFrame) = {
    if (items.exists(_.left.exists(_.exists(_.isInstanceOf[SolutionsOp])))) connectionScoped()
    graft.Graft(store.sparkSession, store.rebased, defaultGraph).updateItems(items).store.delta
  }

  /** Named solution sets are CONNECTION-scoped (they live on the Graft
    * handle — graft.Graft.applyOne; the reference's default
    * ISolutionSetManager is the SPARQL cache, not the journal). A
    * caller with no handle to hold them refuses rather than silently
    * dropping the op. */
  private[graft] def connectionScoped(): Nothing =
    sys.error("named solution sets are connection-scoped: apply " +
      "SOLUTIONS updates through a Graft handle (graft.Graft.update), " +
      "not the bare quad-store path or a journal-backed namespace")

  /** LOAD source reader: a parquet (s,p,o) table, a Turtle (.ttl)
    * document ([[graft.rdf.Turtle]] — whole-file parse, one task per
    * file since Turtle is not splittable), an RDF/XML (.rdf/.rdfxml/
    * .owl) document ([[graft.rdf.RdfXml]], same whole-file contract),
    * or an N-Triples text file
    * (`<s> <p> <o|"lit"> .` per line — line-splittable, the bulk-scale
    * text format). Term IRIs under the engine base intern to local
    * names, matching the parser. Distributed reads, not driver loops. */
  /** Format detection path: compression suffixes are transparent to
    * Spark's text readers (`.nt.gz` parses like `.nt` — bulk corpora
    * ship compressed), so they are stripped for the extension switch
    * ONLY; the read itself uses the real path. */
  private def fmtPath(source: String): String =
    source.stripPrefix("file://").stripSuffix(".gz").stripSuffix(".bz2")

  def loadTriples(spark: org.apache.spark.sql.SparkSession, source: String): DataFrame = {
    val path = source.stripPrefix("file://")
    val fmt = fmtPath(source)
    if (fmt.endsWith(".parquet")) spark.read.parquet(path).select("s", "p", "o")
    else if (fmt.endsWith(".ttl") || fmt.endsWith(".n3")) {
      // .n3 documents in the wild are Turtle (N3's formula/rule
      // extensions never reached RDF stores; Rio's N3 reader is its
      // Turtle parser too) — full N3 syntax fails loud, not silently
      import spark.implicits._
      spark.read.option("wholetext", "true").textFile(path)
        .flatMap(graft.rdf.Turtle.parse(_))
        .toDF("s", "p", "o")
    }
    else if (fmt.endsWith(".rdf") || fmt.endsWith(".rdfxml") || fmt.endsWith(".owl")) {
      // RDF/XML (the reference's Rio RDFXMLParser format) — whole-file
      // parse per task like Turtle; XML is not splittable
      import spark.implicits._
      spark.read.option("wholetext", "true").textFile(path)
        .flatMap(graft.rdf.RdfXml.parse(_))
        .toDF("s", "p", "o")
    }
    else if (fmt.endsWith(".jsonld")) {
      // JSON-LD (Rio JSONLDParser analog) — one JSON value per file,
      // whole-file parse per task
      import spark.implicits._
      spark.read.option("wholetext", "true").textFile(path)
        .flatMap(graft.rdf.JsonLd.parse(_))
        .toDF("s", "p", "o")
    }
    else if (fmt.endsWith(".rj") || fmt.endsWith(".rdfjson")) {
      // RDF/JSON (Rio RDFJSONParser analog) — resource-centric JSON
      import spark.implicits._
      spark.read.option("wholetext", "true").textFile(path)
        .flatMap(graft.rdf.RdfJson.parse(_))
        .toDF("s", "p", "o")
    }
    else if (fmt.endsWith(".trix")) {
      // TriX loaded as triples: the quads' graph column drops (the
      // triples LOAD contract; LOAD INTO GRAPH retargets explicitly)
      import spark.implicits._
      spark.read.option("wholetext", "true").textFile(path)
        .flatMap(graft.rdf.TriX.parseQuads(_, "g:default").map(q => (q._1, q._2, q._3)))
        .toDF("s", "p", "o")
    }
    else {
      val pat = "^\\s*" + RTerm + "\\s+" + RTerm + "\\s+" + OTerm + EolComment
      val rows = lineStatements(spark, path, pat, "ntriples")
      rows.select(fileScoped(Lexicon.fromToken(col("t1"))).as("s"),
        Lexicon.fromToken(col("t2")).as("p"), fileScoped(Lexicon.fromToken(col("t3"))).as("o"))
    }
  }

  /** N-Quads reader: `<s> <p> <o|"lit"> <g> .` per line — line-
    * splittable like N-Triples (the bulk-scale serialized-quad path),
    * each statement carrying its graph tag. */
  def loadQuads(spark: org.apache.spark.sql.SparkSession, source: String): DataFrame = {
    val path = source.stripPrefix("file://")
    val pat = "^\\s*" + RTerm + "\\s+" + RTerm + "\\s+" + OTerm + "\\s+" + RTerm + EolComment
    val rows = lineStatements(spark, path, pat, "nquads")
    rows.select(fileScoped(Lexicon.fromToken(col("t1"))).as("s"),
      Lexicon.fromToken(col("t2")).as("p"), fileScoped(Lexicon.fromToken(col("t3"))).as("o"),
      fileScoped(Lexicon.fromToken(col("t4"))).as("g"))
  }

  /** Shared line-format scan: skips blank and `#`-comment lines, then
    * FAILS LOUD on any remaining line the statement grammar does not
    * match (a silent drop would be silent data loss at 100-TB ingest;
    * SILENT LOAD still absorbs the error because it forces the read
    * inside its own try). Emits capture groups `t1..tN`. */
  private def lineStatements(spark: org.apache.spark.sql.SparkSession,
                             path: String, pat: String, fmt: String): DataFrame = {
    val groups = java.util.regex.Pattern.compile(pat).matcher("").groupCount()
    val line = col("value")
    spark.read.text(path)
      .filter(trim(line) =!= "" && !trim(line).startsWith("#"))
      .select((line +: (1 to groups).map(i =>
        regexp_extract(line, pat, i).as(s"t$i"))): _*)
      // the guard lives in a FILTER, not a projected column — a
      // projection is pruned away by count()-style plans and the error
      // would silently vanish with it
      .filter(when(col("t1") === "", raise_error(concat(
        lit(s"$fmt: unparseable line: "), line))).otherwise(lit(true)))
  }

  /** Blank-node labels in the line formats are document-scoped (RDF
    * 1.1 §3.4) exactly like the whole-file parsers' [[graft.rdf.Scope]]:
    * two .nt files both using `_:b1` must NOT alias. The scope key is
    * a 64-bit hash of the input file name, evaluated in the scan task
    * (before any shuffle), rendered 16-hex to match Scope.of's width
    * so display normalization strips both the same way. */
  private def fileScoped(c: Column): Column =
    when(Lexicon.isBnode(c),
      concat(lit("_:"), format_string("%016x", xxhash64(input_file_name())),
        lit("-"), c.substr(lit(3), length(c)))).otherwise(c)

  /** Statement tail: the terminating `.`, then optionally an
    * end-of-line `#` comment (comments are whitespace in the
    * N-Triples 1.1 grammar — rejecting them would refuse spec-valid
    * files). Non-capturing, so `t1..tN` indices are unaffected. */
  private val EolComment = """\s*\.\s*(?:#.*)?$"""

  /** Resource position: IRI or bnode label — labels admit `-`/`_`
    * (N-Triples PN_CHARS; the loaders' document-scoped labels are
    * `<8hex>-…`). */
  private val RTerm = """(<[^>]*>|_:[A-Za-z0-9_-]+)"""
  /** Object position: resource, or a literal with backslash escapes
    * and an optional `@lang` / `^^<dt>` facet. */
  private val OTerm = """(<[^>]*>|_:[A-Za-z0-9_-]+|"(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)"""
}
