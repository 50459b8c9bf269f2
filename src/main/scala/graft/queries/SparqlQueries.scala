package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rdf.TpchRdf
import graft.sparql._

/** SPARQL-algebra coverage queries (SURVEY.md §2, "SPARQL query
  * algebra" block). Each query is an algebra AST compiled by
  * [[graft.sparql.Compiler]] against the virtual triple view; the
  * oracle is equivalent ANSI SQL over the same parquet tables.
  */
object SparqlQueries {

  private def tri(s: SparkSession, dir: String): DataFrame = TpchRdf.triples(s, dir)
  private def run(s: SparkSession, dir: String, a: Algebra): DataFrame =
    Compiler.compile(a, TpchRdf.source(s, dir))

  /** Exact-decimal sum rendered as double — see SURVEY.md §4. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Staged persisted full-text indexes, built ONCE per (kind,
    * corpus) per driver run — the production "build once, query many"
    * shape the indexed queries below exercise; a fresh driver rebuilds
    * (per-run state, not durable). Tiny driver-temp dirs, JVM-exit
    * cleaned. */
  private val stagedIx =
    new java.util.concurrent.ConcurrentHashMap[String, graft.search.SearchIndexView]()
  private def stageIx(key: String)(build: String => graft.search.SearchIndexView) =
    stagedIx.computeIfAbsent(key, { _ =>
      val d = java.nio.file.Files.createTempDirectory("graft_ftix")
      sys.addShutdownHook {
        try {
          java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      build(d.resolve("ix").toString)
    })

  /** Literal-space index over the store's triples (termDocIds: the
    * doc id IS the literal term) — what bds:searchInSearch consults. */
  private def literalIxFor(s: SparkSession, dir: String): graft.search.SearchIndexView =
    stageIx(s"lit|$dir")(d => graft.search.PersistedSearchIndex
      .create(s, d, BuiltinServices.literalSpace(TpchRdf.triples(s, dir))).view)

  /** Documents-corpus index (opaque long doc ids) — what bds:search
    * consults in place of the per-query corpus tokenize. */
  private def docIxFor(s: SparkSession, dir: String): graft.search.SearchIndexView =
    stageIx(s"doc|$dir")(d => graft.search.PersistedSearchIndex
      .create(s, d, TpchRdf.table(s, dir, "documents").select("doc_id", "text"),
        termDocIds = false).view)

  /** Journal whose literal text index is MAINTAINED on commits: nation
    * names land in commit 1, the index is built THERE, region names
    * land in commit 2 and reach the index through the delta sync —
    * the maintained query below finds them with no rebuild. */
  private val stagedJournalIx =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, graft.search.SearchIndexView)]()
  private def journalIxFor(s: SparkSession, dir: String): (DataFrame, graft.search.SearchIndexView) =
    stagedJournalIx.computeIfAbsent(s"j|$dir", { _ =>
      val d = java.nio.file.Files.createTempDirectory("graft_jix")
      sys.addShutdownHook {
        try {
          java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      val j = graft.rdf.Journal.create(s, d.resolve("j").toString)
      def nameQuads(table: String, prefix: String, key: String, name: String) =
        TpchRdf.table(s, dir, table).select(
          concat(lit(prefix), col(key).cast("string")).as("s"),
          lit("name").as("p"), col(name).as("o"), lit("g:default").as("g"))
      j.append(nameQuads("nation", "n:", "n_nationkey", "n_name"))
      val ix = graft.rdf.TextIndexMaintenance.create(s, d.resolve("ix").toString, j)
      j.append(nameQuads("region", "r:", "r_regionkey", "r_name"))
      graft.rdf.TextIndexMaintenance.sync(ix, j)
      (j.snapshot().select("s", "p", "o").localCheckpoint(), ix.view)
    })

  /** Staged OSP-hash twin of the store's triple view
    * ([[graft.rdf.TripleStorage.writeOspHash]]) — the object-keyed
    * layout the text services' hit→subject join prunes on; built once
    * per corpus dir beside the literal index (the production
    * deployment stages both with the store — the reference's OSP
    * B+Tree is exactly this standing twin). */
  private val stagedOsp =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ospTwinFor(s: SparkSession, dir: String): String =
    stagedOsp.computeIfAbsent(s"osp|$dir", { _ =>
      val d = java.nio.file.Files.createTempDirectory("graft_osp")
      sys.addShutdownHook {
        try {
          java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      val p = d.resolve("osp").toString
      graft.rdf.TripleStorage.writeOspHash(TpchRdf.triples(s, dir), p)
      p
    })

  /** Force the staged persisted indexes for a corpus dir NOW — the
    * bench harness calls this OUTSIDE the timed loop so the indexed
    * queries measure the query against a standing index (production's
    * build-once-query-many shape; the store itself is pre-staged the
    * same way at derived scales). Idempotent: the stageIx maps make
    * later in-query lookups hit the same instance. The four builds are
    * INDEPENDENT (different inputs, each its own temp dir), so they
    * overlap (guide §2.6): each has long single-job stretches that
    * leave most cores idle, and the FIFO scheduler back-fills them with
    * the other builds' stages. The first failure cancels the other
    * builds instead of waiting for them, so none is left submitting
    * jobs into the bench's timed queries (Bench's NonFatal catch
    * records index_stage_failed). */
  def stageSearchIndexes(s: SparkSession, dir: String): Unit =
    graft.plans.Jobs.concurrently(Seq(
      "literal-index" -> (() => { literalIxFor(s, dir); () }),
      "docs-index" -> (() => { docIxFor(s, dir); () }),
      "journal-index" -> (() => { journalIxFor(s, dir); () }),
      "osp-twin" -> (() => { ospTwinFor(s, dir); () })
    ).map { case (tag, f) => s"stage search index: $tag" -> f })

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => {
      TpchRdf.table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          round(dsum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "bgp_star_join" -> ((s, dir) => run(s, dir,
      OrderBy(Project(Bgp(
          TriplePattern("?c", "mktsegment", "BUILDING"),
          TriplePattern("?c", "name", "?cname"),
          TriplePattern("?c", "nation", "?n"),
          TriplePattern("?n", "name", "?nname"),
          TriplePattern("?c", "acctbal", "?bal")),
        "cname", "nname", "bal"),
        Seq(col("cname"))))),

    "bgp_chain_join" -> ((s, dir) => run(s, dir,
      OrderBy(Project(Bgp(
          TriplePattern("?o", "customer", "?c"),
          TriplePattern("?c", "nation", "?n"),
          TriplePattern("?n", "region", "?r"),
          TriplePattern("?r", "name", "ASIA"),
          TriplePattern("?o", "totalprice", "?price"),
          TriplePattern("?o", "status", "F")),
        "o", "c", "price"),
        Seq(col("o"), col("c"))))),

    "optional_leftjoin" -> ((s, dir) => run(s, dir,
      // every nation, with customers-in-BUILDING optional
      OrderBy(Project(
        LeftJoin(
          Bgp(TriplePattern("?n", "type", "Nation"),
              TriplePattern("?n", "name", "?nname")),
          Bgp(TriplePattern("?c", "nation", "?n"),
              TriplePattern("?c", "mktsegment", "BUILDING"),
              TriplePattern("?c", "name", "?cname"))),
        "nname", "cname"),
        Seq(col("nname"), col("cname"))))),

    // OPTIONAL whose FILTER references an OUTER var → left-join condition
    "optional_join_cond" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?nname ?cname WHERE {
          |  ?n type "Nation" .
          |  ?n name ?nname
          |  OPTIONAL { ?c nation ?n . ?c name ?cname FILTER(?cname > ?nname) }
          |} ORDER BY ?nname ?cname""".stripMargin),
        TpchRdf.source(s, dir))),

    "union_op" -> ((s, dir) => run(s, dir,
      OrderBy(Project(
        Union(
          Bgp(TriplePattern("?x", "type", "Supplier"),
              TriplePattern("?x", "name", "?name"),
              TriplePattern("?x", "acctbal", "?bal")),
          Bgp(TriplePattern("?x", "type", "Customer"),
              TriplePattern("?x", "mktsegment", "AUTOMOBILE"),
              TriplePattern("?x", "name", "?name"),
              TriplePattern("?x", "acctbal", "?bal"))),
        "x", "name", "bal"),
        Seq(col("x"), col("name"))))),

    "minus_op" -> ((s, dir) => run(s, dir,
      OrderBy(Project(
        Minus(
          Bgp(TriplePattern("?c", "type", "Customer")),
          Bgp(TriplePattern("?o", "customer", "?c"),
              TriplePattern("?o", "status", "F"))),
        "c"),
        Seq(col("c"))))),

    "filter_expr" -> ((s, dir) => run(s, dir,
      OrderBy(
        Filter(
          Project(Bgp(
            TriplePattern("?c", "acctbal", "?bal"),
            TriplePattern("?c", "mktsegment", "?seg")), "c", "bal", "seg"),
          col("bal").cast("double") > 5000 && col("seg") =!= "BUILDING"),
        Seq(col("c"))))),

    "filter_regex" -> ((s, dir) => run(s, dir,
      OrderBy(
        Filter(
          Project(Bgp(TriplePattern("?p", "name", "?pname"),
                      TriplePattern("?p", "brand", "?brand")), "p", "pname", "brand"),
          col("pname").rlike("^(red|blue) (bolt|gear)")),
        Seq(col("p"))))),

    "exists_semijoin" -> ((s, dir) => run(s, dir,
      OrderBy(Project(
        Exists(
          Bgp(TriplePattern("?c", "type", "Customer"),
              TriplePattern("?c", "name", "?name")),
          Bgp(TriplePattern("?o", "customer", "?c"),
              TriplePattern("?o", "status", "O"))),
        "c", "name"),
        Seq(col("c"))))),

    // customers with no F-status order — non-empty on the corpus, so
    // the anti-join is value-checked, not just vacuously green
    "not_exists_antijoin" -> ((s, dir) => run(s, dir,
      OrderBy(Project(
        NotExists(
          Bgp(TriplePattern("?c", "type", "Customer"),
              TriplePattern("?c", "name", "?name")),
          Bgp(TriplePattern("?o", "customer", "?c"),
              TriplePattern("?o", "status", "F"))),
        "c", "name"),
        Seq(col("c"))))),

    "bind_extend" -> ((s, dir) => run(s, dir,
      OrderBy(Project(
        Extend(
          Bgp(TriplePattern("?o", "totalprice", "?price"),
              TriplePattern("?o", "priority", "1-URGENT")),
          "disc_price",
          round(col("price").cast("decimal(18,2)") * lit(0.9).cast("decimal(2,1)"), 2)
            .cast("double")),
        "o", "price", "disc_price"),
        Seq(col("o"))))),

    "values_inline" -> ((s, dir) => run(s, dir,
      OrderBy(Project(
        Join(
          Bgp(TriplePattern("?n", "name", "?nname"),
              TriplePattern("?n", "region", "?r")),
          Values(Seq("nname"),
                 Seq(Seq(Some("NATION_1")), Seq(Some("NATION_3")), Seq(Some("NATION_17"))))),
        "n", "nname", "r"),
        Seq(col("n"))))),

    "distinct_op" -> ((s, dir) => run(s, dir,
      OrderBy(
        Distinct(Project(Bgp(
          TriplePattern("?c", "mktsegment", "?seg"),
          TriplePattern("?c", "nation", "?n")), "seg", "n")),
        Seq(col("seg"), col("n"))))),

    "order_limit" -> ((s, dir) => run(s, dir,
      Slice(
        OrderBy(
          Project(Bgp(TriplePattern("?o", "totalprice", "?price")), "o", "price"),
          Seq(col("price").cast("double").desc, col("o"))),
        5, 10))),

    "group_having" -> ((s, dir) => run(s, dir,
      OrderBy(
        Filter(
          Group(Bgp(TriplePattern("?o", "customer", "?c"),
                    TriplePattern("?o", "totalprice", "?price")),
            Seq("c"),
            Seq("n_orders" -> count(lit(1)),
                "total" -> sum(col("price").cast("decimal(18,2)")).cast("double"))),
          col("n_orders") >= 15),
        Seq(col("c"))))),

    "agg_group_concat" -> ((s, dir) => run(s, dir,
      OrderBy(
        Group(Bgp(TriplePattern("?c", "type", "Customer"),
                  TriplePattern("?c", "nation", "?n"),
                  TriplePattern("?c", "name", "?cname")),
          Seq("n"),
          Seq("names" -> array_join(array_sort(collect_list(col("cname"))), "|"),
              "sample_name" -> min(col("cname")))),
        Seq(col("n"))))),

    "subquery_op" -> ((s, dir) => run(s, dir,
      OrderBy(Project(
        SubQuery(
          Bgp(TriplePattern("?n", "name", "?nname")),
          Group(Bgp(TriplePattern("?c", "nation", "?n"),
                    TriplePattern("?c", "acctbal", "?bal")),
            Seq("n"),
            Seq("maxbal" -> max(col("bal").cast("double"))))),
        "n", "nname", "maxbal"),
        Seq(col("n"))))),

    "path_transitive" -> ((s, dir) => run(s, dir,
      OrderBy(
        Distinct(Project(
          PathPlus(Var("x"), Seq("customer", "nation", "region"), Const("r:2"), "x", "y"),
          "x")),
        Seq(col("x"))))),

    // sequence path ?x customer/nation ?y (PathSequence)
    "path_seq" -> ((s, dir) => run(s, dir,
      OrderBy(
        Distinct(Project(
          Path(Var("x"), PathSeq(PathPred("customer"), PathPred("nation")),
               Var("y"), "x", "y"),
          "x", "y")),
        Seq(col("x"), col("y"))))),

    // inverse path ?n ^nation ?c (PathElt inverse)
    "path_inverse" -> ((s, dir) => run(s, dir,
      OrderBy(
        Distinct(Project(
          Path(Var("n"), PathInverse(PathPred("nation")), Var("c"), "n", "c"),
          "n", "c")),
        Seq(col("n"), col("c"))))),

    // zero-or-more path c:7 (nation|region)* ?y — zero-length includes
    // the bound subject itself (ZeroLengthPathNode semantics)
    "path_star" -> ((s, dir) => run(s, dir,
      OrderBy(
        Distinct(Project(
          Path(Const("c:7"), PathStar(PathAlt(PathPred("nation"), PathPred("region"))),
               Var("y"), "x", "y"),
          "y")),
        Seq(col("y"))))),

    // negated property set c:42 !(type|name) ?o (PathNegatedPropertySet)
    "path_negated" -> ((s, dir) => run(s, dir,
      OrderBy(
        Project(
          Path(Const("c:42"), PathNeg(Seq("type", "name")), Var("o"), "x", "o"),
          "o"),
        Seq(col("o"))))),

    "construct_triples" -> ((s, dir) => {
      // CONSTRUCT { ?c hasOrder ?o . ?o inSegment ?seg } WHERE {...}
      val sol = run(s, dir,
        Bgp(TriplePattern("?o", "customer", "?c"),
            TriplePattern("?o", "status", "P"),
            TriplePattern("?c", "mktsegment", "?seg")))
      sol.select(col("c").as("s"), lit("hasOrder").as("p"), col("o").as("o"))
        .unionAll(sol.select(col("o").as("s"), lit("inSegment").as("p"), col("seg").as("o")))
        .distinct()
        .orderBy("s", "p", "o")
    }),

    "ask_query" -> ((s, dir) => {
      val nonEmpty = !run(s, dir,
        Filter(Bgp(TriplePattern("?c", "acctbal", "?bal")),
               col("bal").cast("double") > 9000)).isEmpty
      s.range(1).select(lit(nonEmpty).as("ask"))
    }),

    "describe_node" -> ((s, dir) =>
      // subject prefix → single-table access path: ONE scan, not one
      // per union branch (the OSP-index analog; see TpchRdf.subjectTable)
      TpchRdf.triplesForSubject(s, dir, "c:42").orderBy("p", "o")),

    // end-to-end SPARQL *text* → Parser → Algebra → DataFrame
    "sparql_parsed" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?cname ?bal WHERE {
          |  ?c mktsegment "MACHINERY" .
          |  ?c name ?cname .
          |  ?c acctbal ?bal .
          |  FILTER(?bal > 2500)
          |} ORDER BY ?cname""".stripMargin),
        graft.rdf.TpchRdf.source(s, dir))),

    // parsed text: aggregates + GROUP BY + HAVING (GroupByNode/HavingNode)
    "sparql_parsed_agg" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?n (COUNT(*) AS ?n_cust) (SUM(?bal) AS ?total) WHERE {
          |  ?c nation ?n .
          |  ?c acctbal ?bal .
          |} GROUP BY ?n HAVING(COUNT(*) >= 3) ORDER BY ?n""".stripMargin),
        TpchRdf.source(s, dir))),

    // parsed text: PREFIX declaration + prefixed-IRI terms; base-IRI
    // terms intern to the engine's local vocabulary (lexicon analog)
    "sparql_parsed_prefix" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """PREFIX v: <urn:graft:>
          |SELECT ?s ?bal WHERE {
          |  ?s v:type "Supplier" .
          |  ?s v:acctbal ?bal .
          |  FILTER(?bal > 5000)
          |} ORDER BY ?s""".stripMargin),
        TpchRdf.source(s, dir))),

    // parsed text: property-path sequence in predicate position
    "sparql_parsed_path" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT DISTINCT ?x WHERE { ?x customer/nation/region r:2 } ORDER BY ?x"""),
        TpchRdf.source(s, dir))),

    // bounded path quantifier {n,m} — Blazegraph grammar extension
    // (ArbitraryLengthPathNode lower/upper bounds): 1 step reaches the
    // customer's nation, 2 steps its region
    "path_bounded" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?s ?x WHERE {
          |  ?s (nation|region){1,2} ?x .
          |  ?s type "Customer" .
          |} ORDER BY ?s ?x""".stripMargin),
        TpchRdf.source(s, dir))),

    // parsed text: VALUES inline data joined on shared vars
    "sparql_parsed_values" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?n ?nname WHERE {
          |  ?n name ?nname .
          |  VALUES ?nname { "NATION_2" "NATION_5" }
          |} ORDER BY ?n""".stripMargin),
        TpchRdf.source(s, dir))),

    // parsed text: CONSTRUCT template form
    "sparql_parsed_construct" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """CONSTRUCT { ?c partner ?n } WHERE {
          |  ?c nation ?n .
          |  ?c mktsegment "MACHINERY"
          |}""".stripMargin),
        TpchRdf.source(s, dir)).orderBy("s", "p", "o")),

    // parsed text: ASK form
    "sparql_parsed_ask" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """ASK { ?c acctbal ?bal FILTER(?bal > 9000) }"""),
        TpchRdf.source(s, dir))),

    // parsed text: DESCRIBE form (ForwardOneStep describe mode)
    "sparql_parsed_describe" -> ((s, dir) =>
      Compiler.compile(Parser.parse("DESCRIBE c:42"),
        TpchRdf.source(s, dir)).orderBy("p", "o")),

    // parsed text: EXISTS inside a FILTER expression, mixed with a
    // value condition (ExistsNode inside FilterNode)
    "sparql_parsed_exists_expr" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?c ?name WHERE {
          |  ?c type "Customer" .
          |  ?c name ?name .
          |  ?c acctbal ?bal .
          |  FILTER(?bal > 3000 && EXISTS { ?o customer ?c . ?o status "O" })
          |} ORDER BY ?c""".stripMargin),
        TpchRdf.source(s, dir))),

    // parsed text: sub-SELECT in a group, joined on shared vars
    "sparql_parsed_subquery" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?n ?nname ?maxbal WHERE {
          |  ?n name ?nname .
          |  ?n type "Nation" .
          |  { SELECT ?n (MAX(?bal) AS ?maxbal) WHERE {
          |      ?c nation ?n . ?c acctbal ?bal
          |    } GROUP BY ?n }
          |} ORDER BY ?n""".stripMargin),
        TpchRdf.source(s, dir))),

    // parsed text: SPARQL value functions, arithmetic, and IN
    "sparql_parsed_fns" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?p ?pname ?nlen ?ub ?pre ?dbl ?rnd WHERE {
          |  ?p name ?pname .
          |  ?p brand ?brand .
          |  ?p retailprice ?rp .
          |  BIND(STRLEN(?pname) AS ?nlen)
          |  BIND(UCASE(?brand) AS ?ub)
          |  BIND(SUBSTR(?pname, 1, 4) AS ?pre)
          |  BIND(STRLEN(?pname) * 2 + 1 AS ?dbl)
          |  BIND(ROUND(?rp) AS ?rnd)
          |  FILTER(STRLEN(?pname) > 7 && ?brand IN ("Brand#2", "Brand#19", "Brand#4"))
          |} ORDER BY ?p""".stripMargin),
        TpchRdf.source(s, dir))),

    // Blazegraph named subquery: WITH { SELECT … } AS %set evaluated
    // ONCE into a named solution set; INCLUDE joins against the
    // materialization (ast/NamedSubqueryRoot.java,
    // ast/NamedSubqueryInclude.java)
    "sparql_named_subquery" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?nname (COUNT(*) AS ?n_orders) (MAX(?bal) AS ?maxbal)
          |WITH {
          |  SELECT ?c ?nname ?bal WHERE {
          |    ?c type "Customer" . ?c nation ?n .
          |    ?n name ?nname . ?c acctbal ?bal
          |  }
          |} AS %custs
          |WHERE {
          |  INCLUDE %custs .
          |  ?o customer ?c .
          |  ?o status "F"
          |} GROUP BY ?nname ORDER BY ?nname""".stripMargin),
        TpchRdf.source(s, dir))),

    // query hints (com.bigdata.rdf.sparql.hints.QueryHintRegistry):
    // hint:Query hint:optimizer "None" pins BGP join order to the
    // textual pattern order (QueryOptimizerEnum.None) — same solution
    // set, user-controlled plan
    "sparql_hints" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?o ?c ?price WHERE {
          |  hint:Query hint:optimizer "None" .
          |  ?o customer ?c .
          |  ?c nation ?n .
          |  ?n region ?r .
          |  ?r name "ASIA" .
          |  ?o totalprice ?price .
          |  ?o status "F"
          |} ORDER BY ?o ?c""".stripMargin),
        TpchRdf.source(s, dir))),

    // everyday SPARQL shorthand, driver-checked end-to-end: `a` for
    // rdf:type, `;` predicate-object lists, `,` object lists, nested
    // `[ … ]` blank-node property lists, multi-term DESCRIBE-style
    // star over one subject (grammar [75]/[77]/[79]/[99])
    "sparql_parsed_sugar" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?cname ?nname ?bal WHERE {
          |  [ a "Customer" ;
          |    name ?cname ;
          |    nation [ name ?nname ] ;
          |    acctbal ?bal ;
          |    mktsegment "BUILDING" ]
          |} ORDER BY ?cname""".stripMargin),
        TpchRdf.source(s, dir))),

    // SPARQL §17.4.2 term-testing functions (FunctionRegistry
    // isIRI/isLiteral/isNumeric/isBlank) over the string-term lexicon:
    // IRI = scheme-prefixed id term, literal = everything else, no
    // blank nodes in the model (SURVEY §3)
    "sparql_term_fns" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?s ?v ?is_iri ?is_num ?is_lit WHERE {
          |  { ?s nation ?v } UNION { ?s name ?v }
          |  BIND(isIRI(?v) AS ?is_iri)
          |  BIND(isNumeric(?v) AS ?is_num)
          |  BIND(isLiteral(?v) AS ?is_lit)
          |  FILTER(!isBlank(?s))
          |} ORDER BY ?s ?v""".stripMargin),
        TpchRdf.source(s, dir))),

    // Language-tagged + datatyped literal term model (the lexicon IV
    // layer analog — LexiconRelation.java, internal/impl/literal/*):
    // STRLANG/STRDT build tagged forms, LANG/DATATYPE/STR introspect
    // them, LANGMATCHES does RFC-4647 basic filtering; a typed literal
    // parsed from text ("5"^^xsd:int) exercises the tokenizer facet
    "sparql_lang_fns" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          |SELECT ?n ?lbl ?lang ?dt ?dti ?dt_name ?plain WHERE {
          |  ?n type "Nation" . ?n name ?name .
          |  BIND(STRLANG(?name, IF(STRLEN(?name) = 8, "fr", "en-US")) AS ?lbl)
          |  BIND(LANG(?lbl) AS ?lang)
          |  BIND(DATATYPE(?lbl) AS ?dt)
          |  BIND(DATATYPE("5"^^xsd:int) AS ?dti)
          |  BIND(DATATYPE(?name) AS ?dt_name)
          |  BIND(STR(?lbl) AS ?plain)
          |  FILTER(LANGMATCHES(LANG(?lbl), "en"))
          |} ORDER BY ?n""".stripMargin),
        TpchRdf.source(s, dir))),

    // SPARQL §17.4.4 hash functions (FunctionRegistry MD5/SHA1/SHA256/
    // SHA384/SHA512); MD5+SHA256 value-checked by the oracle, the rest
    // in ParserSpec (DuckDB lacks sha1/sha384/sha512)
    "sparql_hash_fns" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?n ?nname ?m ?h WHERE {
          |  ?n type "Nation" . ?n name ?nname .
          |  BIND(MD5(?nname) AS ?m)
          |  BIND(SHA256(?nname) AS ?h)
          |} ORDER BY ?n""".stripMargin),
        TpchRdf.source(s, dir))),

    // full-text search from inside a SPARQL query — the reference's
    // bds:search magic service (ast/eval/SearchServiceFactory.java)
    "fulltext_service" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?doc_id ?score WHERE {
          |  SERVICE bds:search {
          |    _:s bds:query "spark join vector" .
          |    _:s bds:limit "20" .
          |    _:s bds:out ?doc_id .
          |    _:s bds:outVal ?score .
          |  }
          |} ORDER BY DESC(?score) ?doc_id""".stripMargin),
        TpchRdf.source(s, dir))),

    // the CLASSIC magic-predicate search syntax — bds:* patterns
    // inline in the WHERE group, no SERVICE (the reference's primary
    // documented form; ASTSearchOptimizer lifts it, and so does the
    // parser here): the search variable binds the matched doc, the
    // relevance variable its score
    "fulltext_magic" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?d ?score WHERE {
          |  ?d bds:search "spark join vector" .
          |  ?d bds:relevance ?score .
          |  ?d bds:maxRank "20" .
          |} ORDER BY DESC(?score) ?d""".stripMargin),
        TpchRdf.source(s, dir))),

    // rank WINDOW over full-text hits — the reference FullTextQuery's
    // minRank/maxRank pair (FullTextIndex.java:1082): ranked hits
    // [3, 12], a bounded sort-limit-with-offset, never a row_number
    // window
    "fulltext_window" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?doc_id ?score WHERE {
          |  SERVICE bds:search {
          |    _:s bds:query "spark join vector" .
          |    _:s bds:minRank "3" .
          |    _:s bds:maxRank "12" .
          |    _:s bds:out ?doc_id .
          |    _:s bds:outVal ?score .
          |  }
          |} ORDER BY DESC(?score) ?doc_id""".stripMargin),
        TpchRdf.source(s, dir))),

    // MATCH_EXACT: token hits must ALSO contain the original query
    // string verbatim (BigdataValueCentricFullTextIndex.matchExact:390
    // tests stringValue().contains(query))
    "fulltext_exact" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?doc_id ?score WHERE {
          |  SERVICE bds:search {
          |    _:s bds:query "spark join" .
          |    _:s bds:matchExact "true" .
          |    _:s bds:limit "15" .
          |    _:s bds:out ?doc_id .
          |    _:s bds:outVal ?score .
          |  }
          |} ORDER BY DESC(?score) ?doc_id""".stripMargin),
        TpchRdf.source(s, dir))),

    // PERSISTED-index search: same SERVICE bds:search surface, but the
    // source carries postings built once over the documents corpus
    // ([[graft.search.PersistedSearchIndex]]) — the plan is an index
    // scan + broadcast semi-join, NO per-query corpus tokenize (the
    // reference's FullTextIndex is exactly a persisted index); scores
    // and results are identical to the build-per-query path, one
    // oracle serves both
    "fulltext_indexed" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?doc_id ?score WHERE {
          |  SERVICE bds:search {
          |    _:s bds:query "spark join vector" .
          |    _:s bds:limit "20" .
          |    _:s bds:out ?doc_id .
          |    _:s bds:outVal ?score .
          |  }
          |} ORDER BY DESC(?score) ?doc_id""".stripMargin),
        TripleSource.withIndexes(TpchRdf.source(s, dir),
          search = Some(docIxFor(s, dir))))),

    // searchInSearch over the PERSISTED literal index AND the staged
    // OSP-hash twin: bucket-pruned postings lookups + a partition-
    // pruned O→S broadcast join replace the corpus slow path — the
    // full production shape (persisted index + object-keyed layout,
    // the reference's FullTextIndex + OSP B+Tree pair). The index
    // serves the score-dependent / regex option class the substring
    // prefilter can't (the minRelevance here routes onto it; the
    // threshold is far below any achievable cosine score, so the
    // oracle is the plain OR-match semi-join). Both artifacts are
    // build-once staged (Bench's search_index_build line), so the
    // timed body measures the standing-index query.
    "searchinsearch_indexed" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?r ?rname WHERE {
          |  ?r name ?rname .
          |  SERVICE bds:searchInSearch {
          |    ?r bds:searchInSearch "africa america" .
          |    ?r bds:minRelevance "0.01" .
          |  }
          |} ORDER BY ?r""".stripMargin),
        TripleSource.withIndexes(
          graft.rdf.TripleStorage.withOspTwin(
            TpchRdf.source(s, dir), s, ospTwinFor(s, dir)),
          literal = Some(literalIxFor(s, dir))))),

    // text index MAINTAINED on journal commits (TextIndexMaintenance —
    // the reference's assert/retract text-indexer hooks): the index is
    // created at commit 1 (nation names) and the region names of
    // commit 2 reach it through the DELTA sync; the magic search below
    // finds a commit-2 literal with no rebuild, through a
    // journal-backed store handle
    "search_journal_maintained" -> ((s, dir) => {
      val (triples, ixView) = journalIxFor(s, dir)
      Compiler.compile(Parser.parse(
        """SELECT ?s ?lit WHERE {
          |  ?lit bds:search "asia" .
          |  ?s name ?lit .
          |} ORDER BY ?s""".stripMargin),
        TripleSource.withIndexes(TripleSource.plain(triples),
          search = Some(ixView), literal = Some(ixView)))
    }),

    // EXTERNAL full-text service (fts:search — the reference's
    // FulltextSearchServiceFactory, the last of its seven
    // default-registered services): magic predicates dispatch an HTTP
    // query to a Solr-speaking endpoint and the response docs bind
    // the search variable + score. Here the endpoint is a loopback
    // stub serving the Solr select JSON shape (fixture hits over the
    // region vocabulary — external-index content is fixture data by
    // nature); the enclosing join against ?r name ?res is the real
    // engine surface under test.
    "fts_search" -> ((s, dir) => {
      val srv = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      srv.createContext("/solr/select", { ex =>
        val body =
          """{"response":{"numFound":3,"docs":[
            |  {"id":"ASIA","score":2.0},
            |  {"id":"EUROPE","score":1.0},
            |  {"id":"ATLANTIS","score":0.5}
            |]}}""".stripMargin.getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      })
      srv.start()
      val url = s"http://127.0.0.1:${srv.getAddress.getPort}/solr/select"
      // the HTTP dispatch happens while the handler builds its
      // solution relation (inside compile) — the stub can stop after
      try Compiler.compile(Parser.parse(
        s"""SELECT ?r ?res ?score WHERE {
           |  ?r name ?res .
           |  SERVICE fts:search {
           |    ?res fts:search "continent" .
           |    ?res fts:endpoint "$url" .
           |    ?res fts:searchField "id" .
           |    ?res fts:scoreField "score" .
           |    ?res fts:score ?score .
           |  }
           |} ORDER BY ?r""".stripMargin), TpchRdf.source(s, dir))
      finally srv.stop(0)
    }),

    // SERVICE <endpoint> federation via the pluggable registry
    // (ast/service/ServiceRegistry.java:67): the endpoint here is a
    // second local store (the supplier view); a remote deployment
    // registers an HTTP handler at the same seam. The SERVICE solution
    // joins the enclosing group on the shared ?n variable.
    "sparql_service_federated" -> ((s, dir) => {
      graft.sparql.ServiceRegistry.register("urn:fed:suppliers",
        graft.sparql.ServiceRegistry.localSource(
          TpchRdf.triplesFor(s, dir, Seq("supplier"))))
      Compiler.compile(Parser.parse(
        """SELECT ?sup ?supname ?nname WHERE {
          |  ?n name ?nname .
          |  ?n type "Nation" .
          |  SERVICE <urn:fed:suppliers> {
          |    ?sup nation ?n .
          |    ?sup name ?supname .
          |  }
          |} ORDER BY ?sup""".stripMargin),
        TpchRdf.source(s, dir))
    }),

    // SERVICE ?endpoint — VARIABLE endpoints resolved per binding of
    // the enclosing group (the reference's ServiceCallJoin takes an
    // IVariableOrConstant serviceRef, bop/controller/ServiceCallJoin
    // .java:227): a VALUES-bound two-endpoint catalog, each dispatch
    // answered by its own registered store and joined back tagged with
    // the ?ep value that produced it. The HTTP twin (two loopback
    // servers, SILENT/dead-endpoint corners, the unbound-var error,
    // the endpoint-set size guard) is EngineSpec's "SERVICE ?endpoint"
    // test.
    "sparql_service_var" -> ((s, dir) => {
      graft.sparql.ServiceRegistry.register("urn:fed:nations",
        graft.sparql.ServiceRegistry.localSource(
          TpchRdf.triplesFor(s, dir, Seq("nation"))))
      graft.sparql.ServiceRegistry.register("urn:fed:regions",
        graft.sparql.ServiceRegistry.localSource(
          TpchRdf.triplesFor(s, dir, Seq("region"))))
      Compiler.compile(Parser.parse(
        """SELECT ?ep ?x ?xname WHERE {
          |  VALUES ?ep { <urn:fed:nations> <urn:fed:regions> }
          |  SERVICE ?ep { ?x name ?xname . }
          |} ORDER BY ?ep ?x""".stripMargin),
        TpchRdf.source(s, dir))
    }),

    // GAS analytics from inside a SPARQL query (GASService.java):
    // BFS from r:1 over the reversed nation/region link predicates
    "gas_service_bfs" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?node ?depth WHERE {
          |  SERVICE gas:service {
          |    _:g gas:gasClass "bfs" .
          |    _:g gas:in "r:1" .
          |    _:g gas:linkType "nation" .
          |    _:g gas:linkType "region" .
          |    _:g gas:traversalDirection "Reverse" .
          |    _:g gas:out ?node .
          |    _:g gas:outVal ?depth .
          |  }
          |} ORDER BY ?node""".stripMargin),
        TpchRdf.source(s, dir))),

    // FROM dataset clause: default graph = merge of the FROM graphs
    "sparql_from_graph" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?s ?bal FROM g:supplier WHERE { ?s acctbal ?bal } ORDER BY ?s"""),
        TpchRdf.source(s, dir))),

    // FROM NAMED: GRAPH ?g ranges only over the named graphs
    "sparql_from_named" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?g ?x ?n FROM NAMED g:region FROM NAMED g:nation WHERE {
          |  GRAPH ?g { ?x name ?n }
          |} ORDER BY ?g ?x""".stripMargin),
        TpchRdf.source(s, dir))),

    // parsed text: GRAPH ?g — the graph name is a solution variable
    "graph_var_pattern" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?g ?x ?n WHERE { GRAPH ?g { ?x name ?n } } ORDER BY ?g ?x"""),
        TpchRdf.source(s, dir))),

    // search-in-search: hits of a full-text search over the store's
    // LITERALS feed the subject position as a semi-join filter —
    // the reference's bd:searchInSearch magic service
    // (ast/eval/SearchInSearchServiceFactory.java), evaluated through
    // the ServiceRegistry seam (sparql/BuiltinServices.scala)
    "searchinsearch_service" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?r ?rname WHERE {
          |  ?r name ?rname .
          |  SERVICE bds:searchInSearch {
          |    ?r bds:searchInSearch "middle east" .
          |    ?r bds:matchAllTerms "true" .
          |  }
          |} ORDER BY ?r""".stripMargin),
        TpchRdf.source(s, dir))),

    // paged access to one triple pattern through the pruned access
    // path, deterministic in (s,p,o) key order — the reference's
    // bd:slice service (ast/eval/SliceServiceFactory.java)
    "slice_service" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?s ?bal WHERE {
          |  SERVICE bd:slice {
          |    ?s acctbal ?bal .
          |    bd:serviceParam bd:slice.offset 10 .
          |    bd:serviceParam bd:slice.limit 5 .
          |  }
          |} ORDER BY ?s ?bal""".stripMargin),
        TpchRdf.source(s, dir))),

    // bd:slice range mode: the pattern's exact range count bound to a
    // variable (the ESTCARD sibling; SliceServiceFactory RANGE param)
    "slice_range_count" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?rng WHERE {
          |  SERVICE bd:slice { ?s acctbal ?bal . bd:serviceParam bd:slice.range ?rng . }
          |}""".stripMargin),
        TpchRdf.source(s, dir))),

    // VALUES through the service seam — the reference's bd:values
    // service (ast/eval/ValuesServiceFactory.java): one variable, an
    // inline value list joined into the enclosing group
    "values_service" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?c ?cname ?seg WHERE {
          |  ?c mktsegment ?seg . ?c name ?cname .
          |  SERVICE bd:values {
          |    bd:serviceParam bd:values.var ?seg .
          |    bd:serviceParam bd:values.val "BUILDING" .
          |    bd:serviceParam bd:values.val "MACHINERY" .
          |  }
          |} ORDER BY ?c""".stripMargin),
        TpchRdf.source(s, dir))),

    // deterministic seeded sample of one access path — the reference's
    // bd:sample service (ast/eval/SampleServiceFactory.java over
    // SampleIndex); RANDOM = the md5-bucket draw, replayed exactly by
    // the DuckDB oracle
    "sample_service" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?s ?bal WHERE {
          |  SERVICE bd:sample {
          |    ?s acctbal ?bal .
          |    bd:serviceParam bd:sample.limit 7 .
          |    bd:serviceParam bd:sample.seed 42 .
          |  }
          |} ORDER BY ?s ?bal""".stripMargin),
        TpchRdf.source(s, dir))),

    // group operators INSIDE a variable-GRAPH block: OPTIONAL composes
    // via the graph-var-carrying left join, and the property-path
    // closure evaluates WITHIN each graph (§13.3 per-graph semantics;
    // nodes packed as (g, term) structs so one distributed fixpoint
    // serves every graph — reference: AST2BOpUtility graph-context
    // propagation into ArbitraryLengthPathNode)
    "graph_var_path" -> ((s, dir) =>
      Compiler.compile(Parser.parse(
        """SELECT ?g ?s ?nm ?ref WHERE {
          |  GRAPH ?g {
          |    ?s name ?nm
          |    OPTIONAL { ?s (nation|region)+ ?ref }
          |  }
          |} ORDER BY ?g ?s ?ref""".stripMargin),
        TpchRdf.source(s, dir))),

    // COUNT(DISTINCT ?x) aggregate (SPARQL count-distinct)
    "agg_distinct_count" -> ((s, dir) => run(s, dir,
      OrderBy(
        Group(Bgp(TriplePattern("?l", "supplier", "?sup"),
                  TriplePattern("?l", "part", "?part")),
          Seq("sup"),
          Seq("n_parts" -> countDistinct(col("part")),
              "n_lines" -> count(lit(1)))),
        Seq(col("sup"))))),

    // FunctionRegistry coverage: string/numeric/conditional value exprs
    "sparql_functions" -> ((s, dir) => run(s, dir,
      OrderBy(
        Extend(
          Extend(
            Extend(
              Extend(
                Extend(
                  Extend(
                    Project(Bgp(
                      TriplePattern("?p", "name", "?pname"),
                      TriplePattern("?p", "brand", "?brand"),
                      TriplePattern("?p", "retailprice", "?price")),
                      "p", "pname", "brand", "price"),
                    "name_len", length(col("pname"))),
                  "upper_brand", upper(col("brand"))),
                "clean_name", regexp_replace(col("pname"), " ", "_")),
              "prefix", substring(col("pname"), 1, 4)),
            "price_ceil", ceil(col("price").cast("double")).cast("long")),
          "price_band",
          when(col("price").cast("double") > 500, "HIGH")
            .otherwise(when(col("price").cast("double") > 200, "MID").otherwise("LOW"))),
        Seq(col("p"))))),

    // date value exprs: YEAR/MONTH/DAY over xsd:date-shaped literals
    "sparql_datefns" -> ((s, dir) => run(s, dir,
      OrderBy(
        Filter(
          Extend(
            Extend(
              Extend(
                Project(Bgp(
                  TriplePattern("?o", "orderdate", "?d"),
                  TriplePattern("?o", "priority", "5-LOW")), "o", "d"),
                "y", year(to_date(col("d")))),
              "m", month(to_date(col("d")))),
            "dom", dayofmonth(to_date(col("d")))),
          col("y") === 1997),
        Seq(col("o"))))),
  )

  private val T = "WITH " + TpchRdf.oracleCte + "\n"

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "bgp_star_join" ->
      """SELECT c_name AS cname, n_name AS nname,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_mktsegment = 'BUILDING' ORDER BY cname""".stripMargin,

    "bgp_chain_join" ->
      """SELECT 'o:'||CAST(o_orderkey AS VARCHAR) AS o, 'c:'||CAST(o_custkey AS VARCHAR) AS c,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderstatus = 'F' ORDER BY o, c""".stripMargin,

    "optional_leftjoin" ->
      """SELECT n_name AS nname, c_name AS cname
        |FROM nation LEFT JOIN customer
        |  ON c_nationkey = n_nationkey AND c_mktsegment = 'BUILDING'
        |ORDER BY nname, cname""".stripMargin,

    "optional_join_cond" ->
      // ?c with nation+name spans customers AND suppliers
      """WITH m AS (
        |  SELECT c_nationkey AS nk, c_name AS cname FROM customer
        |  UNION ALL SELECT s_nationkey, s_name FROM supplier
        |)
        |SELECT n_name AS nname, cname
        |FROM nation LEFT JOIN m ON m.nk = n_nationkey AND m.cname > n_name
        |ORDER BY nname, cname""".stripMargin,

    "union_op" ->
      """SELECT 's:'||CAST(s_suppkey AS VARCHAR) AS x, s_name AS name,
        |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal FROM supplier
        |UNION ALL
        |SELECT 'c:'||CAST(c_custkey AS VARCHAR), c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) FROM customer
        |WHERE c_mktsegment = 'AUTOMOBILE'
        |ORDER BY x, name""".stripMargin,

    "minus_op" ->
      """SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS c FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c""".stripMargin,

    "filter_expr" ->
      """SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS c,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal,
        |  c_mktsegment AS seg
        |FROM customer
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) > 5000
        |  AND c_mktsegment <> 'BUILDING'
        |ORDER BY c""".stripMargin,

    "filter_regex" ->
      """SELECT 'p:'||CAST(p_partkey AS VARCHAR) AS p, p_name AS pname, p_brand AS brand
        |FROM part
        |WHERE regexp_matches(p_name, '^(red|blue) (bolt|gear)')
        |ORDER BY p""".stripMargin,

    "exists_semijoin" ->
      """SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS c, c_name AS name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c""".stripMargin,

    "not_exists_antijoin" ->
      """SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS c, c_name AS name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c""".stripMargin,

    "bind_extend" ->
      """SELECT 'o:'||CAST(o_orderkey AS VARCHAR) AS o,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1)), 2) AS DOUBLE) AS disc_price
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o""".stripMargin,

    "values_inline" ->
      """SELECT 'n:'||CAST(n_nationkey AS VARCHAR) AS n, n_name AS nname,
        |  'r:'||CAST(n_regionkey AS VARCHAR) AS r
        |FROM nation WHERE n_name IN ('NATION_1','NATION_3','NATION_17')
        |ORDER BY n""".stripMargin,

    "distinct_op" ->
      """SELECT DISTINCT c_mktsegment AS seg, 'n:'||CAST(c_nationkey AS VARCHAR) AS n
        |FROM customer ORDER BY seg, n""".stripMargin,

    "order_limit" ->
      """SELECT 'o:'||CAST(o_orderkey AS VARCHAR) AS o,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price
        |FROM orders
        |ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) DESC, o
        |LIMIT 10 OFFSET 5""".stripMargin,

    "group_having" ->
      """SELECT 'c:'||CAST(o_custkey AS VARCHAR) AS c, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
        |ORDER BY c""".stripMargin,

    "agg_group_concat" ->
      """SELECT 'n:'||CAST(c_nationkey AS VARCHAR) AS n,
        |  string_agg(c_name, '|' ORDER BY c_name) AS names,
        |  MIN(c_name) AS sample_name
        |FROM customer GROUP BY c_nationkey ORDER BY n""".stripMargin,

    "subquery_op" ->
      """SELECT 'n:'||CAST(c_nationkey AS VARCHAR) AS n, n_name AS nname,
        |  MAX(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)) AS maxbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_nationkey, n_name ORDER BY n""".stripMargin,

    "path_transitive" ->
      """WITH RECURSIVE step AS (
        |  SELECT 'o:'||CAST(o_orderkey AS VARCHAR) AS f, 'c:'||CAST(o_custkey AS VARCHAR) AS t FROM orders
        |  UNION ALL SELECT 'c:'||CAST(c_custkey AS VARCHAR), 'n:'||CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT 's:'||CAST(s_suppkey AS VARCHAR), 'n:'||CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL SELECT 'n:'||CAST(n_nationkey AS VARCHAR), 'r:'||CAST(n_regionkey AS VARCHAR) FROM nation
        |), tc AS (
        |  SELECT f, t FROM step
        |  UNION
        |  SELECT tc.f, s.t FROM tc JOIN step s ON tc.t = s.f
        |)
        |SELECT DISTINCT f AS x FROM tc WHERE t = 'r:2' ORDER BY x""".stripMargin,

    "path_seq" ->
      """SELECT DISTINCT 'o:'||CAST(o_orderkey AS VARCHAR) AS x,
        |  'n:'||CAST(c_nationkey AS VARCHAR) AS y
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY x, y""".stripMargin,

    "path_inverse" ->
      """SELECT DISTINCT n, c FROM (
        |  SELECT 'n:'||CAST(c_nationkey AS VARCHAR) AS n, 'c:'||CAST(c_custkey AS VARCHAR) AS c FROM customer
        |  UNION ALL
        |  SELECT 'n:'||CAST(s_nationkey AS VARCHAR), 's:'||CAST(s_suppkey AS VARCHAR) FROM supplier
        |) ORDER BY n, c""".stripMargin,

    "path_star" ->
      """WITH RECURSIVE step AS (
        |  SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS f, 'n:'||CAST(c_nationkey AS VARCHAR) AS t FROM customer
        |  UNION ALL SELECT 's:'||CAST(s_suppkey AS VARCHAR), 'n:'||CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL SELECT 'n:'||CAST(n_nationkey AS VARCHAR), 'r:'||CAST(n_regionkey AS VARCHAR) FROM nation
        |), reach(y) AS (
        |  SELECT 'c:7'
        |  UNION
        |  SELECT s.t FROM reach JOIN step s ON s.f = reach.y
        |)
        |SELECT y FROM reach ORDER BY y""".stripMargin,

    "path_negated" ->
      (T + """SELECT o FROM triples
        |WHERE s = 'c:42' AND p NOT IN ('type', 'name')
        |ORDER BY o""".stripMargin),

    "construct_triples" ->
      """WITH sol AS (
        |  SELECT 'o:'||CAST(o_orderkey AS VARCHAR) AS o, 'c:'||CAST(o_custkey AS VARCHAR) AS c, c_mktsegment AS seg
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderstatus = 'P'
        |)
        |SELECT DISTINCT * FROM (
        |  SELECT c AS s, 'hasOrder' AS p, o FROM sol
        |  UNION ALL SELECT o AS s, 'inSegment' AS p, seg AS o FROM sol
        |) ORDER BY s, p, o""".stripMargin,

    "ask_query" ->
      """SELECT EXISTS (
        |  SELECT 1 FROM customer WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) > 9000
        |) AS ask""".stripMargin,

    "describe_node" ->
      (T + "SELECT s, p, o FROM triples WHERE s = 'c:42' ORDER BY p, o"),

    "sparql_parsed" ->
      """SELECT c_name AS cname,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal
        |FROM customer
        |WHERE c_mktsegment = 'MACHINERY'
        |  AND CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) > 2500
        |ORDER BY cname""".stripMargin,

    "sparql_parsed_agg" ->
      // ?c ranges over ANY subject with nation+acctbal: customers AND suppliers
      """WITH x AS (
        |  SELECT 'n:'||CAST(c_nationkey AS VARCHAR) AS n, CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer
        |  UNION ALL
        |  SELECT 'n:'||CAST(s_nationkey AS VARCHAR), CAST(s_acctbal AS DECIMAL(18,2)) FROM supplier
        |)
        |SELECT n, COUNT(*) AS n_cust, CAST(SUM(bal) AS DOUBLE) AS total
        |FROM x GROUP BY n HAVING COUNT(*) >= 3
        |ORDER BY n""".stripMargin,

    "sparql_parsed_prefix" ->
      """SELECT 's:'||CAST(s_suppkey AS VARCHAR) AS s,
        |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal
        |FROM supplier
        |WHERE CAST(CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) > 5000
        |ORDER BY s""".stripMargin,

    "sparql_parsed_path" ->
      """SELECT DISTINCT 'o:'||CAST(o_orderkey AS VARCHAR) AS x
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |ORDER BY x""".stripMargin,

    "path_bounded" ->
      """SELECT s, x FROM (
        |  SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS s,
        |         'n:'||CAST(c_nationkey AS VARCHAR) AS x FROM customer
        |  UNION ALL
        |  SELECT 'c:'||CAST(c_custkey AS VARCHAR),
        |         'r:'||CAST(n_regionkey AS VARCHAR)
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |) ORDER BY s, x""".stripMargin,

    "sparql_parsed_values" ->
      """SELECT 'n:'||CAST(n_nationkey AS VARCHAR) AS n, n_name AS nname
        |FROM nation WHERE n_name IN ('NATION_2','NATION_5')
        |ORDER BY n""".stripMargin,

    "sparql_parsed_construct" ->
      """SELECT DISTINCT 'c:'||CAST(c_custkey AS VARCHAR) AS s, 'partner' AS p,
        |  'n:'||CAST(c_nationkey AS VARCHAR) AS o
        |FROM customer WHERE c_mktsegment = 'MACHINERY'
        |ORDER BY s, p, o""".stripMargin,

    "sparql_parsed_ask" ->
      """SELECT EXISTS (
        |  SELECT 1 FROM customer WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) > 9000
        |) AS ask""".stripMargin,

    "sparql_parsed_describe" ->
      (T + "SELECT s, p, o FROM triples WHERE s = 'c:42' ORDER BY p, o"),

    "sparql_parsed_exists_expr" ->
      """SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS c, c_name AS name
        |FROM customer
        |WHERE CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) > 3000
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c""".stripMargin,

    "sparql_parsed_subquery" ->
      // ?c ranges over customers AND suppliers (both have nation+acctbal);
      // MAX over the string term is lexicographic in both engines
      """WITH x AS (
        |  SELECT 'n:'||CAST(c_nationkey AS VARCHAR) AS n,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal FROM customer
        |  UNION ALL
        |  SELECT 'n:'||CAST(s_nationkey AS VARCHAR),
        |    CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) FROM supplier
        |), m AS (SELECT n, MAX(bal) AS maxbal FROM x GROUP BY n)
        |SELECT m.n AS n, n_name AS nname, maxbal
        |FROM m JOIN nation ON m.n = 'n:'||CAST(n_nationkey AS VARCHAR)
        |ORDER BY n""".stripMargin,

    "sparql_parsed_fns" ->
      """SELECT 'p:'||CAST(p_partkey AS VARCHAR) AS p, p_name AS pname,
        |  length(p_name) AS nlen, upper(p_brand) AS ub, substr(p_name, 1, 4) AS pre,
        |  CAST(length(p_name) * 2 + 1 AS DOUBLE) AS dbl,
        |  CAST(floor(p_retailprice + 0.5) AS BIGINT) AS rnd
        |FROM part
        |WHERE length(p_name) > 7 AND p_brand IN ('Brand#2', 'Brand#19', 'Brand#4')
        |ORDER BY p""".stripMargin,

    "sparql_named_subquery" ->
      """SELECT n_name AS nname, COUNT(*) AS n_orders,
        |  MAX(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR)) AS maxbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY n_name ORDER BY nname""".stripMargin,

    "sparql_hints" ->
      """SELECT 'o:'||CAST(o_orderkey AS VARCHAR) AS o, 'c:'||CAST(o_custkey AS VARCHAR) AS c,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderstatus = 'F' ORDER BY o, c""".stripMargin,

    "sparql_hash_fns" ->
      """SELECT 'n:'||CAST(n_nationkey AS VARCHAR) AS n, n_name AS nname,
        |  md5(n_name) AS m, sha256(n_name) AS h
        |FROM nation ORDER BY n""".stripMargin,

    "sparql_parsed_sugar" ->
      """SELECT c_name AS cname, n_name AS nname,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY cname""".stripMargin,

    "sparql_term_fns" ->
      """WITH x AS (
        |  SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS s, 'n:'||CAST(c_nationkey AS VARCHAR) AS v FROM customer
        |  UNION ALL SELECT 's:'||CAST(s_suppkey AS VARCHAR), 'n:'||CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL SELECT 'c:'||CAST(c_custkey AS VARCHAR), c_name FROM customer
        |  UNION ALL SELECT 's:'||CAST(s_suppkey AS VARCHAR), s_name FROM supplier
        |  UNION ALL SELECT 'n:'||CAST(n_nationkey AS VARCHAR), n_name FROM nation
        |  UNION ALL SELECT 'r:'||CAST(r_regionkey AS VARCHAR), r_name FROM region
        |  UNION ALL SELECT 'p:'||CAST(p_partkey AS VARCHAR), p_name FROM part
        |)
        |SELECT s, v, regexp_matches(v, '^[A-Za-z][A-Za-z0-9+.-]*:') AS is_iri,
        |  regexp_matches(v, '^[-+]?[0-9]+(\.[0-9]+)?$') AS is_num,
        |  NOT regexp_matches(v, '^[A-Za-z][A-Za-z0-9+.-]*:') AS is_lit
        |FROM x ORDER BY s, v""".stripMargin,

    "sparql_lang_fns" ->
      """WITH nn AS (
        |  SELECT 'n:'||CAST(n_nationkey AS VARCHAR) AS n, n_name AS name FROM nation
        |), t AS (
        |  SELECT n, name,
        |    '"' || name || '"@' ||
        |      CASE WHEN length(name) = 8 THEN 'fr' ELSE 'en-US' END AS lbl
        |  FROM nn
        |), x AS (
        |  SELECT n, lbl,
        |    regexp_extract(lbl, '^".*"@(.*)$', 1) AS lang,
        |    'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString' AS dt,
        |    'http://www.w3.org/2001/XMLSchema#int' AS dti,
        |    'http://www.w3.org/2001/XMLSchema#string' AS dt_name,
        |    regexp_extract(lbl, '^"(.*)"@', 1) AS plain
        |  FROM t
        |)
        |SELECT n, lbl, lang, dt, dti, dt_name, plain FROM x
        |WHERE lower(lang) = 'en' OR lower(lang) LIKE 'en-%'
        |ORDER BY n""".stripMargin,

    "sparql_service_federated" ->
      """SELECT 's:'||CAST(s_suppkey AS VARCHAR) AS sup, s_name AS supname, n_name AS nname
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY sup""".stripMargin,

    "sparql_service_var" ->
      """SELECT ep, x, xname FROM (
        |  SELECT 'urn:fed:nations' AS ep, 'n:'||CAST(n_nationkey AS VARCHAR) AS x, n_name AS xname FROM nation
        |  UNION ALL
        |  SELECT 'urn:fed:regions', 'r:'||CAST(r_regionkey AS VARCHAR), r_name FROM region
        |) ORDER BY ep, x""".stripMargin,

    "fulltext_service" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term
        |  FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''
        |), tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dn AS (SELECT doc_id, sqrt(SUM(tf*tf)) AS dn FROM tf GROUP BY 1),
        |q AS (SELECT UNNEST(['spark','join','vector']) AS term)
        |SELECT tf.doc_id, ROUND(SUM(tf.tf / dn.dn / sqrt(3.0)), 6) AS score
        |FROM tf JOIN q USING (term) JOIN dn USING (doc_id)
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "fulltext_magic" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term
        |  FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''
        |), tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dn AS (SELECT doc_id, sqrt(SUM(tf*tf)) AS dn FROM tf GROUP BY 1),
        |q AS (SELECT UNNEST(['spark','join','vector']) AS term)
        |SELECT tf.doc_id AS d, ROUND(SUM(tf.tf / dn.dn / sqrt(3.0)), 6) AS score
        |FROM tf JOIN q USING (term) JOIN dn USING (doc_id)
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, d LIMIT 20""".stripMargin,

    "fulltext_window" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term
        |  FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''
        |), tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dn AS (SELECT doc_id, sqrt(SUM(tf*tf)) AS dn FROM tf GROUP BY 1),
        |q AS (SELECT UNNEST(['spark','join','vector']) AS term),
        |scored AS (
        |  SELECT tf.doc_id, ROUND(SUM(tf.tf / dn.dn / sqrt(3.0)), 6) AS score
        |  FROM tf JOIN q USING (term) JOIN dn USING (doc_id)
        |  GROUP BY tf.doc_id
        |)
        |SELECT doc_id, score FROM (
        |  SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10 OFFSET 2
        |) ORDER BY score DESC, doc_id""".stripMargin,

    "fulltext_exact" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term
        |  FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''
        |), tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dn AS (SELECT doc_id, sqrt(SUM(tf*tf)) AS dn FROM tf GROUP BY 1),
        |q AS (SELECT UNNEST(['spark','join']) AS term),
        |scored AS (
        |  SELECT tf.doc_id, ROUND(SUM(tf.tf / dn.dn / sqrt(2.0)), 6) AS score
        |  FROM tf JOIN q USING (term) JOIN dn USING (doc_id)
        |  GROUP BY tf.doc_id
        |)
        |SELECT s.doc_id, s.score FROM scored s JOIN documents d USING (doc_id)
        |WHERE d.text LIKE '%spark join%'
        |ORDER BY s.score DESC, s.doc_id LIMIT 15""".stripMargin,

    "gas_service_bfs" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'r:'||CAST(n_regionkey AS VARCHAR) AS src, 'n:'||CAST(n_nationkey AS VARCHAR) AS dst FROM nation
        |  UNION ALL SELECT 'n:'||CAST(c_nationkey AS VARCHAR), 'c:'||CAST(c_custkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'n:'||CAST(s_nationkey AS VARCHAR), 's:'||CAST(s_suppkey AS VARCHAR) FROM supplier
        |), walk(node, depth) AS (
        |  SELECT 'r:1', 0
        |  UNION ALL
        |  SELECT e.dst, walk.depth + 1 FROM walk JOIN e ON e.src = walk.node WHERE walk.depth < 4
        |)
        |SELECT node, CAST(MIN(depth) AS INTEGER) AS depth FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    "sparql_from_graph" ->
      """SELECT 's:'||CAST(s_suppkey AS VARCHAR) AS s,
        |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal
        |FROM supplier ORDER BY s""".stripMargin,

    "sparql_from_named" ->
      """SELECT g, x, n FROM (
        |  SELECT 'g:nation' AS g, 'n:'||CAST(n_nationkey AS VARCHAR) AS x, n_name AS n FROM nation
        |  UNION ALL SELECT 'g:region', 'r:'||CAST(r_regionkey AS VARCHAR), r_name FROM region
        |) ORDER BY g, x""".stripMargin,

    // the indexed variant answers from persisted postings — identical
    // result contract, one oracle family (the index IS the corpus)
    "fulltext_indexed" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term
        |  FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE t <> ''
        |), tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dn AS (SELECT doc_id, sqrt(SUM(tf*tf)) AS dn FROM tf GROUP BY 1),
        |q AS (SELECT UNNEST(['spark','join','vector']) AS term)
        |SELECT tf.doc_id, ROUND(SUM(tf.tf / dn.dn / sqrt(3.0)), 6) AS score
        |FROM tf JOIN q USING (term) JOIN dn USING (doc_id)
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // OR semantics (no matchAllTerms): any literal carrying EITHER
    // query token filters its subjects in
    "searchinsearch_indexed" ->
      (T + """SELECT s AS r, o AS rname FROM triples x
        |WHERE p = 'name' AND EXISTS (
        |  SELECT 1 FROM triples h
        |  WHERE h.s = x.s
        |    AND NOT regexp_matches(h.o, '^[A-Za-z][A-Za-z0-9+.-]*:')
        |    AND NOT starts_with(h.o, '_:')
        |    AND list_has_any(
        |      list_filter(string_split_regex(lower(h.o), '[^a-z0-9]+'), y -> y <> ''),
        |      ['africa', 'america'])
        |)
        |ORDER BY r""".stripMargin),

    "search_journal_maintained" ->
      """SELECT s, lit FROM (
        |  SELECT 'n:'||CAST(n_nationkey AS VARCHAR) AS s, n_name AS lit FROM nation
        |  UNION ALL SELECT 'r:'||CAST(r_regionkey AS VARCHAR), r_name FROM region
        |) WHERE list_contains(
        |  list_filter(string_split_regex(lower(lit), '[^a-z0-9]+'), y -> y <> ''),
        |  'asia')
        |ORDER BY s""".stripMargin,

    // the stub endpoint's fixture hits re-declared inline; the oracle
    // checks the JOIN of external hits against the store
    "fts_search" ->
      """SELECT 'r:'||CAST(r_regionkey AS VARCHAR) AS r, r_name AS res,
        |  CAST(v.score AS DOUBLE) AS score
        |FROM region JOIN (VALUES ('ASIA', 2.0), ('EUROPE', 1.0),
        |  ('ATLANTIS', 0.5)) v(nm, score) ON r_name = v.nm
        |ORDER BY r""".stripMargin,

    "searchinsearch_service" ->
      // hit = any literal (non-IRI object) whose Latin tokenization
      // contains ALL the query terms (matchAllTerms); the subject
      // filter is an EXISTS over the triple view — the O→S semi-join
      // the service compiles
      (T + """SELECT s AS r, o AS rname FROM triples x
        |WHERE p = 'name' AND EXISTS (
        |  SELECT 1 FROM triples h
        |  WHERE h.s = x.s
        |    AND NOT regexp_matches(h.o, '^[A-Za-z][A-Za-z0-9+.-]*:')
        |    AND NOT starts_with(h.o, '_:')
        |    AND list_has_all(
        |      list_filter(string_split_regex(lower(h.o), '[^a-z0-9]+'), y -> y <> ''),
        |      ['middle', 'east'])
        |)
        |ORDER BY r""".stripMargin),

    "slice_service" ->
      (T + """SELECT s, bal FROM (
        |  SELECT s, o AS bal FROM triples WHERE p = 'acctbal'
        |  ORDER BY s, p, o LIMIT 5 OFFSET 10
        |) ORDER BY s, bal""".stripMargin),

    "slice_range_count" ->
      (T + "SELECT count(*) AS rng FROM triples WHERE p = 'acctbal'"),

    "values_service" ->
      """SELECT 'c:'||CAST(c_custkey AS VARCHAR) AS c, c_name AS cname, c_mktsegment AS seg
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |ORDER BY c""".stripMargin,

    "sample_service" ->
      (T + """SELECT s, bal FROM (
        |  SELECT s, o AS bal FROM triples WHERE p = 'acctbal'
        |  ORDER BY md5(s || '|' || p || '|' || o || '|42') LIMIT 7
        |) ORDER BY s, bal""".stripMargin),

    "graph_var_pattern" ->
      """SELECT g, x, n FROM (
        |  SELECT 'g:customer' AS g, 'c:'||CAST(c_custkey AS VARCHAR) AS x, c_name AS n FROM customer
        |  UNION ALL SELECT 'g:nation', 'n:'||CAST(n_nationkey AS VARCHAR), n_name FROM nation
        |  UNION ALL SELECT 'g:region', 'r:'||CAST(r_regionkey AS VARCHAR), r_name FROM region
        |  UNION ALL SELECT 'g:supplier', 's:'||CAST(s_suppkey AS VARCHAR), s_name FROM supplier
        |  UNION ALL SELECT 'g:part', 'p:'||CAST(p_partkey AS VARCHAR), p_name FROM part
        |) ORDER BY g, x""".stripMargin,

    // per-graph closure: within each table-graph the (nation|region)+
    // relation is exactly the table's own single ref hop (ref targets
    // live in OTHER graphs, so no second step exists inside the graph);
    // region/part rows have no ref edge → OPTIONAL leaves ref NULL
    "graph_var_path" ->
      """SELECT g, s, nm, ref FROM (
        |  SELECT 'g:customer' AS g, 'c:'||CAST(c_custkey AS VARCHAR) AS s, c_name AS nm,
        |         'n:'||CAST(c_nationkey AS VARCHAR) AS ref FROM customer
        |  UNION ALL SELECT 'g:nation', 'n:'||CAST(n_nationkey AS VARCHAR), n_name,
        |         'r:'||CAST(n_regionkey AS VARCHAR) FROM nation
        |  UNION ALL SELECT 'g:region', 'r:'||CAST(r_regionkey AS VARCHAR), r_name, NULL FROM region
        |  UNION ALL SELECT 'g:supplier', 's:'||CAST(s_suppkey AS VARCHAR), s_name,
        |         'n:'||CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL SELECT 'g:part', 'p:'||CAST(p_partkey AS VARCHAR), p_name, NULL FROM part
        |) ORDER BY g, s, ref""".stripMargin,

    "agg_distinct_count" ->
      """SELECT 's:'||CAST(l_suppkey AS VARCHAR) AS sup,
        |  COUNT(DISTINCT 'p:'||CAST(l_partkey AS VARCHAR)) AS n_parts,
        |  COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_suppkey ORDER BY sup""".stripMargin,

    "sparql_functions" ->
      """SELECT 'p:'||CAST(p_partkey AS VARCHAR) AS p, p_name AS pname, p_brand AS brand,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price,
        |  length(p_name) AS name_len,
        |  upper(p_brand) AS upper_brand,
        |  replace(p_name, ' ', '_') AS clean_name,
        |  substr(p_name, 1, 4) AS prefix,
        |  CAST(ceil(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE)) AS BIGINT) AS price_ceil,
        |  CASE WHEN CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) > 500 THEN 'HIGH'
        |       WHEN CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) > 200 THEN 'MID'
        |       ELSE 'LOW' END AS price_band
        |FROM part ORDER BY p""".stripMargin,

    "sparql_datefns" ->
      """SELECT 'o:'||CAST(o_orderkey AS VARCHAR) AS o,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom
        |FROM orders
        |WHERE o_orderpriority = '5-LOW' AND year(o_orderdate) = 1997
        |ORDER BY o""".stripMargin,
  )
}
