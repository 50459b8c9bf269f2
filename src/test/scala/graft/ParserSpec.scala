package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.rdf.TpchRdf
import graft.sparql._

class ParserSpec extends AnyFunSuite {
  import TestSpark.{spark, SF}
  // loader bnode labels are document-scoped by an 16-hex content hash;
  // strip the scope for stable expectations
  private def unscope(t: String) = t.replaceAll("^_:[0-9a-f]{16}-", "_:")
  private def unscope3(x: (String, String, String)): (String, String, String) =
    (unscope(x._1), x._2, unscope(x._3))
  private lazy val src = TpchRdf.source(spark, SF)
  private def run(q: String) = Compiler.compile(Parser.parse(q), src)

  test("basic BGP + projection + order") {
    val df = run("""SELECT ?cname ?bal WHERE {
      ?c mktsegment "BUILDING" .
      ?c name ?cname .
      ?c acctbal ?bal
    } ORDER BY ?cname""")
    val expected = Compiler.compile(
      OrderBy(Project(Bgp(
        TriplePattern("?c", "mktsegment", "BUILDING"),
        TriplePattern("?c", "name", "?cname"),
        TriplePattern("?c", "acctbal", "?bal")), "cname", "bal"),
        Seq(col("cname"))), src)
    assert(df.columns.toSeq == Seq("cname", "bal"))
    assert(df.collect().toSeq == expected.collect().toSeq)
  }

  test("FILTER with numeric comparison and boolean ops") {
    val df = run("""SELECT ?c WHERE {
      ?c acctbal ?bal .
      ?c mktsegment ?seg .
      FILTER(?bal > 5000 && ?seg != "BUILDING")
    }""")
    val n = TpchRdf.table(spark, SF, "customer")
      .filter(col("c_acctbal").cast("decimal(18,2)").cast("string").cast("double") > 5000
        && col("c_mktsegment") =!= "BUILDING").count()
    assert(df.count() == n)
  }

  test("OPTIONAL, UNION, LIMIT/OFFSET") {
    val opt = run("""SELECT ?nname ?cname WHERE {
      ?n type "Nation" . ?n name ?nname
      OPTIONAL { ?c nation ?n . ?c name ?cname . ?c mktsegment "BUILDING" }
    }""")
    assert(opt.filter(col("cname").isNull).count() > 0)

    val uni = run("""SELECT ?x WHERE {
      { ?x type "Region" } UNION { ?x type "Nation" }
    }""")
    assert(uni.count() == 30)

    val lim = run("""SELECT ?o WHERE { ?o priority "1-URGENT" } ORDER BY ?o LIMIT 10 OFFSET 5""")
    assert(lim.count() == 10)
  }

  test("FILTER NOT EXISTS and regex") {
    val ne = run("""SELECT ?c WHERE {
      ?c type "Customer"
      FILTER NOT EXISTS { ?o customer ?c }
    }""")
    val viaAlgebra = Compiler.compile(
      NotExists(Bgp(TriplePattern("?c", "type", "Customer")),
                Bgp(TriplePattern("?o", "customer", "?c"))), src)
    assert(ne.count() == viaAlgebra.select("c").count())

    val re = run("""SELECT ?p ?pname WHERE {
      ?p name ?pname FILTER(regex(?pname, "^red"))
    }""")
    assert(re.count() ==
      TpchRdf.table(spark, SF, "part").filter(col("p_name").rlike("^red")).count())
  }

  test("BIND and DISTINCT") {
    val df = run("""SELECT DISTINCT ?band WHERE {
      ?p retailprice ?price .
      BIND(?price AS ?band)
    } ORDER BY ?band LIMIT 5""")
    assert(df.count() == 5)
    // REDUCED evaluates as full dedup (a conforming §15.3.1 choice)
    val red = run("""SELECT REDUCED ?band WHERE {
      ?p retailprice ?price .
      BIND(?price AS ?band)
    } ORDER BY ?band LIMIT 5""")
    assert(red.collect().toSeq == df.collect().toSeq)
  }

  test("ORDER BY accepts bare function-call conditions (grammar [24])") {
    val df = run(
      """SELECT ?n WHERE { ?r type "Region" . ?r name ?n } ORDER BY STRLEN(?n) ?n""")
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("ASIA", "AFRICA", "EUROPE", "AMERICA", "MIDDLE EAST"))
  }

  test("aggregates with GROUP BY and HAVING") {
    val df = run("""SELECT ?n (COUNT(*) AS ?cnt) WHERE {
      ?c nation ?n
    } GROUP BY ?n HAVING(COUNT(*) >= 3) ORDER BY ?n""")
    assert(df.columns.toSeq == Seq("n", "cnt"))
    val expect = TpchRdf.table(spark, SF, "customer")
      .groupBy("c_nationkey").count().filter(col("count") >= 3).count()
    assert(df.count() == expect)
  }

  test("PREFIX expansion interns base-IRI terms to local names") {
    val df = run("""PREFIX v: <urn:graft:>
      SELECT ?r ?name WHERE { ?r v:type "Region" . ?r v:name ?name }""")
    assert(df.count() == 5)
    val full = run("""SELECT ?r ?name WHERE { ?r <urn:graft:type> "Region" . ?r name ?name }""")
    assert(full.count() == 5)
  }

  test("property paths in text: sequence, alternative, star, inverse, negated") {
    val seq = run("""SELECT DISTINCT ?x WHERE { ?x customer/nation ?n } ORDER BY ?x""")
    assert(seq.count() == TpchRdf.table(spark, SF, "orders").count())
    val star = run("""SELECT ?y WHERE { c:1 (nation|region)* ?y }""")
    // zero-length (itself) + its nation + that nation's region
    assert(star.count() == 3)
    val inv = run("""SELECT ?c WHERE { n:1 ^nation ?c }""")
    val expect = TpchRdf.table(spark, SF, "customer").filter(col("c_nationkey") === 1).count() +
      TpchRdf.table(spark, SF, "supplier").filter(col("s_nationkey") === 1).count()
    assert(inv.count() == expect)
    val neg = run("""SELECT ?o WHERE { c:1 !(type|name) ?o }""")
    assert(neg.count() == 3) // nation, acctbal, mktsegment
  }

  test("VALUES inline data") {
    val df = run("""SELECT ?n ?nname WHERE {
      ?n name ?nname . VALUES ?nname { "NATION_1" "NATION_2" }
    }""")
    assert(df.count() == 2)
  }

  test("FROM and FROM NAMED dataset clauses") {
    val d = run("""SELECT ?s ?o FROM g:region WHERE { ?s name ?o }""")
    assert(d.count() == 5) // default graph = region only
    val n = run("""SELECT ?g FROM NAMED g:region WHERE { GRAPH ?g { ?x name ?n } }""")
    assert(n.select("g").distinct().collect().map(_.getString(0)).toSeq == Seq("g:region"))
  }

  test("GRAPH with constant and variable graph") {
    val c = run("""SELECT ?s ?bal WHERE { GRAPH g:supplier { ?s acctbal ?bal } }""")
    assert(c.count() == TpchRdf.table(spark, SF, "supplier").count())
    val v = run("""SELECT ?g WHERE { GRAPH ?g { ?x region ?r } }""")
    assert(v.select("g").distinct().collect().map(_.getString(0)).toSeq == Seq("g:nation"))
  }

  test("sub-SELECT joins on shared vars") {
    val df = run("""SELECT ?n ?cnt WHERE {
      ?n type "Nation" .
      { SELECT ?n (COUNT(*) AS ?cnt) WHERE { ?c nation ?n } GROUP BY ?n }
    } ORDER BY ?n""")
    assert(df.count() == 25)
  }

  test("value functions in FILTER and BIND") {
    val df = run("""SELECT ?r ?up ?l WHERE {
      ?r type "Region" . ?r name ?name .
      BIND(UCASE(?name) AS ?up)
      BIND(STRLEN(?name) AS ?l)
      FILTER(STRLEN(?name) >= 8)
    }""")
    val expect = TpchRdf.table(spark, SF, "region")
      .filter(length(col("r_name")) >= 8).count()
    assert(df.count() == expect)
    assert(df.select("up").collect().forall(r => r.getString(0) == r.getString(0).toUpperCase))
  }

  test("SPARQL string functions: STRENDS/STRBEFORE/STRAFTER/SAMETERM") {
    val df = run("""SELECT ?name ?pre ?post WHERE {
      ?r type "Region" . ?r name ?name .
      BIND(STRBEFORE(?name, "A") AS ?pre)
      BIND(STRAFTER(?name, "A") AS ?post)
      FILTER(STRENDS(?name, "A") || SAMETERM(?name, "EUROPE") || CONTAINS(?name, "EAST"))
    }""")
    val m = df.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(m.keySet == Set("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
    assert(m("AFRICA") == ("", "FRICA"))
    assert(m("MIDDLE EAST") == ("MIDDLE E", "ST"))
    // needle absent → empty string, not the input (§17.4.3)
    assert(m("EUROPE") == ("", ""))
  }

  test("arithmetic and IN in expressions") {
    val df = run("""SELECT ?o ?double WHERE {
      ?o totalprice ?price .
      ?o status ?st .
      BIND(?price * 2 AS ?double)
      FILTER(?st IN ("F", "P") && ?price / 2 > 50000)
    }""")
    val expect = TpchRdf.table(spark, SF, "orders")
      .filter(col("o_orderstatus").isin("F", "P") &&
        col("o_totalprice").cast("decimal(18,2)").cast("string").cast("double") / 2 > 50000)
      .count()
    assert(df.count() == expect)
  }

  test("EXISTS inside FILTER expressions") {
    val df = run("""SELECT ?c WHERE {
      ?c type "Customer" . ?c acctbal ?bal .
      FILTER(?bal > 3000 && EXISTS { ?o customer ?c } && NOT EXISTS { ?o2 customer ?c . ?o2 status "F" })
    }""")
    val viaAlgebra = Compiler.compile(
      NotExists(
        Exists(
          Filter(Bgp(TriplePattern("?c", "type", "Customer"),
                     TriplePattern("?c", "acctbal", "?bal")),
            col("bal").cast("double") > 3000),
          Bgp(TriplePattern("?o", "customer", "?c"))),
        Bgp(TriplePattern("?o2", "customer", "?c"),
            TriplePattern("?o2", "status", "F"))), src)
    assert(df.count() == viaAlgebra.select("c").distinct().count())
  }

  test("aggregate over an expression") {
    val df = run("""SELECT ?n (SUM(?bal * 2) AS ?tot) WHERE {
      ?c nation ?n . ?c acctbal ?bal . ?c type "Customer"
    } GROUP BY ?n ORDER BY ?n""")
    assert(df.count() == 25)
    assert(df.schema("tot").dataType.typeName == "double")
  }

  test("SERVICE bds:search binds doc/score") {
    val df = run("""SELECT ?d ?sc WHERE {
      SERVICE bds:search {
        _:s bds:query "spark" .
        _:s bds:limit "5" .
        _:s bds:out ?d .
        _:s bds:outVal ?sc .
      }
    }""")
    assert(df.columns.toSeq == Seq("d", "sc"))
    assert(df.count() <= 5 && df.count() > 0)
  }

  test("SERVICE bds:search with bds:analyzer finds CJK docs end-to-end") {
    val spark2 = spark; import spark2.implicits._
    val cjkSrc = new TripleSource {
      def triples = src.triples
      def fuseStar(patterns: Seq[TriplePattern],
                   subjectTables: Option[Set[String]]) = None
      override def searchCorpus = Some(Seq(
        (1L, "这是一个分布式数据库系统"), (2L, "数据库查询优化"),
        (3L, "plain english")).toDF("doc_id", "text"))
    }
    def q(analyzerLine: String) = Compiler.compile(Parser.parse(s"""SELECT ?d ?sc WHERE {
      SERVICE bds:search {
        _:s bds:query "数据库" .
        $analyzerLine
        _:s bds:out ?d .
        _:s bds:outVal ?sc .
      }
    }"""), cjkSrc)
    // without the analyzer option the Latin tokenizer sees nothing
    assert(q("").count() == 0)
    // bds:analyzer "cjk" (or a language tag "zh") finds both CJK docs
    assert(q("""_:s bds:analyzer "cjk" .""").select("d")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(q("""_:s bds:analyzer "zh" .""").count() == 2)
  }

  test("SPARQL UPDATE text forms") {
    import graft.sparql.{Update, UpdateOp, InsertData}
    val store = graft.rdf.TripleStore(
      TpchRdf.triples(spark, SF).filter(col("p") === "mktsegment"))
    val n = store.triples.count()
    val ins = Parser.parseUpdate("""INSERT DATA { c:999999 mktsegment "SPACE" }""")
    assert(Update(store, ins).triples.count() == n + 1)
    val del = Parser.parseUpdate("""DELETE DATA { c:999999 mktsegment "SPACE" }""")
    assert(Update(Update(store, ins), del).triples.count() == n)
    val diw = Parser.parseUpdate(
      """DELETE { ?c mktsegment ?s } INSERT { ?c seg "X" } WHERE { ?c mktsegment ?s }""")
    val updated = Update(store, diw)
    assert(updated.triples.filter(col("p") === "mktsegment").count() == 0)
    assert(updated.triples.filter(col("p") === "seg").count() > 0)
  }

  test("DESCRIBE ?v WHERE and blueprints traversal") {
    val d = run("""DESCRIBE ?r WHERE { ?r type "Region" }""")
    assert(d.count() == 10) // 5 regions x 2 props
    val g = graft.graph.PropertyGraph(src)
    val names = g.V().has("type", "Region").values("name")
    assert(names.count() == 5)
    val back = g.V("r:1").in("region").out("region").values("name")
    assert(back.distinct().count() == 1)
  }

  test("ASK, CONSTRUCT and DESCRIBE forms") {
    val ask = run("""ASK { ?r type "Region" }""")
    assert(ask.head().getBoolean(0))
    val askNo = run("""ASK { ?r type "Starship" }""")
    assert(!askNo.head().getBoolean(0))
    val cons = run("""CONSTRUCT { ?c located ?n } WHERE { ?c nation ?n }""")
    assert(cons.columns.toSeq == Seq("s", "p", "o"))
    assert(cons.select("p").distinct().head().getString(0) == "located")
    // CONSTRUCT WHERE shorthand: the pattern IS the template
    val short = run("""CONSTRUCT WHERE { ?n region ?r }""")
    assert(short.count() == 25)
    // template triples with unbound positions are skipped (§16.2.1)
    val partial = run("""CONSTRUCT { ?n partnered ?c } WHERE {
      ?n type "Nation"
      OPTIONAL { ?c nation ?n . ?c mktsegment "NO_SUCH_SEGMENT" }
    }""")
    assert(partial.count() == 0, "unbound ?c must not emit null triples")
    val desc = run("DESCRIBE c:1")
    assert(desc.count() == 5)
  }

  test("bounded path quantifiers {n,m} / {n} / {n,} / {0,m}") {
    // {1,2} == p | p/p
    val b12 = run("""SELECT ?s ?x WHERE { ?s (nation|region){1,2} ?x } ORDER BY ?s ?x""")
    val alt = run(
      """SELECT ?s ?x WHERE { ?s (nation|region)|((nation|region)/(nation|region)) ?x }
        |ORDER BY ?s ?x""".stripMargin)
    assert(b12.exceptAll(alt).isEmpty && alt.exceptAll(b12).isEmpty)
    // {2} == p/p
    val b2 = run("""SELECT ?s ?x WHERE { ?s (nation|region){2} ?x } ORDER BY ?s ?x""")
    val seq2 = run(
      """SELECT ?s ?x WHERE { ?s (nation|region)/(nation|region) ?x } ORDER BY ?s ?x""")
    assert(b2.exceptAll(seq2).isEmpty && seq2.exceptAll(b2).isEmpty)
    // {1,} == p+  (on the region link: nation→region only, 1 step max)
    val b1inf = run("""SELECT ?s ?x WHERE { ?s region{1,} ?x } ORDER BY ?s ?x""")
    val plus = run("""SELECT ?s ?x WHERE { ?s region+ ?x } ORDER BY ?s ?x""")
    assert(b1inf.exceptAll(plus).isEmpty && plus.exceptAll(b1inf).isEmpty)
    // seeded evaluation from a bound endpoint: customers of n:2 in
    // exactly 1..2 inverse steps ({1,2} over ^nation from the nation)
    val seeded = run("""SELECT ?x WHERE { ?x nation{1,2} n:2 } ORDER BY ?x""")
    val direct = run("""SELECT ?x WHERE { ?x nation n:2 } ORDER BY ?x""")
    assert(seeded.exceptAll(direct).isEmpty && direct.exceptAll(seeded).isEmpty)
    // {0,1} == p?  (zero-length included)
    val b01 = run("""SELECT ?s ?x WHERE { ?s region{0,1} ?x } ORDER BY ?s ?x""")
    val opt = run("""SELECT ?s ?x WHERE { ?s region? ?x } ORDER BY ?s ?x""")
    assert(b01.exceptAll(opt).isEmpty && opt.exceptAll(b01).isEmpty)
  }

  test("SERVICE <endpoint> federation through the registry") {
    ServiceRegistry.register("urn:test:nations",
      ServiceRegistry.localSource(TpchRdf.triplesFor(spark, SF, Seq("nation"))))
    val df = run(
      """SELECT ?r ?nname WHERE {
        |  ?r type "Region" .
        |  SERVICE <urn:test:nations> { ?n region ?r . ?n name ?nname }
        |} ORDER BY ?r ?nname""".stripMargin)
    // every nation's name, joined to its region through the endpoint
    assert(df.count() == 25)
    assert(df.columns.toSeq == Seq("r", "nname"))
    // unregistered endpoints fail with the registry error (the seam a
    // remote HTTP handler would fill)
    val err = intercept[RuntimeException] {
      run("""SELECT ?x WHERE { SERVICE <urn:test:nowhere> { ?x type ?t } }""")
    }
    assert(err.getMessage.contains("no service registered"))
    ServiceRegistry.unregister("urn:test:nations")
  }

  test("ORDER BY with expressions") {
    val df = run("""SELECT ?o ?price WHERE { ?o totalprice ?price }
      ORDER BY DESC(?price * 1) ?o LIMIT 3""")
    val top = df.select("price").collect().map(_.getString(0).toDouble)
    assert(top.sorted.reverse.sameElements(top))
  }

  test("predicate-object lists, object lists and the `a` keyword") {
    val sugar = run(
      """SELECT ?c ?cname ?nname WHERE {
        |  ?c a "Customer" ; name ?cname ; nation ?n .
        |  ?n name ?nname
        |} ORDER BY ?c""".stripMargin)
    val plain = run(
      """SELECT ?c ?cname ?nname WHERE {
        |  ?c type "Customer" . ?c name ?cname . ?c nation ?n .
        |  ?n name ?nname
        |} ORDER BY ?c""".stripMargin)
    assert(sugar.count() > 0)
    assert(sugar.collect().toSeq == plain.collect().toSeq)
    // an object list is CONJUNCTIVE (same s, same p, each object):
    // no customer has two segments, so this is empty
    val objList = run("""SELECT ?s WHERE { ?s mktsegment "BUILDING" , "MACHINERY" }""")
    assert(objList.count() == 0)
    // data blocks take the same sugar
    Parser.parseUpdate("""INSERT DATA { x:1 a "Thing" ; note "n1" , "n2" }""") match {
      case InsertData(d) =>
        assert(d.map(_._2) == Seq(
          TriplePattern("x:1", "type", "Thing"),
          TriplePattern("x:1", "note", "n1"),
          TriplePattern("x:1", "note", "n2")))
      case other => fail(s"expected InsertData, got $other")
    }
  }

  test("negated property sets with inverse elements") {
    // forward part: n:3's non-name triples; inverse part: everything
    // pointing AT n:3 via a non-name predicate (customers+suppliers)
    val mixed = run("""SELECT ?b WHERE { n:3 !(name|^name) ?b } ORDER BY ?b""")
      .collect().map(_.getString(0)).toSet
    val forward = run("""SELECT ?b WHERE { n:3 !(name) ?b }""")
      .collect().map(_.getString(0)).toSet
    val pointers = run("""SELECT ?b WHERE { ?b nation n:3 }""")
      .collect().map(_.getString(0)).toSet
    assert(pointers.nonEmpty && (mixed -- forward) == pointers)
    // inverse-only NPS has NO forward component (§18.2.2.3)
    val invOnly = run("""SELECT ?b WHERE { n:3 !(^name) ?b }""")
      .collect().map(_.getString(0)).toSet
    assert(invOnly == pointers)
  }

  test("CONSTRUCT with ORDER BY + LIMIT bounds the solution sequence") {
    val df = run(
      """CONSTRUCT { ?c top ?bal } WHERE {
        |  ?c type "Customer" . ?c acctbal ?bal
        |} ORDER BY DESC(?bal * 1) LIMIT 5""".stripMargin)
    assert(df.count() == 5)
    assert(df.select("p").distinct().collect().map(_.getString(0)).toSeq == Seq("top"))
  }

  test("DELETE WHERE { GRAPH g { ... } } scopes template and pattern to g") {
    import spark.implicits._
    val qs = graft.rdf.QuadStore(Seq(
      ("a", "p", "x", "g:one"), ("b", "p", "y", "g:one"),
      ("c", "p", "z", "g:two")).toDF("s", "p", "o", "g"))
    val op = Parser.parseUpdate("""DELETE WHERE { GRAPH g:one { ?s p ?o } }""")
    val out = graft.sparql.Update.applyQuads(qs, op)
    assert(out.graph("g:one").count() == 0)
    assert(out.graph("g:two").count() == 1)
  }

  test("gas:maxIterations caps the BFS frontier expansion") {
    val capped = run(
      """SELECT ?n ?d WHERE {
        |  SERVICE gas:service {
        |    _:s gas:gasClass "bfs" .
        |    _:s gas:in "r:2" .
        |    _:s gas:linkType "region" .
        |    _:s gas:linkType "nation" .
        |    _:s gas:traversalDirection "Reverse" .
        |    _:s gas:maxIterations "1" .
        |    _:s gas:out ?n .
        |    _:s gas:outVal ?d .
        |  }
        |} ORDER BY ?n""".stripMargin)
    // depth ≤ 1: the seed and its direct neighbors only
    assert(capped.count() > 1)
    assert(capped.select(max(col("d").cast("int"))).collect().head.getInt(0) <= 1)
  }

  test("SERVICE SILENT on a missing endpoint yields the unit solution") {
    val df = run(
      """SELECT ?r WHERE {
        |  ?r type "Region" .
        |  SERVICE SILENT <urn:test:unreachable> { ?r note ?x }
        |} ORDER BY ?r""".stripMargin)
    assert(df.count() == 5) // enclosing solutions unchanged
  }

  test("SUM(DISTINCT ?x) deduplicates before summing") {
    // name LENGTHS collide heavily, so distinct-sum ≪ plain sum
    val d = run(
      """SELECT (SUM(DISTINCT STRLEN(?name)) AS ?t) WHERE {
        |  ?c type "Customer" . ?c name ?name }""".stripMargin)
      .collect().head.getDouble(0)
    val p = run(
      """SELECT (SUM(STRLEN(?name)) AS ?t) WHERE {
        |  ?c type "Customer" . ?c name ?name }""".stripMargin)
      .collect().head.getDouble(0)
    val expected = TpchRdf.table(spark, SF, "customer")
      .select(length(col("c_name")).cast("decimal(18,2)").as("b"))
      .distinct().agg(sum("b").cast("double")).collect().head.getDouble(0)
    assert(d == expected && d != p)
  }

  test("DESCRIBE with multiple terms merges the descriptions") {
    val two = run("DESCRIBE c:42 n:3")
    val merged = run("DESCRIBE c:42").unionAll(run("DESCRIBE n:3")).distinct()
    assert(two.count() == merged.count() && two.count() > 0)
  }

  test("blank-node property lists and trailing VALUES") {
    val bn = run(
      """SELECT ?nname WHERE {
        |  [ a "Customer" ; nation [ name ?nname ; region ?r ] ; mktsegment "BUILDING" ]
        |} ORDER BY ?nname""".stripMargin)
    val plain = run(
      """SELECT ?nname WHERE {
        |  ?c type "Customer" . ?c nation ?n . ?c mktsegment "BUILDING" .
        |  ?n name ?nname . ?n region ?r
        |} ORDER BY ?nname""".stripMargin)
    assert(bn.count() > 0)
    assert(bn.collect().toSeq == plain.collect().toSeq)
    // trailing VALUES joins the whole query's solutions (grammar [28])
    val tv = run(
      """SELECT ?n ?nname WHERE { ?n name ?nname . ?n type "Nation" }
        |VALUES ?nname { "NATION_3" "NATION_7" }""".stripMargin)
    assert(tv.count() == 2)
    // §18.2.4.3: inline data joins BEFORE solution modifiers — the
    // LIMIT applies to the joined solutions, not before the join
    val tvLim = run(
      """SELECT ?nname WHERE { ?n name ?nname . ?n type "Nation" }
        |ORDER BY ?nname LIMIT 2
        |VALUES ?nname { "NATION_9" }""".stripMargin)
    assert(tvLim.collect().map(_.getString(0)).toSeq == Seq("NATION_9"))
  }

  test("star fusion keeps subject-object equality for reused vars") {
    // `?x name ?x` — no customer's name equals its own id, so the
    // fused property-table path must return nothing, exactly like the
    // per-pattern path (dropping the equality returns every customer)
    val df = run("""SELECT ?x WHERE { ?x name ?x . ?x type "Customer" }""")
    assert(df.count() == 0)
  }

  test("bound subject + bound predicate scans only the subject's table") {
    val plan = run("""SELECT ?n WHERE { c:42 name ?n }""")
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
  }

  test("named subqueries see the FROM dataset") {
    // the INCLUDEd set must evaluate against the FROM graph's merge,
    // not the unscoped store: g:nation subjects only
    val df = run(
      """SELECT ?s FROM g:nation
        |WITH { SELECT ?s WHERE { ?s ?p ?o } } AS %x
        |WHERE { INCLUDE %x }""".stripMargin)
    val subjects = df.collect().map(_.getString(0)).toSet
    assert(subjects.nonEmpty && subjects.forall(_.startsWith("n:")))
  }

  test("named subquery: WITH … AS %set + INCLUDE equals the inlined query") {
    val named = run(
      """SELECT ?nname (COUNT(*) AS ?cnt)
        |WITH {
        |  SELECT ?c ?nname WHERE {
        |    ?c type "Customer" . ?c nation ?n . ?n name ?nname
        |  }
        |} AS %custs
        |WHERE { INCLUDE %custs . ?o customer ?c }
        |GROUP BY ?nname ORDER BY ?nname""".stripMargin)
    val inlined = run(
      """SELECT ?nname (COUNT(*) AS ?cnt) WHERE {
        |  ?c type "Customer" . ?c nation ?n . ?n name ?nname .
        |  ?o customer ?c
        |} GROUP BY ?nname ORDER BY ?nname""".stripMargin)
    assert(named.collect().toSeq == inlined.collect().toSeq)
    // the set is MATERIALIZED once (NamedSubqueryRoot → a checkpointed
    // solution set): the plan reads an RDD scan, not the parquet source
    import org.apache.spark.sql.execution.LogicalRDD
    assert(named.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.nonEmpty)
    // INCLUDE of an undefined set is an error
    val err = intercept[RuntimeException] {
      run("""SELECT ?x WHERE { INCLUDE %nope . ?x type "Region" }""")
    }
    assert(err.getMessage.contains("no such named subquery"))
  }

  test("hint:Query hint:optimizer None pins textual join order") {
    val ast = Parser.parse(
      """SELECT ?o ?c WHERE {
        |  hint:Query hint:optimizer "None" .
        |  ?o customer ?c . ?c nation ?n
        |}""".stripMargin)
    ast match {
      case Project(BgpFixed(ps), _ @ _*) => assert(ps.size == 2)
      case other => fail(s"expected Project(BgpFixed), got $other")
    }
    // the hint changes the plan, never the solutions
    val hinted = Compiler.compile(ast, src)
    val plain = run("""SELECT ?o ?c WHERE { ?o customer ?c . ?c nation ?n }""")
    assert(hinted.exceptAll(plain).isEmpty && plain.exceptAll(hinted).isEmpty)
    // non-optimizer hints are consumed without effect on semantics
    val other = run(
      """SELECT ?r WHERE { hint:Query hint:analytic "true" . ?r type "Region" }""")
    assert(other.count() == 5)
  }

  test("hint:runFirst/runLast pin one pattern's position; greedy order owns the rest") {
    import graft.sparql.BgpPinned
    val ast = Parser.parse(
      """SELECT ?o ?c WHERE {
        |  ?o customer ?c .
        |  ?c nation ?n . hint:Prior hint:runFirst "true" .
        |  ?n name ?nn .
        |  ?o status "F" . hint:Prior hint:runLast "true" .
        |}""".stripMargin)
    ast match {
      case Project(BgpPinned(first, mid, last), _ @ _*) =>
        assert(first.map(_.p) == Seq(Const("nation")), first)
        assert(last.map(_.p) == Seq(Const("status")), last)
        assert(mid.size == 2, mid)
      case other => fail(s"expected Project(BgpPinned), got $other")
    }
    // the hinted pattern LEADS the physical join order: the leftmost
    // leaf of the compiled plan is the nation scan, and the status
    // scan is the last join operand
    val hinted = Compiler.compile(ast, src)
    val joins = hinted.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    def leftmost(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      p.children.headOption.map(leftmost).getOrElse(p)
    assert(leftmost(joins.head).toString.contains("nation"),
      s"runFirst pattern should be the leading leaf:\n${joins.head}")
    // solutions are hint-independent
    val plain = run(
      """SELECT ?o ?c WHERE {
        |  ?o customer ?c . ?c nation ?n . ?n name ?nn . ?o status "F"
        |}""".stripMargin)
    assert(hinted.exceptAll(plain).isEmpty && plain.exceptAll(hinted).isEmpty)
  }

  test("SPARQL hash functions match known digests") {
    val df = run(
      """SELECT ?m ?s1 ?s256 ?s384 ?s512 WHERE {
        |  ?r type "Region" . ?r name "ASIA" .
        |  BIND(MD5("abc") AS ?m)    BIND(SHA1("abc") AS ?s1)
        |  BIND(SHA256("abc") AS ?s256) BIND(SHA384("abc") AS ?s384)
        |  BIND(SHA512("abc") AS ?s512)
        |}""".stripMargin)
    val r = df.collect().head
    assert(r.getString(0) == "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getString(1) == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(r.getString(2) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getString(3) ==
      "cb00753f45a35e8bb5a03d699ac65007272c32ab0eded1631a8b605a43ff5bed" +
        "8086072ba1e7cc2358baeca134c825a7")
    assert(r.getString(4) ==
      "ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a" +
        "2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f")
  }

  test("tagged/typed literals: LANG, DATATYPE, STR, STRLANG, STRDT") {
    val df = run(
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?name ?lbl ?lang ?dt ?plain ?dtt ?dts ?dtn WHERE {
        |  ?r type "Region" . ?r name ?name .
        |  BIND(STRLANG(?name, "en-US") AS ?lbl)
        |  BIND(LANG(?lbl) AS ?lang)
        |  BIND(DATATYPE(?lbl) AS ?dt)
        |  BIND(STR(?lbl) AS ?plain)
        |  BIND(DATATYPE("3.5"^^xsd:decimal) AS ?dtt)
        |  BIND(DATATYPE(?name) AS ?dts)
        |  BIND(DATATYPE("42") AS ?dtn)
        |  FILTER(LANGMATCHES(LANG(?lbl), "en"))
        |} ORDER BY ?name""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 5) // every region label matched "en" via en-US
    val r = rows.head
    val name = r.getString(0)
    assert(r.getString(1) == "\"" + name + "\"@en-US")
    assert(r.getString(2) == "en-US")
    assert(r.getString(3) == RdfLiteral.RdfLangString)
    assert(r.getString(4) == name) // STR strips the facet
    assert(r.getString(5) == "http://www.w3.org/2001/XMLSchema#decimal")
    assert(r.getString(6) == RdfLiteral.XsdString)
    assert(r.getString(7) == RdfLiteral.XsdInteger)
  }

  test("LANGMATCHES: case-insensitive, range prefix, star; STRDT roundtrip") {
    val df = run(
      """SELECT ?m1 ?m2 ?m3 ?m4 ?td WHERE {
        |  ?r type "Region" . ?r name "ASIA" .
        |  BIND(STRLANG("chat", "fr-CA") AS ?x)
        |  BIND(LANGMATCHES(LANG(?x), "FR") AS ?m1)
        |  BIND(LANGMATCHES(LANG(?x), "fr-ca") AS ?m2)
        |  BIND(LANGMATCHES(LANG(?x), "*") AS ?m3)
        |  BIND(LANGMATCHES(LANG(?x), "frx") AS ?m4)
        |  BIND(STRDT("5", <urn:mytype>) AS ?td)
        |}""".stripMargin)
    val r = df.collect().head
    assert(r.getBoolean(0))  // range prefix fr → fr-CA
    assert(r.getBoolean(1))  // case-insensitive exact
    assert(r.getBoolean(2))  // '*' matches any tagged
    assert(!r.getBoolean(3)) // 'frx' is not a prefix at a '-' boundary
    assert(r.getString(4) == "\"5\"^^urn:mytype")
  }

  test("misc builtins: ENCODE_FOR_URI, IRI, BNODE/isBlank, TZ, HOURS") {
    val df = run(
      """SELECT ?e ?i ?b ?isb ?tz ?h WHERE {
        |  ?r type "Region" . ?r name "ASIA" .
        |  BIND(ENCODE_FOR_URI("a b~c*") AS ?e)
        |  BIND(IRI("urn:graft:nation") AS ?i)
        |  BIND(BNODE("x1") AS ?b)
        |  BIND(ISBLANK(BNODE("x1")) AS ?isb)
        |  BIND(TZ("2011-01-10T14:45:13.815-05:00") AS ?tz)
        |  BIND(HOURS("2011-01-10T14:45:13") AS ?h)
        |}""".stripMargin)
    val r = df.collect().head
    assert(r.getString(0) == "a%20b~c%2A") // §17.4.6 unreserved kept, rest encoded
    assert(r.getString(1) == "nation")     // base-IRI interning
    assert(r.getString(2) == "_:x1")
    assert(r.getBoolean(3))
    assert(r.getString(4) == "-05:00")
    assert(r.getInt(5) == 14)
  }

  test("ROUND ties toward +inf; TIMEZONE yields xsd:dayTimeDuration terms") {
    val df = run(
      """SELECT ?r1 ?r2 ?r3 ?t1 ?t2 ?t3 ?t4 WHERE {
        |  ?r type "Region" . ?r name "ASIA" .
        |  BIND(ROUND(2.5) AS ?r1)
        |  BIND(ROUND(-2.5) AS ?r2)
        |  BIND(ROUND(2.4999) AS ?r3)
        |  BIND(TIMEZONE("2011-01-10T14:45:13.815-05:00") AS ?t1)
        |  BIND(TIMEZONE("2011-01-10T14:45:13Z") AS ?t2)
        |  BIND(TIMEZONE("2011-01-10T14:45:13+05:30") AS ?t3)
        |  BIND(TIMEZONE("2011-01-10T14:45:13") AS ?t4)
        |}""".stripMargin)
    val r = df.collect().head
    val dt = "http://www.w3.org/2001/XMLSchema#dayTimeDuration"
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == -2L)  // fn:round ties toward POSITIVE infinity
    assert(r.getLong(2) == 2L)
    assert(r.getString(3) == "\"-PT5H\"^^" + dt)
    assert(r.getString(4) == "\"PT0S\"^^" + dt)
    assert(r.getString(5) == "\"PT5H30M\"^^" + dt)
    assert(r.isNullAt(6))        // no designator → error → unbound
  }

  test("string functions are tag-transparent (§17.4.3 argument rule)") {
    val df = run(
      """SELECT ?len ?up ?sub ?cont ?before ?rep WHERE {
        |  ?r type "Region" . ?r name "ASIA" .
        |  BIND(STRLANG("chat noir", "fr") AS ?x)
        |  BIND(STRLEN(?x) AS ?len)
        |  BIND(UCASE(?x) AS ?up)
        |  BIND(SUBSTR(?x, 1, 4) AS ?sub)
        |  BIND(CONTAINS(?x, "noir") AS ?cont)
        |  BIND(STRBEFORE(?x, " ") AS ?before)
        |  BIND(REPLACE(?x, "noir", "blanc") AS ?rep)
        |}""".stripMargin)
    val r = df.collect().head
    assert(r.getInt(0) == 9)                      // lexical length, not the tagged form's
    assert(r.getString(1) == "\"CHAT NOIR\"@fr")  // tag preserved
    assert(r.getString(2) == "\"chat\"@fr")
    assert(r.getBoolean(3))
    assert(r.getString(4) == "\"chat\"@fr")
    assert(r.getString(5) == "\"chat blanc\"@fr")
  }

  test("typed numeric literals compare and compute by VALUE") {
    val df = run(
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?v ?sum WHERE {
        |  ?r type "Region" . ?r name "ASIA" .
        |  BIND("5"^^xsd:int AS ?v)
        |  BIND(?v + 2 AS ?sum)
        |  FILTER(?v > 3)
        |}""".stripMargin)
    val r = df.collect().head
    assert(r.getString(0) == "\"5\"^^http://www.w3.org/2001/XMLSchema#int")
    assert(r.getDouble(1) == 7.0)
  }

  test("SELECT * excludes synthesized bnode vars (not projectable)") {
    val df = run("""SELECT * WHERE { [ type "Region" ; name ?n ] }""")
    assert(df.columns.toSeq == Seq("n"))
    assert(df.count() == 5)
  }

  test("dataset clause without FROM NAMED empties the named-graph set") {
    // §13.2: FROM present, FROM NAMED absent → GRAPH matches nothing
    val qsrc = TpchRdf.source(spark, SF)
    val none = Compiler.compile(Parser.parse(
      """SELECT ?g ?s FROM g:nation WHERE { GRAPH ?g { ?s ?p ?o } }"""), qsrc)
    assert(none.count() == 0)
    // with FROM NAMED the same pattern ranges over exactly that graph
    val some = Compiler.compile(Parser.parse(
      """SELECT ?g ?s FROM g:nation FROM NAMED g:region WHERE { GRAPH ?g { ?s ?p ?o } }"""), qsrc)
    assert(some.select("g").distinct().collect().map(_.getString(0)).toSeq == Seq("g:region"))
  }

  test("Turtle parser: prefixes, a, lists, bnodes, tags, comments, numbers") {
    val ttl =
      """@prefix v: <urn:graft:> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |# a comment line
        |v:t:1 a v:Thing ;
        |  v:label "alpha"@en , "beta" ;
        |  v:size "5"^^xsd:int .
        |v:t:2 v:near [ v:label "inner" ] .
        |<urn:graft:t:3> v:weight 3.5 ; v:flag true .
        |""".stripMargin
    val ts = graft.rdf.Turtle.parse(ttl).map(unscope3).toSet
    assert(ts == Set(
      ("t:1", "type", "Thing"),
      ("t:1", "label", "\"alpha\"@en"),
      ("t:1", "label", "beta"),
      ("t:1", "size", "\"5\"^^http://www.w3.org/2001/XMLSchema#int"),
      ("t:2", "near", "_:gen1"),
      ("_:gen1", "label", "inner"),
      ("t:3", "weight", "3.5"),
      ("t:3", "flag", "true")))
    // collections desugar to a doc-scoped rdf:first/rdf:rest chain
    val coll = graft.rdf.Turtle.parse("<urn:graft:a> <urn:graft:b> ( 1 2 ) .")
      .map(unscope3)
    val first = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
    val rest = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
    val nil = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
    assert(coll.toSet == Set(
      ("a", "b", "_:gen1"),
      ("_:gen1", first, "1"), ("_:gen1", rest, "_:gen2"),
      ("_:gen2", first, "2"), ("_:gen2", rest, nil)))
    assert(graft.rdf.Turtle.parse("<urn:graft:a> <urn:graft:b> ( ) .")
      .map(unscope3) == Vector(("a", "b", nil)))
    // triple-quoted long strings: raw newlines and quotes in content
    val tq = graft.rdf.Turtle.parse(
      "<urn:graft:a> <urn:graft:b> \"\"\"l1\nhas \"q\" marks\"\"\"@en .").map(unscope3)
    assert(tq == Vector(("a", "b", "\"l1\nhas \"q\" marks\"@en")))
    // longest-match closing: up to two content quotes may touch the
    // closing delimiter ("""a"""" is content a", """a""""" is a"")
    assert(graft.rdf.Turtle.parse("<urn:graft:a> <urn:graft:b> \"\"\"a\"\"\"\" .")
      == Vector(("a", "b", "a\"")))
    assert(graft.rdf.Turtle.parse("<urn:graft:a> <urn:graft:b> \"\"\"a\"\"\"\"\" .")
      == Vector(("a", "b", "a\"\"")))
    // unsupported/broken constructs still fail loud, never mis-parse
    intercept[RuntimeException](
      graft.rdf.Turtle.parse("<urn:graft:a> <urn:graft:b> \"unterminated ."))
    intercept[RuntimeException](
      graft.rdf.Turtle.parse("<urn:graft:a> <urn:graft:b> ( 1 2 ."))
  }

  test("Turtle and TriG decode \\b, \\f and \\U escapes like the SPARQL parser") {
    val lit = "\"x\\U0001F600y\\bz\\fw\""
    val want = "x\uD83D\uDE00y\bz\fw"
    assert(graft.rdf.Turtle.parse(s"<urn:graft:a> <urn:graft:b> $lit .") ==
      Vector(("a", "b", want)))
    assert(graft.rdf.Turtle.parseTrig(
      s"<urn:graft:g> { <urn:graft:a> <urn:graft:b> $lit }", "g:default") ==
      Vector(("a", "b", want, "g")))
    val sparql = Graft.empty(spark).update(s"INSERT DATA { a b $lit }")
      .query("SELECT ?o WHERE { a b ?o }").collect().map(_.getString(0))
    assert(sparql.toSeq == Seq(want))
    // a short string may not span lines (Turtle 1.1 [22], as in SPARQL)
    intercept[RuntimeException](
      graft.rdf.Turtle.parse("<urn:graft:a> <urn:graft:b> \"x\ny\" ."))
  }

  test("LOAD .trig: GRAPH blocks carry labels, bare statements hit default") {
    val trig = java.nio.file.Files.createTempFile("graft_load", ".trig")
    java.nio.file.Files.writeString(trig,
      """@prefix v: <urn:graft:> .
        |v:x:0 v:note "outside" .
        |GRAPH v:g:a { v:x:1 v:note "alpha" ; v:kind v:Widget . }
        |v:g:b { v:x:2 v:note "beta"@fr . }
        |""".stripMargin)
    import spark.implicits._
    val empty = graft.rdf.QuadStore(Seq.empty[(String, String, String, String)]
      .toDF("s", "p", "o", "g"))
    val st = graft.sparql.Update.applyQuadsSeq(empty,
      graft.sparql.Parser.parseUpdates(s"LOAD <file://$trig>"))
    val got = st.quads.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("x:0", "note", "outside", "g:default"),
      ("x:1", "note", "alpha", "g:a"),
      ("x:1", "kind", "Widget", "g:a"),
      ("x:2", "note", "\"beta\"@fr", "g:b")))
  }

  test("LOAD .nq: quads land in their own graphs; INTO GRAPH overrides") {
    val nq = java.nio.file.Files.createTempFile("graft_load", ".nq")
    java.nio.file.Files.writeString(nq,
      "<urn:graft:x:1> <urn:graft:note> \"alpha\" <urn:graft:g:a> .\n" +
      "<urn:graft:x:2> <urn:graft:note> \"beta\" <urn:graft:g:b> .\n" +
      "<urn:graft:x:2> <urn:graft:note> \"beta\" <urn:graft:g:b> .\n") // dup line
    import spark.implicits._
    val empty = graft.rdf.QuadStore(Seq.empty[(String, String, String, String)]
      .toDF("s", "p", "o", "g"))
    val own = graft.sparql.Update.applyQuadsSeq(empty,
      graft.sparql.Parser.parseUpdates(s"LOAD <file://$nq>"))
    assert(own.quads.collect().map(r => (r.getString(0), r.getString(3))).toSet ==
      Set(("x:1", "g:a"), ("x:2", "g:b"))) // set semantics: dup line collapsed
    val forced = graft.sparql.Update.applyQuadsSeq(empty,
      graft.sparql.Parser.parseUpdates(s"LOAD <file://$nq> INTO GRAPH g:all"))
    assert(forced.quads.select("g").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("g:all"))
  }

  test("remote SERVICE seam: group text serializes, endpoint re-parses") {
    val ep = "http://remote.example/sparql"
    // what a real federated endpoint does with the POSTed group text:
    // parse it, evaluate against its own store, return the solutions —
    // a production RemoteHandler swaps this body for an HTTP client
    graft.sparql.ServiceRegistry.registerRemote(ep, text => {
      assert(text.startsWith("{") && text.contains("FILTER"))
      Compiler.compile(Parser.parse(s"SELECT * WHERE $text"), src)
    })
    try {
      val df = run(
        s"""SELECT ?r ?nm WHERE {
           |  ?r type "Region" .
           |  SERVICE <$ep> { ?r name ?nm FILTER(STRSTARTS(?nm, "A")) }
           |} ORDER BY ?nm""".stripMargin)
      assert(df.collect().map(_.getString(1)).toSeq == Seq("AFRICA", "AMERICA", "ASIA"))
      // a hand-built AST has no source text to serialize → loud error
      val astOnly = ServiceCall(ep, Bgp(TriplePattern("?s", "name", "?nm")))
      intercept[RuntimeException](Compiler.compile(astOnly, src))
    } finally graft.sparql.ServiceRegistry.unregisterRemote(ep)
  }

  test("vectored SERVICE: shared keys inject as chunked VALUES; overflow and bnode keys fall back") {
    val ep = "http://vectored.example/sparql"
    val received = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.sparql.ServiceRegistry.registerRemote(ep, text => {
      received += text
      Compiler.compile(Parser.parse(s"SELECT * WHERE $text"), src)
    })
    val unvectored = run(
      """SELECT ?r ?nm WHERE { ?r type "Region" . ?r name ?nm }
        |ORDER BY ?nm""".stripMargin).collect().map(_.toSeq).toSeq
    def query() = run(
      s"""SELECT ?r ?nm WHERE {
         |  ?r type "Region" .
         |  SERVICE <$ep> { ?r name ?nm }
         |} ORDER BY ?nm""".stripMargin).collect().map(_.toSeq).toSeq
    try {
      // 5 region keys, default chunk 50 → ONE call carrying VALUES ?r
      received.clear()
      assert(query() == unvectored)
      assert(received.length == 1 && received(0).contains("VALUES (?r)"))
      assert(received(0).contains("<urn:graft:r:0>"), received(0))
      // chunk size 2 → ceil(5/2) = 3 calls, same answers
      spark.conf.set("graft.service.vectorSize", "2")
      received.clear()
      assert(query() == unvectored)
      assert(received.length == 3 && received.forall(_.contains("VALUES (?r)")))
      // key overflow → ONE unconstrained call (the plain fetch)
      spark.conf.set("graft.service.vectorMaxKeys", "2")
      received.clear()
      assert(query() == unvectored)
      assert(received.length == 1 && !received(0).contains("VALUES"))
      spark.conf.unset("graft.service.vectorSize")
      spark.conf.unset("graft.service.vectorMaxKeys")
      // no shared vars → plain fetch, no probe
      received.clear()
      val cross = run(
        s"""SELECT ?nm WHERE {
           |  ?x type "Region" . SERVICE <$ep> { "n:1" name ?nm } }""".stripMargin)
      assert(cross.collect().length == 5) // 5 regions × 1 name
      assert(received.length == 1 && !received(0).contains("VALUES"))
      // a blank-node key cannot ride a VALUES row → fall back
      val qsrc2 = graft.sparql.TripleSource.plain {
        val spark2 = spark; import spark2.implicits._
        Seq(("_:b1", "name", "anon"), ("_:b1", "type", "Thing")).toDF("s", "p", "o")
      }
      received.clear()
      val bn = Compiler.compile(Parser.parse(
        s"""SELECT ?s ?nm WHERE { ?s type "Thing" . SERVICE <$ep> { ?s name ?nm } }"""),
        qsrc2)
      // remote evaluates against ITS store (src) — no bnode match, but
      // the call must have gone out unconstrained, not thrown
      assert(bn.collect().isEmpty)
      assert(received.length == 1 && !received(0).contains("VALUES"))
      // tagged-literal keys serialize with their facet
      assert(graft.sparql.ServiceVectoring.sparqlToken("\"chat\"@fr")
        .contains("\"chat\"@fr"))
      assert(graft.sparql.ServiceVectoring.sparqlToken(
        "\"5\"^^http://www.w3.org/2001/XMLSchema#int")
        .contains("\"5\"^^<http://www.w3.org/2001/XMLSchema#int>"))
      assert(graft.sparql.ServiceVectoring.sparqlToken("r:1")
        .contains("<urn:graft:r:1>"))
      assert(graft.sparql.ServiceVectoring.sparqlToken("a \"quoted\" word")
        .contains("\"a \\\"quoted\\\" word\""))
      assert(graft.sparql.ServiceVectoring.sparqlToken("_:b").isEmpty)
      // scope-sensitive groups vector too, with injection RESTRICTED
      // to vars certainly bound by the group's mandatory patterns
      // (ServiceVectoring.certainlyBound): the OPTIONAL cannot
      // manufacture a (key, unbound) solution because the key is
      // bound before the OPTIONAL applies; answers must equal the
      // plain (unvectored) evaluation for every group type
      def plainRun(q: String): Seq[Seq[Any]] = {
        // cap 0 forces the unconstrained fetch — the pre-vectoring path
        spark.conf.set("graft.service.vectorMaxKeys", "0")
        try run(q).collect().map(_.toSeq).toSeq
        finally spark.conf.unset("graft.service.vectorMaxKeys")
      }
      def bothRun(q: String): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
        val p = plainRun(q)
        received.clear()
        (run(q).collect().map(_.toSeq).toSeq, p)
      }
      // OPTIONAL: ?r certainly bound (mandatory pattern) → VALUES (?r);
      // ?nm bound only inside the OPTIONAL → never injected even when
      // shared with the computed side
      val (vOpt, pOpt) = bothRun(
        s"""SELECT ?r ?nm WHERE {
           |  ?r type "Region" . ?r name ?nm .
           |  SERVICE <$ep> { ?r type "Region" OPTIONAL { ?r name ?nm } }
           |} ORDER BY ?r""".stripMargin)
      assert(vOpt == pOpt)
      assert(received.length == 1 && received(0).contains("VALUES (?r)"),
        received.mkString("|"))
      // MINUS: left side binds ?r → injected; negation domain unchanged
      val (vMin, pMin) = bothRun(
        s"""SELECT ?r WHERE {
           |  ?r type "Region" .
           |  SERVICE <$ep> { ?r name ?nm MINUS { ?r name "AFRICA" } }
           |} ORDER BY ?r""".stripMargin)
      assert(vMin == pMin && vMin.length == 4)
      assert(received.length == 1 && received(0).contains("VALUES (?r)"))
      // FILTER EXISTS: same rule
      val (vEx, pEx) = bothRun(
        s"""SELECT ?r WHERE {
           |  ?r type "Region" .
           |  SERVICE <$ep> { ?r name ?nm FILTER EXISTS { ?r type "Region" } }
           |} ORDER BY ?r""".stripMargin)
      assert(vEx == pEx && vEx.length == 5)
      assert(received.length == 1 && received(0).contains("VALUES (?r)"))
      // the ADVICE hazard: a FILTER referencing a var bound only
      // LOCALLY (?x rides the computed side, nothing remote binds it).
      // Injecting ?x would flip the remote filter from its unbound
      // semantics to bound→keep — the same query returning different
      // results depending on key cardinality. certainlyBound excludes
      // ?x, so vectored and plain behave IDENTICALLY: an out-of-scope
      // filter var is a per-row type error (§17.2 — the row drops,
      // the query does not abort), so BOTH paths return the same
      // empty solution set and only ?r rides the injection
      val qFil =
        s"""SELECT ?r ?x WHERE {
           |  ?r type "Region" . BIND("n:1" AS ?x)
           |  SERVICE <$ep> { ?r name ?nm FILTER(STR(?x) = "n:1") }
           |} ORDER BY ?r""".stripMargin
      received.clear()
      val vFil = scala.util.Try(run(qFil).collect().toSeq)
      val vReceived = received.toSeq
      val pFil = scala.util.Try(plainRun(qFil))
      assert(vFil.isSuccess && pFil.isSuccess && vFil.get == pFil.get &&
        vFil.get.isEmpty,
        s"vectoring must not change the locally-bound-FILTER outcome: $vFil vs $pFil")
      assert(vReceived.nonEmpty && vReceived.last.contains("VALUES (?r)") &&
        !vReceived.last.contains("?x)"), vReceived.mkString("|"))
      // BIND target: never certainly bound → never injected, so the
      // strict-endpoint "BIND assigns an in-scope var" syntax hazard
      // cannot arise even when ?tag is shared with the computed side
      val (vB, pB) = bothRun(
        s"""SELECT ?r ?tag WHERE {
           |  ?r type "Region" . BIND(CONCAT(STR(?r), "!") AS ?tag)
           |  SERVICE <$ep> { ?r name ?nm BIND(CONCAT(STR(?r), "!") AS ?tag) }
           |} ORDER BY ?r""".stripMargin)
      assert(vB == pB)
      assert(received.length == 1 && received(0).contains("VALUES (?r)") &&
        !received(0).contains("?tag)"), received.mkString("|"))
      // SILENT + endpoint failure keeps the pre-vectoring contract:
      // the unit solution joins in and the left rows survive
      val boom = "http://boom.example/sparql"
      graft.sparql.ServiceRegistry.registerRemote(boom,
        _ => sys.error("endpoint down"))
      try {
        val kept = run(
          s"""SELECT ?r WHERE {
             |  ?r type "Region" .
             |  SERVICE SILENT <$boom> { ?r name ?nm }
             |}""".stripMargin).collect()
        assert(kept.length == 5, s"SILENT failure must keep left rows, got ${kept.length}")
      } finally graft.sparql.ServiceRegistry.unregisterRemote(boom)
    } finally {
      spark.conf.unset("graft.service.vectorSize")
      spark.conf.unset("graft.service.vectorMaxKeys")
      graft.sparql.ServiceRegistry.unregisterRemote(ep)
    }
  }

  test("SERVICE ?endpoint composes with bound-join vectoring per endpoint") {
    val spark2 = spark; import spark2.implicits._
    val received = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def reg(name: String, triples: Seq[(String, String, String)]): Unit = {
      val s = graft.sparql.TripleSource.plain(triples.toDF("s", "p", "o"))
      graft.sparql.ServiceRegistry.registerRemote(name, text => {
        received += ((name, text))
        Compiler.compile(Parser.parse(s"SELECT * WHERE $text"), s)
      })
    }
    val epX = "urn:var:x"; val epY = "urn:var:y"
    reg(epX, Seq(("w:1", "label", "alpha"), ("w:9", "label", "noise")))
    reg(epY, Seq(("w:2", "label", "gamma")))
    val local = graft.sparql.TripleSource.plain(
      Seq(("w:1", "type", "Wanted"), ("w:2", "type", "Wanted")).toDF("s", "p", "o"))
    try {
      val rows = Compiler.compile(Parser.parse(
        s"""SELECT ?ep ?s ?l WHERE {
           |  ?s type "Wanted" .
           |  VALUES ?ep { <$epX> <$epY> }
           |  SERVICE ?ep { ?s label ?l }
           |} ORDER BY ?ep""".stripMargin), local).collect()
      // each endpoint answers only ITS dispatch, joined on ?ep AND ?s
      assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
        Seq((epX, "w:1", "alpha"), (epY, "w:2", "gamma")))
      // and each dispatch carried the shared-key VALUES injection —
      // the endpoint evaluated only the join-compatible keys
      assert(received.size == 2)
      received.foreach { case (name, text) =>
        assert(text.contains("VALUES (?s)"), s"$name got uninjected: $text")
      }
    } finally {
      graft.sparql.ServiceRegistry.unregisterRemote(epX)
      graft.sparql.ServiceRegistry.unregisterRemote(epY)
    }
  }

  test("remote SERVICE over HTTP: loopback endpoint, W3C JSON round-trip") {
    // a real SPARQL-protocol endpoint on 127.0.0.1 (JDK HttpServer, no
    // egress): parse the POSTed query, evaluate, render W3C JSON —
    // proving the FULL RemoteServiceCallImpl analog end to end: group
    // text → HTTP POST → results JSON → term-form solutions
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sparql", new com.sun.net.httpserver.HttpHandler {
      def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val q = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        assert(ex.getRequestHeaders.getFirst("Content-Type") == "application/sparql-query")
        val sols = Compiler.compile(Parser.parse(q), src)
        val lines = graft.rdf.Serializer.sparqlJsonBindings(sols)
          .collect().map(_.getString(0))
        val doc = graft.rdf.Serializer.sparqlJsonHead(sols.columns.toSeq) +
          lines.mkString(",") + graft.rdf.Serializer.sparqlJsonFoot
        val bytes = doc.getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/sparql-results+json")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
    graft.sparql.RemoteService.register(spark, ep)
    try {
      // IRIs intern back to local names; tagged terms survive the wire
      val df = run(
        s"""SELECT ?r ?nm ?tag WHERE {
           |  ?r type "Region" .
           |  SERVICE <$ep> {
           |    ?r name ?nm FILTER(STRSTARTS(?nm, "A"))
           |    BIND(STRLANG(?nm, "en") AS ?tag)
           |  }
           |} ORDER BY ?nm""".stripMargin)
      val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(got.map(_._2).toSeq == Seq("AFRICA", "AMERICA", "ASIA"))
      assert(got.forall { case (r, nm, tag) =>
        r.startsWith("r:") && tag == "\"" + nm + "\"@en" })
      // typed terms survive too
      val ty = run(
        s"""SELECT ?t WHERE { SERVICE <$ep> {
           |  ?r name ?nm FILTER(?nm = "ASIA")
           |  BIND(STRDT(?nm, <http://www.w3.org/2001/XMLSchema#token>) AS ?t)
           |} }""".stripMargin).collect().map(_.getString(0))
      assert(ty.toSeq ==
        Seq("\"ASIA\"^^http://www.w3.org/2001/XMLSchema#token"))
      // an HTTP failure is a loud SERVICE error, not empty solutions
      val dead = s"http://127.0.0.1:${server.getAddress.getPort}/nope"
      graft.sparql.RemoteService.register(spark, dead)
      try intercept[Exception] {
        run(s"""SELECT ?x WHERE { SERVICE <$dead> { ?x name ?y } }""").collect()
      } finally graft.sparql.ServiceRegistry.unregisterRemote(dead)
    } finally {
      graft.sparql.ServiceRegistry.unregisterRemote(ep)
      server.stop(0)
    }
  }

  test("GRAPH ?g groups: FILTER/BIND/UNION compose with the graph var") {
    val df = run(
      """SELECT ?g ?s ?ln WHERE {
        |  GRAPH ?g { ?s name ?nm FILTER(STRSTARTS(?nm, "A") || STRSTARTS(?nm, "N")) BIND(STRLEN(?nm) AS ?ln) }
        |}""".stripMargin)
    val expect = TpchRdf.quads(spark, SF)
      .filter(col("p") === "name" && (col("o").startsWith("A") || col("o").startsWith("N")))
    assert(df.count() == expect.count() && df.count() > 0)
    assert(df.select("g").distinct().count() > 1) // spans multiple graphs
    // UNION inside a variable-graph block keeps per-branch graph tags
    val u = run(
      """SELECT ?g ?s ?v WHERE {
        |  GRAPH ?g { { ?s name ?v } UNION { ?s mktsegment ?v } }
        |}""".stripMargin)
    val nameN = TpchRdf.quads(spark, SF).filter(col("p") === "name").count()
    val segN = TpchRdf.quads(spark, SF).filter(col("p") === "mktsegment").count()
    assert(u.count() == nameN + segN)
    // VALUES inside the block constrains solutions, ?g stays bound
    val v = run(
      """SELECT ?g ?s ?nm WHERE {
        |  GRAPH ?g { ?s name ?nm VALUES ?nm { "AFRICA" "ASIA" } }
        |}""".stripMargin)
    assert(v.collect().map(_.getString(2)).toSet == Set("AFRICA", "ASIA"))
  }

  test("GRAPH ?g groups: OPTIONAL/MINUS/paths evaluate per graph") {
    import spark.implicits._
    val q = Seq(
      // g:a — chain x1 → x2 → x3, labels on x1/x2
      ("x:1", "next", "x:2", "g:a"),
      ("x:2", "next", "x:3", "g:a"),
      ("x:1", "label", "one", "g:a"),
      ("x:2", "label", "two", "g:a"),
      // g:b — disjoint chain x3 → x4; x1 labeled but WITHOUT next here
      ("x:3", "next", "x:4", "g:b"),
      ("x:1", "label", "uno", "g:b")).toDF("s", "p", "o", "g")
    val qsrc = new TripleSource {
      lazy val triples = q.select("s", "p", "o")
      override def quads = Some(q)
      def fuseStar(patterns: Seq[TriplePattern],
                   subjectTables: Option[Set[String]]): Option[org.apache.spark.sql.DataFrame] = None
    }
    def runQ(text: String) = Compiler.compile(Parser.parse(text), qsrc)
    // p+ closes WITHIN each graph — x:1 never reaches x:4 (that hop is g:b)
    val p = runQ("SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a next+ ?b } }")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(p == Set(
      ("g:a", "x:1", "x:2"), ("g:a", "x:1", "x:3"), ("g:a", "x:2", "x:3"),
      ("g:b", "x:3", "x:4")))
    // OPTIONAL matches in the SAME graph only: x:1 has next in g:a, not g:b
    val o = runQ("SELECT ?g ?s ?t WHERE { GRAPH ?g { ?s label ?l OPTIONAL { ?s next ?t } } }")
      .collect().map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(o == Set(
      ("g:a", "x:1", Some("x:2")), ("g:a", "x:2", Some("x:3")),
      ("g:b", "x:1", None)))
    // MINUS removes per graph: only g:b's x:1 lacks a next edge
    val m = runQ("SELECT ?g ?s WHERE { GRAPH ?g { ?s label ?l MINUS { ?s next ?t } } }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(m == Set(("g:b", "x:1")))
    // a VALUES branch under UNION binds ?g (one row per named graph)
    val u = runQ("""SELECT ?g ?v WHERE { GRAPH ?g { { ?s label ?v } UNION { VALUES ?v { "zz" } } } }""")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(!u.exists(_._1 == null), s"null ?g leaked: ${u.toSeq}")
    assert(u.count(_._2 == "zz") == 2 && u.length == 5)
    // MINUS with NO shared pattern var removes nothing (§8.3 disjoint
    // domains — ?g is evaluation context, not an operand var; an
    // anti-join on ?g alone would wrongly empty every graph with edges)
    val md = runQ("SELECT ?g ?s WHERE { GRAPH ?g { ?s label ?l MINUS { ?a next ?b } } }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(md == Set(("g:a", "x:1"), ("g:a", "x:2"), ("g:b", "x:1")))
    // VALUES joined in-block keeps §10.2 UNDEF compatibility: the
    // UNDEF row matches every solution instead of equality-nulling out
    val vu = runQ(
      """SELECT ?g ?s ?l WHERE { GRAPH ?g { ?s label ?l VALUES ?l { "one" UNDEF } } }""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(vu == Set(
      ("g:a", "x:1", "one"), ("g:a", "x:2", "two"), ("g:b", "x:1", "uno")))
    // a path endpoint REUSING the graph var is an equality constraint,
    // not a duplicate ?g column (x:1 next+ reaches nothing named g:a)
    val pg = runQ("SELECT ?g WHERE { GRAPH ?g { ?s next+ ?g } } ORDER BY ?g")
    assert(pg.columns.toSeq == Seq("g") && pg.count() == 0)
    // bound-endpoint closures inside GRAPH ?g evaluate SEEDED and
    // still per graph: x:1's next+ reach is g:a-only (the g:b hop
    // x:3→x:4 is another graph's edge)
    val sp = runQ("SELECT ?g ?b WHERE { GRAPH ?g { <urn:graft:x:1> next+ ?b } }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(sp == Set(("g:a", "x:2"), ("g:a", "x:3")))
    // p* zero-length self-pair appears only in graphs the node is a
    // term OF: x:4 occurs in g:b alone, with no outgoing edges
    val st = runQ("SELECT ?g ?b WHERE { GRAPH ?g { <urn:graft:x:4> next* ?b } }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(st == Set(("g:b", "x:4")))
    // reverse seeding: bound object
    val so = runQ("SELECT ?g ?a WHERE { GRAPH ?g { ?a next+ <urn:graft:x:3> } }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(so == Set(("g:a", "x:1"), ("g:a", "x:2")))
  }

  test("RDF/XML parser: node elements, attrs, lang, datatype, nesting, li") {
    val xml =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:v="urn:graft:" xml:base="urn:graft:">
        |  <v:Thing rdf:about="t:1" v:code="A1" xml:lang="de">
        |    <v:label xml:lang="en">alpha</v:label>
        |    <v:memo>notiz</v:memo>
        |    <v:plain xml:lang="">reset</v:plain>
        |    <v:size rdf:datatype="http://www.w3.org/2001/XMLSchema#int">5</v:size>
        |    <v:near rdf:resource="t:2"/>
        |  </v:Thing>
        |  <rdf:Description rdf:about="t:2">
        |    <v:inner>
        |      <rdf:Description rdf:nodeID="b7">
        |        <v:label>inner</v:label>
        |      </rdf:Description>
        |    </v:inner>
        |    <v:meta rdf:parseType="Resource">
        |      <v:score>9</v:score>
        |    </v:meta>
        |  </rdf:Description>
        |  <rdf:Seq rdf:about="q:1">
        |    <rdf:li>one</rdf:li>
        |    <rdf:li>two</rdf:li>
        |  </rdf:Seq>
        |</rdf:RDF>""".stripMargin
    val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val ts = graft.rdf.RdfXml.parse(xml).map(unscope3).toSet
    assert(ts == Set(
      ("t:1", "type", "Thing"),
      ("t:1", "code", "\"A1\"@de"), // property attr takes in-scope lang
      ("t:1", "label", "\"alpha\"@en"),
      ("t:1", "memo", "\"notiz\"@de"), // inherited from the node element
      ("t:1", "plain", "reset"),       // xml:lang="" resets inheritance
      ("t:1", "size", "\"5\"^^http://www.w3.org/2001/XMLSchema#int"),
      ("t:1", "near", "t:2"),
      ("t:2", "inner", "_:b7"),
      ("_:b7", "label", "inner"),
      ("t:2", "meta", "_:gen1"),
      ("_:gen1", "score", "9"),
      ("q:1", "type", RdfNs + "Seq"),
      ("q:1", RdfNs + "_1", "one"),
      ("q:1", RdfNs + "_2", "two")))
    // parseType="Literal" (§7.2.17): content markup becomes the
    // lexical form of an rdf:XMLLiteral typed term — mixed text and
    // elements serialize in document order
    assert(graft.rdf.RdfXml.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:v="urn:graft:">
        |<rdf:Description rdf:about="urn:graft:t:1">
        |  <v:items rdf:parseType="Literal">plain <b>x</b></v:items>
        |</rdf:Description></rdf:RDF>""".stripMargin).toSet ==
      Set(("t:1", "items", "\"plain <b>x</b>\"^^" + RdfNs + "XMLLiteral")))
    // unknown parseTypes still fail loud, never mis-parse
    intercept[RuntimeException](graft.rdf.RdfXml.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:v="urn:graft:">
        |<rdf:Description rdf:about="urn:graft:t:1">
        |  <v:items rdf:parseType="Bogus"><b>x</b></v:items>
        |</rdf:Description></rdf:RDF>""".stripMargin))
    // untrusted-ingest hardening: any DOCTYPE (and thus XXE / entity
    // expansion / local-file disclosure) is rejected outright
    intercept[Exception](graft.rdf.RdfXml.parse(
      """<?xml version="1.0"?>
        |<!DOCTYPE rdf:RDF [<!ENTITY xxe SYSTEM "file:///etc/hostname">]>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:v="urn:graft:">
        |<rdf:Description rdf:about="urn:graft:t:1">
        |  <v:label>&xxe;</v:label>
        |</rdf:Description></rdf:RDF>""".stripMargin))
  }

  test("review fixes: LOAD SILENT parse errors, null-ns, root @graph, ?_ vars") {
    import spark.implicits._
    // LOAD SILENT absorbs a PARSE failure (lazy inside the read task)
    val bad = java.nio.file.Files.createTempFile("graft_bad", ".ttl")
    java.nio.file.Files.writeString(bad, "v:a v:b \"unterminated literal .")
    val empty = graft.rdf.QuadStore(Seq.empty[(String, String, String, String)]
      .toDF("s", "p", "o", "g"))
    val silent = graft.sparql.Update.applyQuadsSeq(empty,
      graft.sparql.Parser.parseUpdates(s"LOAD SILENT <file://$bad>"))
    assert(silent.quads.count() == 0) // success/no-op per §3.1.4
    intercept[Exception] { // non-SILENT still fails (at action time)
      graft.sparql.Update.applyQuadsSeq(empty,
        graft.sparql.Parser.parseUpdates(s"LOAD <file://$bad>")).quads.count()
    }
    // namespace-less RDF/XML elements fail loud, never "null"-terms
    intercept[RuntimeException](graft.rdf.RdfXml.parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
        |<Thing rdf:about="urn:graft:t:1"/></rdf:RDF>""".stripMargin))
    // root node with @graph and non-@id keys (un-named graph document
    // carrying stray statements) fails loud
    intercept[RuntimeException](graft.rdf.JsonLd.parse(
      """{"urn:graft:name": "x", "@graph": [{"@id": "urn:graft:t:1"}]}"""))
    // '_'-prefixed variables are reserved (SELECT * excludes them)
    intercept[IllegalArgumentException](
      Parser.parse("SELECT * WHERE { ?_s ?p ?o }"))
  }

  test("LOAD of a directory parses whole files in parallel tasks") {
    // the scale contract for non-splittable formats: distributed
    // ACROSS files, sequential within — a directory LOAD must carry
    // one task per file, with per-file prefix/bnode scoping
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl_many")
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(dir.resolve(s"part$i.ttl"),
        s"""@prefix v: <urn:graft:> .
           |v:f:$i v:label "file $i" ; v:near [ v:label "inner $i" ] .
           |""".stripMargin)
    }
    val got = graft.sparql.Update.loadTriples(spark, dir.toString + "/*.ttl")
    // wholetext keeps one file per row → one parse task per file
    assert(got.count() == 9)
    assert(got.filter(col("p") === "label").count() == 6) // 3 subjects + 3 bnodes
    // bnode identity is document-scoped: the three files' anonymous
    // nodes stay DISTINCT (an unscoped _:gen1 would alias them)
    assert(got.filter(col("s").startsWith("_:")).select("s").distinct().count() == 3)
    assert(got.filter(col("s") === "f:2").count() == 2)
  }

  test("LOAD .rdf: RDF/XML lands in the target graph") {
    val rdf = java.nio.file.Files.createTempFile("graft_load", ".rdf")
    java.nio.file.Files.writeString(rdf,
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:v="urn:graft:">
        |  <v:Widget rdf:about="urn:graft:w:1">
        |    <v:label xml:lang="en">gear</v:label>
        |  </v:Widget>
        |</rdf:RDF>""".stripMargin)
    import spark.implicits._
    val empty = graft.rdf.QuadStore(Seq.empty[(String, String, String, String)]
      .toDF("s", "p", "o", "g"))
    val st = graft.sparql.Update.applyQuadsSeq(empty,
      graft.sparql.Parser.parseUpdates(s"LOAD <file://$rdf> INTO GRAPH g:xml"))
    val got = st.quads.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("w:1", "type", "Widget", "g:xml"),
      ("w:1", "label", "\"gear\"@en", "g:xml")))
  }

  test("JSON-LD parser: context, coercion, literals, nesting, vocab") {
    val jl =
      """{
        |  "@context": {
        |    "@vocab": "urn:graft:",
        |    "near": {"@id": "urn:graft:near", "@type": "@id"},
        |    "x": "urn:graft:x:"
        |  },
        |  "@id": "urn:graft:t:1",
        |  "@type": ["Thing", "x:Special"],
        |  "label": {"@value": "chat", "@language": "fr"},
        |  "size": {"@value": "5", "@type": "http://www.w3.org/2001/XMLSchema#int"},
        |  "near": "urn:graft:t:2",
        |  "flag": true,
        |  "child": {"label": "inner"}
        |}""".stripMargin
    val ts = graft.rdf.JsonLd.parse(jl).map(unscope3).toSet
    assert(ts == Set(
      ("t:1", "type", "Thing"),
      ("t:1", "type", "x:Special"),
      ("t:1", "label", "\"chat\"@fr"),
      ("t:1", "size", "\"5\"^^http://www.w3.org/2001/XMLSchema#int"),
      ("t:1", "near", "t:2"),
      ("t:1", "flag", "true"),
      ("t:1", "child", "_:gen1"),
      ("_:gen1", "label", "inner")))
    // a remote @context with NO registered resolver fails loud (SSRF
    // off-by-default policy), never mis-parses
    intercept[RuntimeException](graft.rdf.JsonLd.parse(
      """{"@context": "http://remote.example/ctx", "@id": "urn:graft:t:1"}"""))
    // with a resolver registered, remote + inline contexts combine
    // left-to-right (§6.1) and the remote document caches per URL
    var fetches = 0
    graft.rdf.JsonLd.setContextResolver(Some { url =>
      fetches += 1
      assert(url == "http://ctx.example/v1")
      """{"@context": {"@vocab": "urn:graft:", "near": {"@id": "urn:graft:near", "@type": "@id"}}}"""
    })
    try {
      val doc =
        """{"@context": ["http://ctx.example/v1", {"label": "urn:graft:label"}],
          |  "@id": "urn:graft:t:1", "label": "x", "near": "urn:graft:t:2"}""".stripMargin
      assert(graft.rdf.JsonLd.parse(doc).toSet == Set(
        ("t:1", "label", "x"), ("t:1", "near", "t:2")))
      assert(graft.rdf.JsonLd.parse(doc).nonEmpty && fetches == 1) // cached re-parse
    } finally graft.rdf.JsonLd.setContextResolver(None)
    // @list desugars to an rdf:first/rdf:rest chain (Turtle rule)
    val lst = graft.rdf.JsonLd.parse(
      """{"@id": "urn:graft:t:1", "urn:graft:items": {"@list": ["a"]}}""")
      .map(unscope3).toSet
    assert(lst == Set(
      ("t:1", "items", "_:gen1"),
      ("_:gen1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#first", "a"),
      ("_:gen1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil")))
    // @set is just its members (§6.11 unordered container)
    assert(graft.rdf.JsonLd.parse(
      """{"@id": "urn:graft:t:1", "urn:graft:items": {"@set": ["a", "b"]}}""").toSet ==
      Set(("t:1", "items", "a"), ("t:1", "items", "b")))
    // keyword containers with extra keys still fail loud
    intercept[RuntimeException](graft.rdf.JsonLd.parse(
      """{"@id": "urn:graft:t:1", "urn:graft:items": {"@set": ["a"], "@id": "urn:x"}}"""))
    intercept[RuntimeException](graft.rdf.JsonLd.parse(
      """{"@id": "urn:graft:t:1", "urn:graft:items": {"@list": ["a"], "@id": "urn:x"}}"""))
    // @container:@list in a term definition makes the term's array ONE
    // ordered list (§6.11); @set container is the default semantics
    val byCtx = graft.rdf.JsonLd.parse(
      """{"@context": {"items": {"@id": "urn:graft:items", "@container": "@list"},
        |               "tags": {"@id": "urn:graft:tags", "@container": "@set"}},
        |  "@id": "urn:graft:t:1", "items": ["a", "b"], "tags": ["x", "y"]}""".stripMargin)
      .map(unscope3)
    assert(byCtx.count(_._2 == "items") == 1) // one list head, not two values
    val heads = byCtx.filter(_._2 == "items").map(_._3)
    assert(byCtx.filter(t => heads.contains(t._1))
      .exists(t => t._2.endsWith("#first") && t._3 == "a"))
    assert(byCtx.filter(_._2 == "tags").map(_._3).toSet == Set("x", "y"))
    // a @container:@list term whose VALUE is already {"@list": …} keeps
    // value-object semantics (no double wrapping)
    val already = graft.rdf.JsonLd.parse(
      """{"@context": {"items": {"@id": "urn:graft:items", "@container": "@list"}},
        |  "@id": "urn:graft:t:1", "items": {"@list": ["a"]}}""".stripMargin).map(unscope3)
    assert(already.count(_._2 == "items") == 1 &&
      already.exists(t => t._2.endsWith("#first") && t._3 == "a"))
    // 1.1-only containers and unknown term-definition keys fail loud
    intercept[RuntimeException](graft.rdf.JsonLd.parse(
      """{"@context": {"items": {"@id": "urn:graft:items", "@container": "@index"}},
        |  "@id": "urn:graft:t:1", "items": "a"}""".stripMargin))
    intercept[RuntimeException](graft.rdf.JsonLd.parse(
      """{"@context": {"items": {"@reverse": "urn:graft:items"}},
        |  "@id": "urn:graft:t:1", "items": "a"}""".stripMargin))
    // a scoped @context on an inner node would change term meanings
    intercept[RuntimeException](graft.rdf.JsonLd.parse(
      """{"@graph": [{"@id": "urn:graft:t:1",
        |  "urn:graft:child": {"@context": {"x": "urn:other:"}, "@id": "urn:graft:t:2"}}]}""".stripMargin))
  }

  test("JSON-LD named graphs: @id+@graph nodes carry labels, LOAD lands quads") {
    // named-graph node objects (§6.13): members under the node's @id,
    // the node's own properties as default-graph statements about it
    val doc =
      """{
        |  "@context": {"@vocab": "urn:graft:"},
        |  "@graph": [
        |    {"@id": "urn:graft:t:1", "label": "top"},
        |    {
        |      "@id": "urn:graft:g:one",
        |      "source": "crawler",
        |      "@graph": [
        |        {"@id": "urn:graft:t:2", "label": "in-one",
        |         "child": {"label": "nested"}}
        |      ]
        |    }
        |  ]
        |}""".stripMargin
    def unscope4(t: (String, String, String, String)) = {
      def u(x: String) = x.replaceAll("^_:[0-9a-f]{16}-", "_:")
      (u(t._1), t._2, u(t._3), t._4)
    }
    val qs = graft.rdf.JsonLd.parseQuads(doc, "g:default").map(unscope4).toSet
    assert(qs == Set(
      ("t:1", "label", "top", "g:default"),
      ("g:one", "source", "crawler", "g:default"),
      ("t:2", "label", "in-one", "g:one"),
      ("t:2", "child", "_:gen1", "g:one"),
      ("_:gen1", "label", "nested", "g:one")))
    // flattened triple view drops the graph dimension (LOAD INTO GRAPH)
    assert(graft.rdf.JsonLd.parse(doc).length == 5)
    // a graph inside a graph has no dataset meaning — fail loud
    intercept[RuntimeException](graft.rdf.JsonLd.parseQuads(
      """{"@id": "urn:graft:g:a", "@graph": [
        |  {"@id": "urn:graft:g:b", "@graph": [{"@id": "urn:graft:t:9"}]}]}""".stripMargin,
      "g:default"))
    // bare LOAD routes named graphs to their labels; INTO GRAPH flattens
    import spark.implicits._
    val f = java.nio.file.Files.createTempFile("graft_ng", ".jsonld")
    java.nio.file.Files.writeString(f, doc)
    val empty = graft.rdf.QuadStore(Seq.empty[(String, String, String, String)]
      .toDF("s", "p", "o", "g"))
    val st = graft.sparql.Update.applyQuadsSeq(empty,
      graft.sparql.Parser.parseUpdates(s"LOAD <file://$f>"))
    assert(st.quads.filter(col("g") === "g:one").count() == 3)
    assert(st.quads.filter(col("g") === "g:default").count() == 2)
    val flat = graft.sparql.Update.applyQuadsSeq(empty,
      graft.sparql.Parser.parseUpdates(s"LOAD <file://$f> INTO GRAPH g:all"))
    assert(flat.quads.filter(col("g") === "g:all").count() == 5)
  }

  test("CONCAT keeps a shared language tag, drops mixed ones (§17.4.3.2)") {
    val df = run(
      """SELECT ?a ?b ?c ?d WHERE {
        |  ?r type "Region" .
        |  BIND(CONCAT("foo"@en, "bar"@en) AS ?a)
        |  BIND(CONCAT("foo"@en, "bar"@fr) AS ?b)
        |  BIND(CONCAT("x", "y") AS ?c)
        |  BIND(CONCAT("solo"@de) AS ?d)
        |} LIMIT 1""".stripMargin)
    val r = df.collect().head
    assert(r.getString(0) == "\"foobar\"@en")
    assert(r.getString(1) == "foobar")
    assert(r.getString(2) == "xy")
    assert(r.getString(3) == "\"solo\"@de")
  }

  test("Blueprints mutation façade: mutate then traverse round-trip") {
    val g = graft.graph.MutableGraph.empty(spark)
      .addVertex("v:1", "Person").addVertex("v:2", "Person").addVertex("v:3", "City")
      .addEdge("v:1", "knows", "v:2").addEdge("v:1", "lives", "v:3")
      .setProperty("v:1", "name", "ann")
    assert(g.traversal.V().has("type", "Person").df.count() == 2)
    assert(g.traversal.V("v:1").out("knows").df.collect().map(_.getString(0)).toSeq == Seq("v:2"))
    // setProperty REPLACES the previous value
    val g2 = g.setProperty("v:1", "name", "bob")
    assert(g2.traversal.V("v:1").values("name").collect().map(_.getString(0)).toSeq == Seq("bob"))
    // removeVertex drops the vertex AND its incident edges
    val g3 = g2.removeVertex("v:2")
    assert(g3.traversal.V("v:1").out("knows").df.count() == 0)
    assert(g3.store.triples.filter(col("s") === "v:2" || col("o") === "v:2").count() == 0)
    val g4 = g3.removeEdge("v:1", "lives", "v:3").removeProperty("v:1", "name")
    assert(g4.traversal.V("v:1").out("lives").df.count() == 0)
    assert(g4.traversal.V("v:1").values("name").count() == 0)
  }
}
