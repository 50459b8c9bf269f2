package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RDF serialization — the WRITE half of the reference's Rio stack
  * (bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/rio/ writers):
  * N-Triples and N-Quads, the line-oriented formats that stay
  * distributed on the way OUT too — one text line per statement, so a
  * 100-TB export is a map-only projection written by every task in
  * parallel (no document-global state like Turtle prefixes).
  *
  * Inverse of the LOAD readers ([[graft.sparql.Update.loadTriples]] /
  * `loadQuads`). Every term renders through [[Lexicon]]: its IRI, its
  * N-Triples token, its escapes and its kind.
  */
object Serializer {

  /** triples(s,p,o) → one N-Triples line per row (column `value`). */
  def toNTriples(triples: DataFrame): DataFrame =
    triples.select(concat(
      Lexicon.resource(col("s")), lit(" "), Lexicon.resource(col("p")), lit(" "),
      Lexicon.token(col("o")), lit(" .")).as("value"))

  /** quads(s,p,o,g) → one N-Quads line per row (column `value`). */
  def toNQuads(quads: DataFrame): DataFrame =
    quads.select(concat(
      Lexicon.resource(col("s")), lit(" "), Lexicon.resource(col("p")), lit(" "),
      Lexicon.token(col("o")), lit(" "), Lexicon.resource(col("g")), lit(" .")).as("value"))

  /** Default Turtle prefix table: the engine base plus the vocabularies
    * the term model actually emits. */
  val defaultPrefixes: Seq[(String, String)] = Seq(
    "g" -> Lexicon.Base,
    "xsd" -> "http://www.w3.org/2001/XMLSchema#",
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#")

  /** `@prefix` header block for [[toTurtle]] lines. */
  def turtleHeader(prefixes: Seq[(String, String)] = defaultPrefixes): String =
    prefixes.map { case (p, ns) => s"@prefix $p: <$ns> ." }.mkString("\n") + "\n"

  /** Turtle EXPORT with prefix compression and `;`/`,` grouping — the
    * pretty-printing half of Rio's TurtleWriter
    * (bigdata-rdf/rio/ writers). One multi-line block per SUBJECT
    * (column `value`): predicates sorted and joined with ';', repeated
    * predicates' objects joined with ',', `rdf:type` written as `a`.
    * Two shuffles on (s,p) then (s) — the grouping semantic itself —
    * then map-only rendering; stays distributed across subjects, so a
    * 100-TB export parallelizes (prefix table is a constant, not
    * document state). Emit [[turtleHeader]] ahead of the lines. */
  def toTurtle(triples: DataFrame,
               prefixes: Seq[(String, String)] = defaultPrefixes): DataFrame = {
    val res = compressTerm(_: Column, prefixes)
    subjectBlocks(triples, prefixes)
      .select(concat(res(col("s")), lit(" "), col("body"), lit(" .")).as("value"))
  }

  /** TriG EXPORT: one `GRAPH <g> { … }` block per graph (column
    * `value`), each holding its subjects' pretty-printed Turtle
    * statements — Rio's TriGWriter analog. A graph's block aggregates
    * on the graph key, so export parallelism is per-GRAPH (fine for
    * management-sized graph sets; a single 100-TB graph should export
    * as per-statement N-Quads instead — that path stays map-only).
    * Emit [[turtleHeader]] ahead of the lines; [[Turtle.parseTrig]]
    * reads the result back losslessly. */
  def toTrig(quads: DataFrame,
             prefixes: Seq[(String, String)] = defaultPrefixes): DataFrame = {
    val res = compressTerm(_: Column, prefixes)
    subjectBlocks(quads, prefixes, Seq(col("g")))
      .select(col("g"), concat(res(col("s")), lit(" "), col("body"), lit(" .")).as("stmt"))
      .groupBy(col("g"))
      .agg(concat_ws("\n  ", sort_array(collect_list(col("stmt")))).as("stmts"))
      .select(concat(lit("GRAPH "), res(col("g")), lit(" {\n  "),
        col("stmts"), lit("\n}")).as("value"))
  }

  /** Shared grouping core: per (extraKeys, s) Turtle bodies with `;`/
    * `,` folding, predicates compressed and `a` for rdf:type. */
  private def subjectBlocks(df: DataFrame, prefixes: Seq[(String, String)],
                            extraKeys: Seq[Column] = Seq.empty): DataFrame = {
    val res = compressTerm(_: Column, prefixes)
    val obj = Lexicon.token(col("o"), res)
    val pred = when(col("p") === "type", lit("a")).otherwise(res(col("p")))
    df.groupBy(extraKeys :+ col("s") :+ pred.as("pt"): _*)
      .agg(concat_ws(" , ", sort_array(collect_list(obj))).as("objs"))
      .groupBy(extraKeys :+ col("s"): _*)
      .agg(concat_ws(" ;\n    ",
        sort_array(collect_list(concat(col("pt"), lit(" "), col("objs"))))).as("body"))
  }

  /** Prefix-compress a resource term's IRI (longest namespace wins —
    * Turtle 1.1 PN_LOCAL allows ':', so base-local ids like `c:42`
    * compress to `g:c:42`); bnodes pass through, no match falls back
    * to `<iri>`. */
  private def compressTerm(c: Column, prefixes: Seq[(String, String)]): Column =
    compress(c, prefixes, full => concat(lit("<"), full, lit(">")))

  /** `pfx:local` for the longest namespace of the term's IRI, else
    * `fallback(iri)`; bnode labels pass through. */
  private def compress(c: Column, prefixes: Seq[(String, String)],
                       fallback: Column => Column): Column = {
    val full = Lexicon.iri(c)
    val compressed = prefixes.sortBy(-_._2.length).foldRight(fallback(full)) {
      case ((p, ns), els) =>
        when(full.startsWith(ns),
          concat(lit(p + ":"), full.substr(lit(ns.length + 1), lit(Int.MaxValue))))
          .otherwise(els)
    }
    when(Lexicon.isBnode(c), c).otherwise(compressed)
  }

  /** JSON-LD EXPORT: one flat node object per SUBJECT (column
    * `value`) — Rio's JSONLDWriter analog (expanded form, no
    * `@context`, so every consumer reads it without context
    * resolution). `@id`/`@type` plus one array per predicate whose
    * elements are `{"@id"}` references or `{"@value"[,"@language"|
    * "@type"]}` literal objects; `to_json` owns all string escaping.
    * The caller wraps the comma-joined lines in `[ … ]` (or feeds
    * them to any NDJSON-of-node-objects reader). Same grouping
    * shape as [[toTurtle]]: shuffles on (s,p)/(s) then map-only
    * rendering, parallel across subjects. [[JsonLd.parse]] reads the
    * wrapped document back losslessly. */
  /** A JSON string literal (quotes included) with real JSON escaping:
    * to_json of a 1-element array, brackets stripped. Shared by both
    * JSON-LD writers so literal rendering cannot diverge. */
  private def jsonStr(c: Column): Column = {
    val a = to_json(array(c))
    a.substr(lit(2), length(a) - lit(2))
  }

  def toJsonLd(triples: DataFrame): DataFrame = {
    val c = col("o")
    val lit0 = graft.sparql.RdfLiteral
    val resRef = (t: Column) => when(Lexicon.isBnode(t), t).otherwise(Lexicon.iri(t))
    val objJson =
      when(!Lexicon.isLiteral(c),
        concat(lit("{\"@id\":"), jsonStr(resRef(c)), lit("}")))
        .when(lit0.isTagged(c), concat(
          lit("{\"@value\":"), jsonStr(lit0.strOf(c)),
          lit(",\"@language\":"), jsonStr(lit0.langOf(c)), lit("}")))
        .when(lit0.isTyped(c), concat(
          lit("{\"@value\":"), jsonStr(lit0.strOf(c)),
          lit(",\"@type\":"), jsonStr(lit0.typedDatatypeOf(c)), lit("}")))
        .otherwise(concat(lit("{\"@value\":"), jsonStr(c), lit("}")))
    val isType = col("p") === "type"
    // rdf:type → "@type": [name strings]; other predicates key their
    // object arrays; '@' sorts first so @type lands before predicates
    val rendered = when(isType, jsonStr(when(Lexicon.isIri(c), Lexicon.iri(c)).otherwise(c)))
      .otherwise(objJson)
    triples
      .groupBy(col("s"), when(isType, lit("\"@type\"")).otherwise(jsonStr(col("p"))).as("key"))
      .agg(concat_ws(",", sort_array(collect_list(rendered))).as("objs"))
      .groupBy(col("s"))
      .agg(concat_ws(",", sort_array(collect_list(
        concat(col("key"), lit(":["), col("objs"), lit("]"))))).as("body"))
      .select(concat(
        lit("{\"@id\":"), jsonStr(resRef(col("s"))), lit(","),
        col("body"), lit("}")).as("value"))
  }

  /** The `"@context":{…}` member for [[toJsonLdCompact]] documents:
    * the prefix table as JSON-LD prefix mappings. Caller assembles
    * `{"@context":` + this + `,"@graph":[` + lines.mkString(",") +
    * `]}` — the shape [[JsonLd.parse]] reads back. */
  def jsonLdContext(prefixes: Seq[(String, String)] = defaultPrefixes): String =
    prefixes.map { case (p, ns) => s""""$p":"$ns"""" }.mkString("{", ",", "}")

  /** COMPACTED JSON-LD export — the form users diff against authored
    * documents (Rio JSONLDWriter with compaction): every IRI — `@id`s,
    * predicate keys, `@type` values, literal datatypes — is a compact
    * IRI under the shared Turtle prefix table, and plain string
    * literals collapse to bare JSON strings (tagged/typed keep their
    * `@value` objects; `{"@id"}` objects keep references distinct from
    * literals, so nothing aliases). Same grouping shape as
    * [[toJsonLd]]: shuffles on (s,p)/(s), then map-only rendering,
    * parallel across subjects. Wrap the comma-joined lines with
    * [[jsonLdContext]]; [[JsonLd.parse]] expands the result back to
    * exactly the input triples. */
  def toJsonLdCompact(triples: DataFrame,
                      prefixes: Seq[(String, String)] = defaultPrefixes): DataFrame = {
    // compact IRI: longest namespace wins, bnodes pass, no-match keeps
    // the full IRI (JSON-LD needs no angle brackets, unlike Turtle)
    def compactIri(c: Column): Column = compress(c, prefixes, identity)
    val c = col("o")
    val lit0 = graft.sparql.RdfLiteral
    val objJson =
      when(!Lexicon.isLiteral(c),
        concat(lit("{\"@id\":"), jsonStr(compactIri(c)), lit("}")))
        .when(lit0.isTagged(c), concat(
          lit("{\"@value\":"), jsonStr(lit0.strOf(c)),
          lit(",\"@language\":"), jsonStr(lit0.langOf(c)), lit("}")))
        .when(lit0.isTyped(c), concat(
          lit("{\"@value\":"), jsonStr(lit0.strOf(c)),
          lit(",\"@type\":"), jsonStr(compactIri(lit0.typedDatatypeOf(c))), lit("}")))
        // plain literal → bare JSON string (compaction); the parser
        // never prefix-expands an uncoerced string value, so a literal
        // that LOOKS like `g:x` still reloads as the literal
        .otherwise(jsonStr(c))
    val isType = col("p") === "type"
    val rendered = when(isType, jsonStr(compactIri(c))).otherwise(objJson)
    triples
      .groupBy(col("s"), when(isType, lit("\"@type\"")).otherwise(jsonStr(compactIri(col("p")))).as("key"))
      .agg(concat_ws(",", sort_array(collect_list(rendered))).as("objs"))
      .groupBy(col("s"))
      .agg(concat_ws(",", sort_array(collect_list(
        concat(col("key"), lit(":["), col("objs"), lit("]"))))).as("body"))
      .select(concat(
        lit("{\"@id\":"), jsonStr(compactIri(col("s"))), lit(","),
        col("body"), lit("}")).as("value"))
  }

  /** RDF/XML EXPORT: one `<rdf:Description rdf:about="…">` element per
    * SUBJECT (column `value`) — Rio's RDFXMLWriter analog. Object
    * forms: `rdf:resource` references, `rdf:nodeID` bnodes, xml:lang /
    * rdf:datatype literals; predicates must be expandable QNames in
    * the `g:` (engine-base) namespace or the rdf: namespace — true for
    * every lexicon term form. Wrap the lines in [[rdfXmlHead]] /
    * [[rdfXmlFoot]]. Same grouping shape as the other pretty writers;
    * [[RdfXml.parse]] reads the document back losslessly. */
  def toRdfXml(triples: DataFrame): DataFrame = {
    val esc = xmlEscape(_: Column)
    def attrEsc(x: Column): Column = regexp_replace(esc(x), "\"", "&quot;")
    val c = col("o")
    val lit0 = graft.sparql.RdfLiteral
    // predicate element QName: lexicon-local names live in the g:
    // (engine-base) namespace — g:name (the loader maps it back); any
    // other predicate IRI, rdf:type among them, splits at its last
    // '#'/'/' into a local xmlns:n declaration, the standard RDF/XML
    // writer rule
    val isLocalP = Lexicon.isLocal(col("p"))
    val pIri = Lexicon.iri(col("p"))
    val qname = when(isLocalP, concat(lit("g:"), col("p")))
      .otherwise(concat(lit("n:"), regexp_extract(pIri, "([^#/]+)$", 1)))
    val nsDecl = when(isLocalP, lit("")).otherwise(concat(
      lit(" xmlns:n=\""), attrEsc(regexp_extract(pIri, "^(.*[#/])[^#/]*$", 1)), lit("\"")))
    val obj =
      when(Lexicon.isBnode(c), concat(
        lit("<"), qname, nsDecl,
        lit(" rdf:nodeID=\""), attrEsc(regexp_replace(c, "^_:", "")), lit("\"/>")))
        .when(lit0.isTagged(c), concat(
          lit("<"), qname, nsDecl, lit(" xml:lang=\""), lit0.langOf(c), lit("\">"),
          esc(lit0.strOf(c)), lit("</"), qname, lit(">")))
        .when(lit0.isTyped(c), concat(
          lit("<"), qname, nsDecl, lit(" rdf:datatype=\""),
          attrEsc(lit0.typedDatatypeOf(c)), lit("\">"),
          esc(lit0.strOf(c)), lit("</"), qname, lit(">")))
        .when(Lexicon.isIri(c), concat(
          lit("<"), qname, nsDecl, lit(" rdf:resource=\""), attrEsc(Lexicon.iri(c)), lit("\"/>")))
        .otherwise(concat(
          lit("<"), qname, nsDecl, lit(">"), esc(c), lit("</"), qname, lit(">")))
    val subjAttr = when(Lexicon.isBnode(col("s")),
      concat(lit("rdf:nodeID=\""), attrEsc(regexp_replace(col("s"), "^_:", "")), lit("\"")))
      .otherwise(concat(lit("rdf:about=\""), attrEsc(Lexicon.iri(col("s"))), lit("\"")))
    triples
      .groupBy(col("s"))
      .agg(concat_ws("", sort_array(collect_list(obj))).as("body"))
      .select(concat(
        lit("<rdf:Description "), subjAttr, lit(">"),
        col("body"), lit("</rdf:Description>")).as("value"))
  }

  def rdfXmlHead: String =
    """<?xml version="1.0"?><rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" """ +
      s"""xmlns:g="${Lexicon.Base}">"""
  val rdfXmlFoot: String = "</rdf:RDF>"

  // ---- SPARQL Query Results formats --------------------------------
  //
  // The four response serializations the reference's NanoSparqlServer
  // negotiates (bigdata-core/bigdata-sail/.../webapp/ wires Rio's
  // SPARQLResultsJSONWriter/XMLWriter/CSVWriter/TSVWriter): W3C
  // "SPARQL 1.1 Query Results JSON Format", "SPARQL Query Results XML
  // Format", and "SPARQL 1.1 Query Results CSV and TSV Formats".
  // Each renders the per-solution body as a map-only line projection
  // (stays distributed; a 100-TB result set serializes in parallel)
  // with the document-global head/foot as constant strings the caller
  // writes around the lines. Unbound variables (nulls) are omitted
  // (JSON/XML) or empty (CSV/TSV), per the specs.

  /** One results.bindings element per row (column `value`): a JSON
    * object keyed by variable with `{"type","value","xml:lang",
    * "datatype"}` term objects. `to_json` owns the escaping; null
    * (unbound) vars drop out of the object. */
  def sparqlJsonBindings(solutions: DataFrame): DataFrame = {
    val lit0 = graft.sparql.RdfLiteral
    val fields = solutions.columns.map { v =>
      val c = col("`" + v + "`").cast("string")
      val term = when(c.isNull, lit(null).cast("struct<type:string,value:string,`xml:lang`:string,datatype:string>"))
        .when(Lexicon.isBnode(c), struct(
          lit("bnode").as("type"), regexp_replace(c, "^_:", "").as("value"),
          lit(null).cast("string").as("xml:lang"), lit(null).cast("string").as("datatype")))
        .when(Lexicon.isIri(c), struct(
          lit("uri").as("type"), Lexicon.iri(c).as("value"),
          lit(null).cast("string").as("xml:lang"), lit(null).cast("string").as("datatype")))
        .otherwise(struct(
          lit("literal").as("type"), lit0.strOf(c).as("value"),
          when(lit0.isTagged(c), lit0.langOf(c)).as("xml:lang"),
          when(lit0.isTyped(c), lit0.typedDatatypeOf(c)).as("datatype")))
      term.as(v)
    }
    solutions.select(to_json(struct(fields.toSeq: _*)).as("value"))
  }

  /** Document head/foot around [[sparqlJsonBindings]] lines (the
    * caller joins lines with ','). */
  def sparqlJsonHead(vars: Seq[String]): String =
    """{"head":{"vars":[""" + vars.map("\"" + _ + "\"").mkString(",") +
      """]},"results":{"bindings":["""
  val sparqlJsonFoot: String = "]}}"

  private def xmlEscape(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  /** One `<result>` element per row (column `value`), XML-escaped;
    * [[sparqlXmlHead]]/[[sparqlXmlFoot]] wrap the document. */
  def sparqlXmlResults(solutions: DataFrame): DataFrame = {
    val lit0 = graft.sparql.RdfLiteral
    val bindings = solutions.columns.map { v =>
      val c = col("`" + v + "`").cast("string")
      when(c.isNull, lit(""))
        .when(Lexicon.isBnode(c), concat(
          lit(s"""<binding name="$v"><bnode>"""),
          xmlEscape(regexp_replace(c, "^_:", "")), lit("</bnode></binding>")))
        .when(Lexicon.isIri(c), concat(
          lit(s"""<binding name="$v"><uri>"""), xmlEscape(Lexicon.iri(c)), lit("</uri></binding>")))
        .when(lit0.isTagged(c), concat(
          lit(s"""<binding name="$v"><literal xml:lang=""""), lit0.langOf(c),
          lit("\">"), xmlEscape(lit0.strOf(c)), lit("</literal></binding>")))
        .when(lit0.isTyped(c), concat(
          lit(s"""<binding name="$v"><literal datatype=""""),
          xmlEscape(lit0.typedDatatypeOf(c)),
          lit("\">"), xmlEscape(lit0.strOf(c)), lit("</literal></binding>")))
        .otherwise(concat(
          lit(s"""<binding name="$v"><literal>"""), xmlEscape(c), lit("</literal></binding>")))
    }
    solutions.select(concat(lit("<result>") +: bindings.toSeq :+ lit("</result>"): _*).as("value"))
  }

  /** Boolean (ASK) result documents — constant strings, no body. */
  def sparqlAskJson(b: Boolean): String = s"""{"head":{},"boolean":$b}"""
  def sparqlAskXml(b: Boolean): String =
    """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#">""" +
      s"<head/><boolean>$b</boolean></sparql>"

  def sparqlXmlHead(vars: Seq[String]): String =
    """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#"><head>""" +
      vars.map(v => s"""<variable name="$v"/>""").mkString + "</head><results>"
  val sparqlXmlFoot: String = "</results></sparql>"

  /** CSV rows (one per solution, column `value`): plain values —
    * lexical forms for literals, full IRIs, `_:label` bnodes — quoted
    * per RFC 4180 when they contain a comma, quote, or newline. The
    * header line is `vars.mkString(",")`. */
  def sparqlCsvRows(solutions: DataFrame): DataFrame = {
    val lit0 = graft.sparql.RdfLiteral
    val cells = solutions.columns.map { v =>
      val c = col("`" + v + "`").cast("string")
      val plain = when(c.isNull, lit(""))
        .when(Lexicon.isBnode(c), c)
        .when(Lexicon.isIri(c), Lexicon.iri(c))
        .otherwise(lit0.strOf(c))
      when(plain.rlike("[,\"\n\r]"),
        concat(lit("\""), regexp_replace(plain, "\"", "\"\""), lit("\"")))
        .otherwise(plain)
    }
    solutions.select(concat_ws(",", cells.toSeq: _*).as("value"))
  }

  /** TSV rows: terms in SPARQL syntax (`<iri>`, `"lit"@tag`, bare
    * numbers), tab-separated; the header is `vars.map("?"+_)
    * .mkString("\t")`. Reuses the N-Triples object rendering. */
  def sparqlTsvRows(solutions: DataFrame): DataFrame = {
    val cells = solutions.columns.map { v =>
      val c = col("`" + v + "`").cast("string")
      when(c.isNull, lit(""))
        .when(c.rlike("^[-+]?[0-9]+(\\.[0-9]+)?$"), c) // numbers stay bare
        .otherwise(Lexicon.token(c))
    }
    solutions.select(concat_ws("\t", cells.toSeq: _*).as("value"))
  }
}
