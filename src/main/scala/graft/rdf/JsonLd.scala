package graft.rdf

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Pragmatic JSON-LD parser for the LOAD path — the last of the
  * reference's everyday Rio ingest formats (bigdata-core/bigdata-rdf/
  * src/java/com/bigdata/rdf/rio/ registers Rio's JSONLDParser; web
  * data increasingly ships as JSON-LD).
  *
  * Covers the common authoring subset of the W3C JSON-LD 1.0 grammar:
  * a top-level node object, array of node objects, or `@graph` array;
  * `@context` with term→IRI mappings, `{"@id":…}`/`{"@type":"@id"}`
  * term definitions, `@vocab`, and compact IRIs (`pfx:local`); `@id`
  * and `@type` (string or array); property values as strings, numbers,
  * booleans, `{"@value", "@language"| "@type"}` literal objects
  * (landing as the [[graft.sparql.RdfLiteral]] term forms),
  * `{"@id":…}` references, arrays, nested node objects (fresh
  * bnodes when un-@id'd), `{"@list":[…]}` values (desugared to
  * rdf:first/rdf:rest chains, the Turtle-collection rule), and
  * `{"@set":[…]}` property values (a set is just its members —
  * §6.11, the unordered container), and `@container: "@list"|"@set"`
  * term definitions (§6.11 — a list-container term's array value is
  * ONE ordered list; other term-definition keys and the 1.1
  * index/language containers fail loud rather than silently reshape
  * data). [[parseQuads]] additionally reads
  * named-graph documents: a node object carrying `@id` + `@graph`
  * names a graph whose member statements are the `@graph` array
  * (JSON-LD 1.0 §6.13), and the node's OWN other properties are
  * default-graph statements about the graph name — the expansion
  * algorithm's dataset mapping. Remote `@context` URLs (string and
  * array forms, §6.1 left-to-right combination) resolve through the
  * OPT-IN [[setContextResolver]] hook — off by default (fetching URLs
  * from an untrusted document is SSRF; same policy as the RDF/XML
  * DOCTYPE ban) and fail loud when unregistered. The resolver is a
  * per-JVM registration: set it on the driver for driver-side parses;
  * a cluster LOAD of remote-context documents needs it registered in
  * an executor plugin (or pre-expanded documents — the robust bulk
  * path). JSON parsing uses Jackson, already on Spark's classpath —
  * no new dependency.
  *
  * Scale: a JSON-LD document is one JSON value — not splittable — so
  * one file parses in one task, distributed ACROSS files (the Turtle /
  * RDF/XML contract). Bulk ingest belongs in parquet / N-Triples;
  * newline-delimited JSON corpora are the `documents` table path.
  */
object JsonLd {

  private val mapper = new ObjectMapper()

  /** Remote `@context` resolution is OFF by default — fetching URLs
    * while parsing an UNTRUSTED document is an SSRF vector (the same
    * class the RDF/XML loader's DOCTYPE ban closes), so a bare URL
    * context fails loud unless a resolver is registered explicitly.
    * The resolver receives the context URL and returns its JSON text;
    * [[httpResolver]] is the stock HTTP client for trusted pipelines.
    * Resolved contexts cache per URL (web contexts are static
    * documents; one fetch per executor JVM, not per file). */
  @volatile private var contextResolver: Option[String => String] = None
  private val contextCache = new java.util.concurrent.ConcurrentHashMap[String, com.fasterxml.jackson.databind.JsonNode]()

  /** Register (or clear) the remote-context resolver. */
  def setContextResolver(r: Option[String => String]): Unit = {
    contextResolver = r
    contextCache.clear()
  }

  /** Stock resolver: GET the context URL, accept application/ld+json. */
  def httpResolver(timeoutMs: Int = 30000): String => String = { url =>
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs.toLong))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs.toLong))
      .header("Accept", "application/ld+json, application/json")
      .GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2, s"@context $url: HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** Resolve a remote context URL to its `@context` member (cached). */
  private def resolveRemote(url: String): com.fasterxml.jackson.databind.JsonNode = {
    val r = contextResolver.getOrElse(sys.error(
      s"jsonld: remote @context '$url' — no resolver registered " +
        "(JsonLd.setContextResolver; off by default against SSRF)"))
    contextCache.computeIfAbsent(url, { u =>
      val doc = mapper.readTree(r(u))
      if (doc.has("@context")) doc.get("@context") else doc
    })
  }

  /** Parse one JSON-LD document to (s, p, o) term triples (named
    * graphs flattened away — LOAD INTO GRAPH targets one graph). */
  def parse(content: String): Vector[(String, String, String)] =
    parseQuads(content, "").map { case (s, p, o, _) => (s, p, o) }

  /** Parse one JSON-LD document to (s, p, o, g) quads: top-level
    * statements land in `defaultGraph`; a node object with `@id` +
    * `@graph` contributes its `@graph` members under that graph name
    * (§6.13) and its own other properties as default-graph statements
    * about the name. */
  def parseQuads(content: String, defaultGraph: String): Vector[(String, String, String, String)] =
    new Walk(Scope.of(content), defaultGraph).run(mapper.readTree(content))

  /** `docScope` scopes every bnode label to the document (RDF 1.1
    * §3.4 — see [[Scope]]). */
  private final class Walk(docScope: String, defaultGraph: String) {
    private var bn = 0
    private var terms = Map.empty[String, String] // term -> IRI (or keyword alias)
    private var idTerms = Set.empty[String]       // terms coerced @type:@id
    private var listTerms = Set.empty[String]     // terms with @container: @list
    private var vocab = ""
    private var curGraph = defaultGraph
    private val out = Vector.newBuilder[(String, String, String, String)]

    def run(root: JsonNode): Vector[(String, String, String, String)] = {
      if (root.isObject && root.has("@context")) context(root.get("@context"))
      val nodes: Seq[JsonNode] =
        if (root.isArray) root.elements().asScala.toSeq
        else if (root.has("@graph") && !root.has("@id")) {
          // top-level @graph without @id = the default graph's nodes;
          // with @id the root is itself a named-graph node object and
          // falls through to nodeObject's @graph handling
          val extra = root.fieldNames().asScala.toSet -- Set("@context", "@graph")
          if (extra.nonEmpty)
            fail(s"root node with @graph and non-@id keys ${extra.mkString(",")} is not supported")
          root.get("@graph").elements().asScala.toSeq
        }
        else Seq(root)
      nodes.foreach(nodeObject(_, isRoot = nodes.size == 1 && (nodes.head eq root)))
      out.result()
    }

    private def fail(msg: String): Nothing = sys.error(s"jsonld: $msg")

    private def context(ctx: JsonNode): Unit = {
      // an array combines contexts left-to-right (JSON-LD 1.0 §6.1 —
      // later definitions win); a string is a remote context URL
      if (ctx.isArray) { ctx.elements().asScala.foreach(context); return }
      if (ctx.isTextual) { context(resolveRemote(ctx.asText())); return }
      if (!ctx.isObject) fail("non-object @context is not supported")
      ctx.fields().asScala.foreach { e =>
        val (term, v) = (e.getKey, e.getValue)
        if (term == "@vocab") vocab = v.asText()
        else if (v.isTextual) terms += (term -> v.asText())
        else if (v.isObject) {
          // expanded term definition:
          //   {"@id": iri, "@type": "@id"|dt, "@container": "@list"|"@set"}
          val unknown = v.fieldNames().asScala.toSet -- Set("@id", "@type", "@container")
          if (unknown.nonEmpty)
            fail(s"unsupported term-definition keys ${unknown.mkString(",")} for '$term'")
          if (v.has("@id")) terms += (term -> v.get("@id").asText())
          if (v.has("@type") && v.get("@type").asText() == "@id") idTerms += term
          if (v.has("@container")) v.get("@container").asText() match {
            // @list: the term's values form ONE ordered rdf list
            // (§6.11); @set is the default unordered semantics, so a
            // no-op; the 1.1 index/language/id/graph containers would
            // silently reshape data — fail loud
            case "@list" => listTerms += term
            case "@set"  => ()
            case other   => fail(s"unsupported @container '$other' for '$term'")
          }
        } else fail(s"unsupported @context entry for '$term'")
      }
    }

    /** Term/compact-IRI/vocab expansion, then engine-base interning
      * (the rule every loader applies). `rdf:type`-mapped terms and
      * full IRIs pass through expansion untouched. */
    private def expand(t: String): String = {
      if (t.startsWith("_:")) return "_:" + docScope + "-" + t.drop(2)
      val iri =
        if (terms.contains(t)) terms(t)
        else {
          val idx = t.indexOf(':')
          if (idx > 0 && terms.contains(t.substring(0, idx)))
            terms(t.substring(0, idx)) + t.substring(idx + 1)
          else if (idx < 0 && vocab.nonEmpty) vocab + t
          else t
        }
      Lexicon.intern(iri)
    }

    private def freshBnode(): String = { bn += 1; s"_:$docScope-gen$bn" }

    /** Emit a node object's statements; returns its subject term. */
    private def nodeObject(n: JsonNode, isRoot: Boolean = false): String = {
      if (!n.isObject) fail(s"expected a node object, got $n")
      val subj =
        if (n.has("@id")) expand(n.get("@id").asText()) else freshBnode()
      n.fields().asScala.foreach { e =>
        val (k, v) = (e.getKey, e.getValue)
        k match {
          case "@id" => ()
          case "@context" =>
            // the document context was consumed in run(); a SCOPED
            // context on an inner node would silently change term
            // meanings — fail loud instead
            if (!isRoot) fail("scoped (non-root) @context is not supported")
          case "@type" =>
            asArray(v).foreach(t => out += ((subj, "type", expand(t.asText()), curGraph)))
          case "@graph" =>
            // named-graph node object (§6.13): members evaluate under
            // the node's @id as graph name. One level only — a graph
            // inside a graph has no RDF dataset meaning.
            if (curGraph != defaultGraph) fail("doubly-nested @graph is not supported")
            if (!n.has("@id")) fail("@graph on an un-@id'd inner node is not supported")
            curGraph = subj
            asArray(v).foreach(nodeObject(_))
            curGraph = defaultGraph
          case "@list" | "@set" => fail(s"'$k' containers are not supported")
          case _ if k.startsWith("@") => fail(s"unsupported keyword '$k'")
          case _ =>
            val p = expand(k)
            // a {"@set":[…]} property value is just its members
            // (§6.11: @set is the explicit unordered container)
            val vv =
              if (v.isObject && v.has("@set")) {
                if (v.size() != 1) fail(s"@set object with extra keys $v")
                v.get("@set")
              } else v
            if (listTerms.contains(k) && !(vv.isObject && vv.has("@list")))
              // @container:@list term (§6.11): the array IS one list
              out += ((subj, p, listChain(asArray(vv).map(value(_, k))), curGraph))
            else
              asArray(vv).foreach(item => out += ((subj, p, value(item, k), curGraph)))
        }
      }
      subj
    }

    private def asArray(v: JsonNode): Seq[JsonNode] =
      if (v.isArray) v.elements().asScala.toSeq else Seq(v)

    /** A property value: literal, reference, literal object, or a
      * nested node object. */
    private def value(v: JsonNode, term: String): String = {
      if (v.isTextual) {
        if (idTerms.contains(term)) expand(v.asText()) else v.asText()
      }
      else if (v.isNumber || v.isBoolean) v.asText()
      else if (v.isObject && v.has("@value")) {
        val lex = v.get("@value").asText()
        if (v.has("@language")) graft.sparql.RdfLiteral.tagged(lex, v.get("@language").asText())
        else if (v.has("@type")) graft.sparql.RdfLiteral.typed(lex, expand(v.get("@type").asText()))
        else lex
      }
      else if (v.isObject && v.has("@list")) {
        // @list value object (JSON-LD 1.0 §6.11) → rdf:first/rdf:rest
        // chain of doc-scoped bnodes — the same desugar as a Turtle
        // collection; rdf:nil when empty
        if (v.size() != 1) fail(s"@list object with extra keys $v")
        listChain(asArray(v.get("@list")).map(value(_, term)))
      }
      else if (v.isObject && v.has("@id") && v.size() == 1) expand(v.get("@id").asText())
      else if (v.isObject) nodeObject(v)
      else fail(s"unsupported value $v")
    }

    private def listChain(items: Seq[String]): String =
      if (items.isEmpty) Turtle.RdfNil
      else {
        val nodes = items.map(_ => freshBnode())
        for (idx <- items.indices) {
          out += ((nodes(idx), Turtle.RdfFirst, items(idx), curGraph))
          out += ((nodes(idx), Turtle.RdfRest,
            if (idx == items.size - 1) Turtle.RdfNil else nodes(idx + 1), curGraph))
        }
        nodes.head
      }
  }
}
