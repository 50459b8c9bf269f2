package graft.rdf

/** Pragmatic Turtle (.ttl) parser for the LOAD path (reference: the
  * Rio-based loaders in
  * bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/rio/ — a
  * migrating user's first action is `LOAD <file.ttl>`).
  *
  * Covers everyday Turtle: `@prefix`/`@base` (and SPARQL-style
  * PREFIX/BASE), `a`, `;` predicate-object lists, `,` object lists,
  * `[ … ]` anonymous bnodes (nested), `#` comments, numeric/boolean
  * literals, RDF collections `( … )` (desugared to rdf:first/rdf:rest
  * chains of doc-scoped bnodes, §2.8), triple-quoted `"""…"""` long
  * strings, and string literals with backslash escapes and
  * lang/datatype tags — `"x"@en` / `"5"^^xsd:int` parse to the
  * [[graft.sparql.RdfLiteral]] tagged term forms, IRIs under the
  * engine base intern to local names (the same lexicon rule the SPARQL
  * parser applies).
  *
  * Scale: Turtle is NOT a splittable format — statements span lines
  * and prefix declarations are file-global — so one file parses in one
  * task: distributed ACROSS files, sequential within, the same
  * contract as the reference's per-file stream parse. Bulk ingest at
  * 100 TB belongs in parquet / line-splittable N-Triples; a .ttl LOAD
  * is the ontology/fixture-sized migration path.
  */
object Turtle {

  /** Canonical UTC rendering of an xsd:dateTime lexical form
    * (yyyy-MM-ddTHH:mm:ss.SSSZ; date-only forms take midnight, no
    * offset means UTC); an unparseable form passes through verbatim. */
  private[graft] def canonicalDateTime(lex: String): String = {
    val t = lex.trim
    val full =
      if (t.matches("""\d{4}-\d{2}-\d{2}""")) t + "T00:00:00Z"
      else if (t.matches(""".*T\d{2}:\d{2}:\d{2}(\.\d+)?""")) t + "Z"
      else t
    try {
      val inst = java.time.Instant.parse(full)
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXX")
        .withZone(java.time.ZoneOffset.UTC).format(inst).replace("+0000", "Z")
    } catch { case _: Exception => lex }
  }

  private[rdf] val RdfFirst = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
  private[rdf] val RdfRest = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
  private[rdf] val RdfNil = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

  /** Parse one Turtle document to (s, p, o) term triples. */
  def parse(content: String): Vector[(String, String, String)] =
    new Ttl(content, "").run().map { case (s, p, o, _) => (s, p, o) }

  /** Parse a TriG document (Turtle + named-graph blocks: `GRAPH <g>
    * { … }` or the short form `<g> { … }`) to (s, p, o, g) quads;
    * statements outside any block land in `defaultGraph`. Same
    * non-splittable whole-file contract as Turtle. */
  def parseTrig(content: String, defaultGraph: String): Vector[(String, String, String, String)] =
    new Ttl(content, defaultGraph).run()

  private final class Ttl(s: String, defaultGraph: String) {
    private var i = 0
    // the W3C core prefixes are PRE-BOUND (overridable by @prefix):
    // the reference's data-driven corpus contains documents using
    // rdfs:/owl: without declaring them, and Sesame-lineage loaders
    // accept that; a declared prefix always wins
    private var prefixes = Map(
      "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
      "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
      "owl" -> "http://www.w3.org/2002/07/owl#",
      "xsd" -> "http://www.w3.org/2001/XMLSchema#")
    private var base = ""
    private var bn = 0
    private var curGraph = defaultGraph
    private val out = Vector.newBuilder[(String, String, String, String)]
    // bnode identity is DOCUMENT-scoped (RDF 1.1 §3.4; Rio mints fresh
    // ids per parse): scope every label — generated and explicit — by
    // a content hash so multi-file loads and repeated LOADs into one
    // store never alias distinct nodes. Deterministic (same doc →
    // same labels), so oracles stay exact after display normalization
    // (strip `_:<16hex>-`).
    private val docScope = Scope.of(s)

    def run(): Vector[(String, String, String, String)] = {
      skip()
      while (i < s.length) { directiveOrStatement(); skip() }
      out.result()
    }

    private def skip(): Unit = {
      var go = true
      while (go) {
        while (i < s.length && s(i).isWhitespace) i += 1
        if (i < s.length && s(i) == '#') {
          while (i < s.length && s(i) != '\n') i += 1
        } else go = false
      }
    }

    private def fail(msg: String): Nothing = {
      val ctx = s.substring(math.max(0, i - 25), math.min(s.length, i + 25))
      sys.error(s"turtle: $msg at offset $i near '...$ctx...'")
    }

    private def expect(c: Char): Unit = {
      skip()
      if (i >= s.length || s(i) != c) fail(s"expected '$c'")
      i += 1
    }

    private def peekIs(c: Char): Boolean = { skip(); i < s.length && s(i) == c }

    /** Bare word (prefixed name / keyword / number). A trailing '.' is
      * the statement terminator unless the word is a decimal. */
    private def word(): String = {
      skip()
      val st = i
      while (i < s.length && !s(i).isWhitespace && !"<>\"[];,(){}#".contains(s(i))) i += 1
      var w = s.substring(st, i)
      if (w.length > 1 && w.endsWith(".") && !w.matches("""[-+]?[0-9]*\.[0-9]+""")) {
        w = w.dropRight(1); i -= 1
      }
      if (w.isEmpty) fail("empty term")
      w
    }

    private def iriRef(): String = {
      skip()
      if (i >= s.length || s(i) != '<') fail("expected <iri>")
      val end = s.indexOf('>', i + 1)
      if (end < 0) fail("unterminated IRI")
      val iri = s.substring(i + 1, end)
      i = end + 1
      iri
    }

    private def intern(iri: String): String = Lexicon.intern(iri, base)

    /** Prefixed-name expansion; `_:label` bnodes rescope to the
      * document; undeclared-prefix terms (already-internal lexicon
      * forms like `c:42`) pass through. */
    private def pname(w: String): String = {
      if (w.startsWith("_:")) return "_:" + docScope + "-" + w.drop(2)
      val idx = w.indexOf(':')
      if (idx >= 0 && prefixes.contains(w.substring(0, idx)))
        intern(prefixes(w.substring(0, idx)) + w.substring(idx + 1))
      else w
    }

    private def directiveOrStatement(): Unit = {
      if (s.startsWith("@prefix", i)) { i += 7; prefixDecl(dot = true) }
      else if (s.startsWith("@base", i)) { i += 5; baseDecl(dot = true) }
      else if (s.regionMatches(true, i, "PREFIX ", 0, 7)) { i += 6; prefixDecl(dot = false) }
      else if (s.regionMatches(true, i, "BASE ", 0, 5)) { i += 4; baseDecl(dot = false) }
      else if (s.regionMatches(true, i, "GRAPH", 0, 5) &&
               i + 5 < s.length && s(i + 5).isWhitespace) {
        i += 5
        graphBlock(nodeTerm(allowLiteral = false))
      } else if (s(i) == '{') {
        // TriG anonymous block `{ … }`: the DEFAULT graph's statements
        // (TriG [5g] — a wrappedGraph with no label)
        graphBlock(defaultGraph)
      } else if (s(i) == '<' || s(i).isLetter || s(i) == '_' || s(i) == ':') {
        // TriG short form `<g> { … }`: lookahead — an IRI/pname
        // followed by '{' labels a graph block, otherwise it was a
        // subject (nodeTerm for those shapes emits nothing, so the
        // position restore is safe)
        val mark = i
        val t = nodeTerm(allowLiteral = false)
        if (peekIs('{')) graphBlock(t)
        else { i = mark; statement() }
      } else statement()
    }

    /** `GRAPH? label { statements }` — statements inside carry the
      * block's graph label (TriG [2g]); an optional trailing '.' is
      * tolerated. */
    private def graphBlock(label: String): Unit = {
      expect('{')
      curGraph = label
      while (!peekIs('}')) statement()
      expect('}')
      curGraph = defaultGraph
      if (peekIs('.')) i += 1
    }

    private def prefixDecl(dot: Boolean): Unit = {
      var p = word()
      // whitespace between the prefix label and ':' is tolerated
      // (lenient like the reference's Sesame parser)
      if (!p.endsWith(":") && peekIs(':')) { i += 1; p += ":" }
      if (!p.endsWith(":")) fail(s"prefix declaration needs 'pfx:', got '$p'")
      prefixes += (p.dropRight(1) -> iriRef())
      if (dot) expect('.')
    }

    private def baseDecl(dot: Boolean): Unit = {
      base = iriRef()
      if (dot) expect('.')
    }

    private def statement(): Unit = {
      val subj = nodeTerm(allowLiteral = false)
      // `[ p o ] .` is a complete statement on its own
      if (!peekIs('.') && !peekIs('}')) predObjList(subj)
      // the '.' after a graph block's LAST statement is optional
      // (TriG [6g] wrappedGraph: triplesBlock '.'-separated, final
      // terminator omitted before '}')
      if (peekIs('.')) { skip(); i += 1 } else if (!peekIs('}')) expect('.')
    }

    private def predObjList(subj: String): Unit = {
      var go = true
      while (go) {
        val p = verb()
        objectList(subj, p)
        if (peekIs(';')) {
          i += 1
          // tolerate a trailing ';' before '.' or ']'
          if (peekIs('.') || peekIs(']')) go = false
        } else go = false
      }
    }

    private def verb(): String = {
      skip()
      if (i < s.length && s(i) == '<') intern(iriRef())
      else {
        val w = word()
        if (w == "a") "type" else pname(w)
      }
    }

    private def objectList(subj: String, p: String): Unit = {
      var go = true
      while (go) {
        out += ((subj, p, nodeTerm(allowLiteral = true), curGraph))
        if (peekIs(',')) i += 1 else go = false
      }
    }

    private def nodeTerm(allowLiteral: Boolean): String = {
      skip()
      if (i >= s.length) fail("unexpected end of input")
      s(i) match {
        case '<' => intern(iriRef())
        case '[' =>
          i += 1
          bn += 1
          val id = s"_:$docScope-gen$bn"
          if (!peekIs(']')) predObjList(id)
          expect(']')
          id
        case '(' =>
          // RDF collection [Turtle 1.1 §2.8]: desugars to an
          // rdf:first/rdf:rest chain of doc-scoped bnodes; () is rdf:nil
          i += 1
          val items = Vector.newBuilder[String]
          while (!peekIs(')')) items += nodeTerm(allowLiteral = true)
          expect(')')
          collection(items.result())
        case '"' =>
          if (!allowLiteral) fail("literal in subject/predicate position")
          literal()
        case _ =>
          word() match {
            case w @ ("true" | "false") => w
            case n if n.matches("""[-+]?[0-9]+|[-+]?[0-9]*\.[0-9]+([eE][-+]?[0-9]+)?""") => n
            case other => pname(other)
          }
      }
    }

    /** Emit a collection's first/rest spine; returns its head node
      * (rdf:nil when empty). The JSON-LD `@list` and RDF/XML
      * `parseType="Collection"` walkers apply the SAME desugar rule
      * against their own builders (each walker owns its bnode counter
      * and output sink, so the spine loop is repeated per walker, not
      * shared). */
    private def collection(items: Vector[String]): String =
      if (items.isEmpty) Turtle.RdfNil
      else {
        val nodes = items.map { _ => bn += 1; s"_:$docScope-gen$bn" }
        for (idx <- items.indices) {
          out += ((nodes(idx), Turtle.RdfFirst, items(idx), curGraph))
          out += ((nodes(idx), Turtle.RdfRest,
            if (idx == items.length - 1) Turtle.RdfNil else nodes(idx + 1), curGraph))
        }
        nodes.head
      }

    private def literal(): String = {
      val lex =
        try { val (l, after) = Lexicon.scanString(s, i); i = after; l }
        catch { case e: RuntimeException => fail(e.getMessage) }
      if (i < s.length && s(i) == '@') {
        i += 1
        val st = i
        while (i < s.length && (s(i).isLetterOrDigit || s(i) == '-')) i += 1
        graft.sparql.RdfLiteral.tagged(lex, s.substring(st, i))
      } else if (s.startsWith("^^", i)) {
        i += 2
        val dt = if (i < s.length && s(i) == '<') intern(iriRef()) else pname(word())
        // xsd:dateTime lexical forms normalize to canonical UTC at the
        // lexicon boundary — the reference stores dateTimes by instant
        // and renders the canonical form (its DateTimeExtension), so
        // "…T08:53:25-04:00" and "…T12:53:25.000Z" are ONE term
        val lex2 =
          if (dt == "http://www.w3.org/2001/XMLSchema#dateTime")
            Turtle.canonicalDateTime(lex)
          else lex
        graft.sparql.RdfLiteral.typed(lex2, dt)
      } else lex
    }
  }
}

/** Document scope for blank-node labels: a deterministic 16-hex
  * (64-bit) content hash shared by every whole-file parser
  * (Turtle/TriG, RDF/XML, JSON-LD) — same document, same labels;
  * 64 bits keeps the cross-document collision (= silent bnode
  * aliasing) probability negligible even at 100M-file corpora (32
  * bits would hit the birthday bound at ~77k files). Display
  * normalization strips `_:<16hex>-`. */
private[rdf] object Scope {
  def of(content: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(content.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
}
