package graft.rdf

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Element, Node}

/** Pragmatic RDF/XML parser for the LOAD path — the reference's
  * original Rio ingest format (bigdata-core/bigdata-rdf/src/java/com/
  * bigdata/rdf/rio/ wires Rio's RDFXMLParser; legacy ontologies and
  * OWL files ship as RDF/XML more often than any other syntax).
  *
  * Covers the everyday grammar (W3C RDF/XML Syntax spec):
  * `rdf:RDF` root, `rdf:Description` and typed node elements,
  * `rdf:about` / `rdf:ID` / `rdf:nodeID`, property elements with
  * `rdf:resource` / `rdf:nodeID` / nested node elements /
  * `rdf:parseType="Resource"`, property attributes, `rdf:datatype`
  * typed literals and inherited `xml:lang` tags (landing as the
  * [[graft.sparql.RdfLiteral]] term forms), `xml:base` resolution,
  * container items `rdf:li` → `rdf:_n`, `parseType="Collection"`
  * (desugared to rdf:first/rdf:rest chains, §7.2.19), and
  * `parseType="Literal"` (XML literals → rdf:XMLLiteral typed terms,
  * §7.2.17). Parsing uses the JDK's namespace-aware DOM — no
  * external dependency.
  *
  * Scale: XML is not splittable — one file parses in one task,
  * distributed ACROSS files, the same per-file contract as Turtle
  * ([[Turtle]]) and the reference's stream parse. Bulk ingest belongs
  * in parquet / N-Triples; .rdf LOAD is the ontology-sized path.
  */
object RdfXml {

  private val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

  /** Parse one RDF/XML document to (s, p, o) term triples. */
  def parse(content: String): Vector[(String, String, String)] = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    // untrusted-ingest hardening: no DOCTYPE at all (kills XXE file
    // disclosure, SSRF, and entity-expansion DoS), no external
    // entities even if a parser ignores the first flag, and the JDK
    // secure-processing limits as a backstop.
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setFeature("http://xml.org/sax/features/external-general-entities", false)
    f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
    f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
    f.setFeature(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
    f.setXIncludeAware(false)
    f.setExpandEntityReferences(false)
    val doc = f.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(content.getBytes("UTF-8")))
    new Walk(Scope.of(content)).run(doc.getDocumentElement)
  }

  /** `docScope` scopes every bnode label to the document (RDF 1.1
    * §3.4 — see [[Scope]]). */
  private final class Walk(docScope: String) {
    private var bn = 0
    private val out = Vector.newBuilder[(String, String, String)]

    /** One Transformer per document walk (factory lookup is service
      * discovery — per-element construction would pay it N times). */
    private lazy val xmlSerializer = {
      val tf = javax.xml.transform.TransformerFactory.newInstance()
      tf.setFeature(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
      val t = tf.newTransformer()
      t.setOutputProperty(javax.xml.transform.OutputKeys.OMIT_XML_DECLARATION, "yes")
      t
    }

    def run(root: Element): Vector[(String, String, String)] = {
      val base = Option(root.getAttribute("xml:base")).filter(_.nonEmpty).getOrElse("")
      val lang = Option(root.getAttribute("xml:lang")).filter(_.nonEmpty)
      if (root.getNamespaceURI == RdfNs && root.getLocalName == "RDF")
        childElements(root).foreach(nodeElement(_, base, lang))
      else nodeElement(root, base, lang) // a single node element as root
      out.result()
    }

    private def fail(msg: String): Nothing = sys.error(s"rdfxml: $msg")

    /** Namespace-less elements would concatenate into `null`-prefixed
      * terms — fail loud per the module contract. */
    private def nsOf(e: Element): String = {
      val ns = e.getNamespaceURI
      if (ns == null) fail(s"element '${e.getNodeName}' has no namespace")
      ns
    }

    private def childElements(e: Element): Vector[Element] = {
      val ns = e.getChildNodes
      (0 until ns.getLength).collect {
        case i if ns.item(i).getNodeType == Node.ELEMENT_NODE =>
          ns.item(i).asInstanceOf[Element]
      }.toVector
    }

    private def textContent(e: Element): String = e.getTextContent

    private def attr(e: Element, local: String): Option[String] =
      Option(e.getAttributeNS(RdfNs, local)).filter(_.nonEmpty)

    private def freshBnode(): String = { bn += 1; s"_:$docScope-gen$bn" }

    /** xml:lang inherits from ancestors; an explicit `xml:lang=""`
      * RESETS it (XML 1.0 §2.12). */
    private def inherited(e: Element, lang: Option[String]): Option[String] =
      if (e.hasAttribute("xml:lang"))
        Option(e.getAttribute("xml:lang")).filter(_.nonEmpty)
      else lang

    private def inheritedBase(e: Element, base: String): String =
      Option(e.getAttribute("xml:base")).filter(_.nonEmpty).getOrElse(base)

    /** A node element: subject from about/ID/nodeID (else a fresh
      * bnode); a non-Description element name asserts rdf:type;
      * non-syntax attributes are property attributes; children are
      * property elements. Returns the subject term. */
    private def nodeElement(e: Element, base0: String, lang0: Option[String]): String = {
      val base = inheritedBase(e, base0)
      val lang = inherited(e, lang0)
      val subj = attr(e, "about").map(Lexicon.intern(_, base))
        .orElse(attr(e, "ID").map(id => Lexicon.intern(base + "#" + id, base)))
        .orElse(attr(e, "nodeID").map("_:" + docScope + "-" + _))
        .getOrElse(freshBnode())
      if (!(nsOf(e) == RdfNs && e.getLocalName == "Description"))
        out += ((subj, "type", Lexicon.intern(nsOf(e) + e.getLocalName, base)))
      propertyAttributes(e, subj, base, lang)
      var li = 0
      childElements(e).foreach { pe =>
        val (p, n) = predicateOf(pe, base, li)
        li = n
        propertyElement(pe, subj, p, base, lang)
      }
      subj
    }

    /** Property-attribute abbreviation: any attribute outside the
      * rdf:/xml: syntax space asserts a plain-literal statement. */
    private def propertyAttributes(e: Element, subj: String, base: String,
                                   lang: Option[String]): Unit = {
      val as = e.getAttributes
      (0 until as.getLength).foreach { i =>
        val a = as.item(i)
        val ns = Option(a.getNamespaceURI).getOrElse("")
        val isSyntax = ns == RdfNs || ns == "http://www.w3.org/XML/1998/namespace" ||
          ns == "http://www.w3.org/2000/xmlns/" || a.getNodeName.startsWith("xml")
        if (!isSyntax && ns.nonEmpty)
          out += ((subj, Lexicon.intern(ns + a.getLocalName, base), literal(a.getNodeValue, lang, None)))
      }
    }

    /** `rdf:li` numbers container members `rdf:_1`, `rdf:_2`, … in
      * document order; everything else is its expanded name. */
    private def predicateOf(pe: Element, base: String, li: Int): (String, Int) =
      if (pe.getNamespaceURI == RdfNs && pe.getLocalName == "li")
        (Lexicon.intern(RdfNs + "_" + (li + 1), base), li + 1)
      else (Lexicon.intern(nsOf(pe) + pe.getLocalName, base), li)

    private def literal(lex: String, lang: Option[String], dt: Option[String]): String =
      dt.map(graft.sparql.RdfLiteral.typed(lex, _))
        .orElse(lang.map(graft.sparql.RdfLiteral.tagged(lex, _)))
        .getOrElse(lex)

    private def propertyElement(pe: Element, subj: String, p: String,
                                base0: String, lang0: Option[String]): Unit = {
      val base = inheritedBase(pe, base0)
      val lang = inherited(pe, lang0)
      val kids = childElements(pe)
      (attr(pe, "parseType"), attr(pe, "resource"), attr(pe, "nodeID")) match {
        case (Some("Resource"), _, _) =>
          // omitted node element: a fresh bnode whose property elements
          // are this element's children
          val b = freshBnode()
          out += ((subj, p, b))
          var li = 0
          kids.foreach { inner =>
            val (ip, n) = predicateOf(inner, base, li)
            li = n
            propertyElement(inner, b, ip, base, lang)
          }
        case (Some("Collection"), _, _) =>
          // RDF/XML §7.2.19: the child node elements form an RDF
          // collection — the same rdf:first/rdf:rest desugar as a
          // Turtle `( … )`; empty → rdf:nil
          val items = kids.map(nodeElement(_, base, lang))
          if (items.isEmpty) out += ((subj, p, Turtle.RdfNil))
          else {
            val nodes = items.map(_ => freshBnode())
            out += ((subj, p, nodes.head))
            for (idx <- items.indices) {
              out += ((nodes(idx), Turtle.RdfFirst, items(idx)))
              out += ((nodes(idx), Turtle.RdfRest,
                if (idx == items.size - 1) Turtle.RdfNil else nodes(idx + 1)))
            }
          }
        case (Some("Literal"), _, _) =>
          // RDF/XML §7.2.17: the element content is an XML literal —
          // serialized markup as the lexical form, typed
          // rdf:XMLLiteral. (Spec canonicalization is exclusive C14N;
          // we serialize the DOM nodes directly — equal documents
          // parse equal here, which is the contract queries need.)
          val sw = new java.io.StringWriter()
          val ns = pe.getChildNodes
          (0 until ns.getLength).foreach { i =>
            xmlSerializer.transform(new javax.xml.transform.dom.DOMSource(ns.item(i)),
              new javax.xml.transform.stream.StreamResult(sw))
          }
          out += ((subj, p,
            graft.sparql.RdfLiteral.typed(sw.toString, RdfNs + "XMLLiteral")))
        case (Some(other), _, _) =>
          fail(s"parseType=\"$other\" is not supported")
        case (None, Some(res), _) =>
          out += ((subj, p, Lexicon.intern(res, base)))
          propertyAttributes(pe, Lexicon.intern(res, base), base, lang)
        case (None, None, Some(id)) =>
          out += ((subj, p, "_:" + docScope + "-" + id))
        case (None, None, None) if kids.nonEmpty =>
          // nested node element(s)
          kids.foreach(k => out += ((subj, p, nodeElement(k, base, lang))))
        case _ =>
          out += ((subj, p, literal(textContent(pe), lang,
            attr(pe, "datatype").map(Lexicon.intern(_, base)))))
      }
    }
  }
}
