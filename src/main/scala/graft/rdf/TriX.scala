package graft.rdf

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Element, Node}

/** TriX parser for the LOAD path — the XML quad serialization the
  * reference ingests through Rio's TriXParser (openrdf
  * RDFFormat.TRIX; bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/
  * rio/ wires every Rio format, and the REST data servlet accepts
  * application/trix).
  *
  * Grammar (Carroll & Stickler, "TriX: RDF Triples in XML"):
  * `<TriX>` root holding `<graph>` blocks; a graph's optional leading
  * `<uri>`/`<id>` names it (absent → the default graph), then
  * `<triple>` elements of exactly three term children —
  * `<uri>` (IRIs, interned like every other loader via [[Lexicon]]),
  * `<id>` (blank nodes, document-scoped labels like Turtle/RDF-XML),
  * `<plainLiteral>` (optional `xml:lang` → tagged term) and
  * `<typedLiteral datatype=…>` (typed term). The DOM setup carries
  * the same untrusted-ingest hardening as [[RdfXml]].
  *
  * Scale: XML is not splittable — one file parses in one task,
  * distributed ACROSS files (the per-file contract of every
  * whole-file loader here). Bulk quads belong in N-Quads/parquet.
  */
object TriX {

  private val Ns = "http://www.w3.org/2004/03/trix/trix-1/"

  /** Parse one TriX document to (s, p, o, g) term quads. */
  def parseQuads(content: String,
                 defaultGraph: String): Vector[(String, String, String, String)] = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setFeature("http://xml.org/sax/features/external-general-entities", false)
    f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
    f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
    f.setFeature(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
    f.setXIncludeAware(false)
    f.setExpandEntityReferences(false)
    val doc = f.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(content.getBytes("UTF-8")))
    val docScope = Scope.of(content)
    val root = doc.getDocumentElement
    if (root.getLocalName != "TriX" || root.getNamespaceURI != Ns)
      sys.error(s"trix: root is <${root.getTagName}> in namespace " +
        s"${root.getNamespaceURI}, expected <TriX> in $Ns")

    def kids(e: Element): Vector[Element] = {
      val nl = e.getChildNodes
      (0 until nl.getLength).iterator.map(nl.item)
        .collect { case el: Element => el }.toVector
    }
    def term(e: Element): String = e.getLocalName match {
      case "uri" => Lexicon.intern(e.getTextContent.trim)
      case "id"  => "_:" + docScope + "-" + e.getTextContent.trim
      case "plainLiteral" =>
        val lang = Option(e.getAttributeNS("http://www.w3.org/XML/1998/namespace", "lang"))
          .filter(_.nonEmpty)
        lang.fold(e.getTextContent)(graft.sparql.RdfLiteral.tagged(e.getTextContent, _))
      case "typedLiteral" =>
        val dt = e.getAttribute("datatype")
        if (dt.isEmpty) sys.error("trix: <typedLiteral> needs a datatype attribute")
        graft.sparql.RdfLiteral.typed(e.getTextContent, Lexicon.intern(dt))
      case other => sys.error(s"trix: unexpected term element <$other>")
    }

    val out = Vector.newBuilder[(String, String, String, String)]
    kids(root).foreach { g =>
      if (g.getLocalName != "graph") sys.error(s"trix: expected <graph>, got <${g.getLocalName}>")
      val children = kids(g)
      val (name, triples) = children.headOption match {
        case Some(e) if e.getLocalName == "uri" || e.getLocalName == "id" =>
          (term(e), children.tail)
        case _ => (defaultGraph, children)
      }
      triples.foreach { t =>
        if (t.getLocalName != "triple") sys.error(s"trix: expected <triple>, got <${t.getLocalName}>")
        val terms = kids(t)
        if (terms.length != 3) sys.error(s"trix: <triple> needs exactly 3 terms, got ${terms.length}")
        out += ((term(terms(0)), term(terms(1)), term(terms(2)), name))
      }
    }
    out.result()
  }
}
