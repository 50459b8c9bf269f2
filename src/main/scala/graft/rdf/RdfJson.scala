package graft.rdf

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** RDF/JSON (Talis) parser for the LOAD path — the resource-centric
  * JSON triple serialization the reference ingests through Rio's
  * RDFJSONParser (openrdf RDFFormat.RDFJSON; W3C Note "RDF 1.1 JSON
  * Alternate Serialization"):
  *
  * {{{ { "<subject>": { "<predicate>": [ {"value": …, "type":
  *       "uri"|"literal"|"bnode", "lang": …, "datatype": …} ] } } }}}
  *
  * Subjects/objects of type `bnode` carry `_:`-prefixed labels,
  * document-scoped like every other loader; IRIs intern via [[Lexicon]];
  * literals land as the [[graft.sparql.RdfLiteral]] term forms
  * (`lang` → tagged, `datatype` → typed; per the spec a value carries
  * at most one of the two). Whole-file parse per task, distributed
  * across files — JSON is not splittable. */
object RdfJson {

  private val mapper = new ObjectMapper()

  /** Parse one RDF/JSON document to (s, p, o) term triples. */
  def parse(content: String): Vector[(String, String, String)] = {
    val docScope = Scope.of(content)
    def node(id: String): String =
      if (id.startsWith("_:")) "_:" + docScope + "-" + id.drop(2)
      else Lexicon.intern(id)
    def obj(v: JsonNode): String = {
      val value = Option(v.get("value")).map(_.asText())
        .getOrElse(sys.error("rdf/json: object without \"value\""))
      v.path("type").asText("literal") match {
        case "uri"   => Lexicon.intern(value)
        // the spec prefixes bnode values with "_:"; accept bare labels
        case "bnode" => node(if (value.startsWith("_:")) value else "_:" + value)
        case "literal" =>
          val lang = Option(v.get("lang")).map(_.asText()).filter(_.nonEmpty)
          val dt = Option(v.get("datatype")).map(_.asText()).filter(_.nonEmpty)
          dt.map(d => graft.sparql.RdfLiteral.typed(value, Lexicon.intern(d)))
            .orElse(lang.map(graft.sparql.RdfLiteral.tagged(value, _)))
            .getOrElse(value)
        case other => sys.error(s"rdf/json: unknown object type '$other'")
      }
    }
    val root = mapper.readTree(content)
    if (!root.isObject) sys.error("rdf/json: document root must be a JSON object")
    val out = Vector.newBuilder[(String, String, String)]
    root.fields().asScala.foreach { se =>
      val s = node(se.getKey)
      if (!se.getValue.isObject)
        sys.error(s"rdf/json: subject '${se.getKey}' must map to an object")
      se.getValue.fields().asScala.foreach { pe =>
        val p = Lexicon.intern(pe.getKey)
        if (!pe.getValue.isArray)
          sys.error(s"rdf/json: predicate '${pe.getKey}' must map to an array")
        pe.getValue.elements().asScala.foreach(v => out += ((s, p, obj(v))))
      }
    }
    out.result()
  }
}
