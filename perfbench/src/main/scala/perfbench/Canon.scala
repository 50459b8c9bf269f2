package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Canonical answer of a response: rows of strings with the columns in
  * sorted name order and the rows sorted. IRIs of the engine's base
  * namespace lose the base, so answers compare with the store's own
  * term strings (`c:42`). */
object Canon {
  private val mapper = new ObjectMapper()
  private val Base = graft.sparql.Parser.Base
  private val RdfType = graft.sparql.Parser.RdfTypeIri
  type Rows = Vector[Vector[String]]

  private def local(iri: String): String =
    if (iri == RdfType) "type" else iri.stripPrefix(Base)

  def apply(kind: String, body: String): Rows = kind match {
    case "ask"   => Vector(Vector(mapper.readTree(body).get("boolean").asBoolean.toString))
    case "graph" => nTriples(body)
    case _       => sparqlJson(body)
  }

  def sparqlJson(body: String): Rows = {
    val root = mapper.readTree(body)
    val vars = root.get("head").get("vars").elements().asScala.map(_.asText).toVector.sorted
    root.get("results").get("bindings").elements().asScala.map { b =>
      vars.map { v =>
        val t = b.get(v)
        if (t == null) "NULL"
        else if (t.get("type").asText == "uri") local(t.get("value").asText)
        else t.get("value").asText
      }
    }.toVector.sorted(rowOrder)
  }

  /** N-Triples lines as (o, p, s) rows — the sorted order of s, p, o. */
  def nTriples(body: String): Rows =
    body.split('\n').iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val (s, r1) = term(line)
      val (p, r2) = term(r1)
      val (o, _) = term(r2)
      Vector(o, p, s)
    }.toVector.sorted(rowOrder)

  private def term(in: String): (String, String) = {
    val t = in.dropWhile(_ == ' ')
    if (t.startsWith("<")) {
      val e = t.indexOf('>')
      (local(t.substring(1, e)), t.substring(e + 1))
    } else if (t.startsWith("\"")) {
      val sb = new StringBuilder
      var i = 1
      while (t.charAt(i) != '"') {
        if (t.charAt(i) == '\\') {
          i += 1
          sb += (t.charAt(i) match { case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'; case c => c })
        } else sb += t.charAt(i)
        i += 1
      }
      (sb.toString, t.substring(i + 1))
    } else {
      val e = t.indexOf(' ')
      if (e < 0) (t, "") else (t.substring(0, e), t.substring(e))
    }
  }

  val rowOrder: Ordering[Vector[String]] =
    Ordering.Implicits.seqOrdering[Vector, String]

  def toJsonLines(rows: Rows): String = rows.map(r => Json(r)).mkString("", "\n", "\n")
}
