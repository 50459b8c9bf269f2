package graft.sparql

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The remote half of SPARQL SERVICE federation — the HTTP transport
  * the reference implements in RemoteServiceCallImpl (bigdata-core/
  * .../sparql/ast/service/RemoteServiceCallImpl.java: render the
  * service group to SPARQL, POST it, parse the W3C results document).
  *
  * [[httpHandler]] builds a [[ServiceRegistry.RemoteHandler]] that
  * POSTs the SERVICE group's source text as a full SELECT query
  * (`application/sparql-query`, the SPARQL 1.1 Protocol direct-POST
  * form), accepts `application/sparql-results+json`, and parses the
  * bindings into a solutions DataFrame whose terms land in the
  * engine's string-term forms — the exact inverse of
  * [[graft.rdf.Serializer.sparqlJsonBindings]], so a graft endpoint
  * federates with a graft client losslessly (round-trip test-proven
  * against a loopback HTTP server).
  *
  * Scale note: a federated SERVICE result materializes on the driver
  * by nature — it arrives as one HTTP response body (the reference
  * buffers the same way). The enclosing query then joins it
  * distributed; SERVICE groups should select, as always, the small
  * side. JDK HttpClient — no new dependency.
  */
object RemoteService {

  private val mapper = new ObjectMapper()

  /** A RemoteHandler that POSTs the group text to `url`. Register it:
    * `ServiceRegistry.registerRemote(endpointIri,
    * RemoteService.httpHandler(spark, endpointUrl))`. */
  def httpHandler(spark: SparkSession, url: String,
                  timeoutMs: Int = 30000): ServiceRegistry.RemoteHandler = {
    groupText => {
      val query = "SELECT * WHERE " + groupText
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMs.toLong)).build()
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs.toLong))
        .header("Content-Type", "application/sparql-query")
        .header("Accept", "application/sparql-results+json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(query))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() / 100 == 2,
        s"SERVICE $url: HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
      parseJsonResults(spark, resp.body())
    }
  }

  /** Register an HTTP transport for `endpoint`, POSTing to the
    * endpoint IRI itself (the common case: the SERVICE IRI IS the
    * protocol URL). */
  def register(spark: SparkSession, endpoint: String, timeoutMs: Int = 30000): Unit =
    ServiceRegistry.registerRemote(endpoint, httpHandler(spark, endpoint, timeoutMs))

  /** W3C SPARQL JSON results document → solutions DataFrame (one
    * string column per `head.vars` entry, null for unbound). Term
    * conversion is the inverse of the engine's JSON results writer:
    * `uri` values intern ([[graft.rdf.Lexicon.intern]]), `bnode` labels regain
    * `_:`, literals with `xml:lang`/non-string `datatype` land as the
    * [[RdfLiteral]] tagged/typed term forms. */
  def parseJsonResults(spark: SparkSession, json: String): DataFrame = {
    val root = mapper.readTree(json)
    val vars = root.path("head").path("vars").elements().asScala.map(_.asText()).toSeq
    require(vars.nonEmpty, s"SPARQL results document without head.vars: ${json.take(120)}")
    val xsdString = "http://www.w3.org/2001/XMLSchema#string"
    val rows = root.path("results").path("bindings").elements().asScala.map { b =>
      val cells = vars.map { v =>
        if (!b.has(v)) null
        else {
          val t = b.get(v)
          val value = t.path("value").asText()
          t.path("type").asText() match {
            case "uri" => graft.rdf.Lexicon.intern(value)
            case "bnode" => "_:" + value
            case _ => // "literal" (and legacy "typed-literal")
              if (t.has("xml:lang")) RdfLiteral.tagged(value, t.get("xml:lang").asText())
              else if (t.has("datatype") && t.get("datatype").asText() != xsdString)
                RdfLiteral.typed(value, t.get("datatype").asText())
              else value
          }
        }
      }
      Row(cells: _*)
    }.toSeq
    val schema = StructType(vars.map(v => StructField(v, StringType, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
