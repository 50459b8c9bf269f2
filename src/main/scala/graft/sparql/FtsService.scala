package graft.sparql

import java.net.URLEncoder

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** `SERVICE fts:search { … }` — the EXTERNAL full-text search service
  * (the reference's FulltextSearchServiceFactory, default-registered
  * at ServiceRegistry.java:135, dispatching to a Solr instance via
  * SolrFulltextSearchImpl): magic predicates on ONE search variable
  * configure an HTTP query against an external index, and the
  * response's documents bind the variable (plus optional score and
  * snippet variables) as a solution relation joined into the
  * enclosing group.
  *
  * {{{
  *   SELECT ?res ?score ?snippet WHERE {
  *     SERVICE fts:search {
  *       ?res fts:search "blue" .
  *       ?res fts:endpoint "http://solr.host:8983/solr/core/select" .
  *       ?res fts:params "defType=dismax" .
  *       ?res fts:searchResultType "LITERAL" .
  *       ?res fts:searchField "id" .
  *       ?res fts:scoreField "score" .   ?res fts:score ?score .
  *       ?res fts:snippetField "snip" .  ?res fts:snippet ?snippet .
  *     }
  *   }
  * }}}
  *
  * Request/response contract mirrors SolrFulltextSearchImpl: GET
  * `endpoint?q=<query>&wt=json&<params>` (a user `wt` param is
  * dropped — the JSON writer is load-bearing), non-200 fails LOUD,
  * hits live at `response.docs[]`; the search field is REQUIRED on
  * every doc (reference: "Search field undefined, empty, or does not
  * exist"), score/snippet fields bind null when absent, array-valued
  * fields flatten by concatenation (flattenJsonResult). In
  * `searchResultType=URI` mode (reference default is LITERAL) a doc
  * whose value is not IRI-shaped FAILS LOUD — the reference throws
  * FulltextSearchException.TYPE_CAST_EXCEPTION when vf.createURI
  * rejects the value (FulltextSearchServiceFactory.java:558-567).
  *
  * Scale note: like every federated SERVICE the result materializes
  * on the driver (one HTTP response body) and joins distributed; the
  * external index owns the search cost. The JDK HttpClient transport
  * is the [[RemoteService]] pattern — loopback-tested against a stub
  * Solr JSON server (no egress in this sandbox).
  */
object FtsService {

  private val mapper = new ObjectMapper()

  /** Deployment-level default for `fts:endpoint`
    * (FTS.Options.FTS_ENDPOINT: "to be used whenever the endpoint is
    * left unspecified"); queries may override per search. */
  @volatile var defaultEndpoint: Option[String] = None

  /** The service group's search-TERM variable, when the query passes
    * the search string by variable (`?res fts:search ?term`) — the
    * reference's multi-request injection form, legal only under
    * `hint:Prior hint:runLast` (Compiler.ftsInjectJoin). */
  private[sparql] def varSearchTerm(inner: Algebra): Option[String] =
    inner match {
      case Bgp(ps @ _*) => ps.collectFirst {
        case TriplePattern(_, Const("fts:search"), Var(t)) => t
      }
      case _ => None
    }

  /** The service group with its variable search term replaced by ONE
    * injected constant binding. */
  private[sparql] def withConstSearch(inner: Algebra, termVar: String,
                                      value: String): Algebra =
    inner match {
      case Bgp(ps @ _*) => Bgp(ps.map {
        case TriplePattern(s, p @ Const("fts:search"), Var(`termVar`)) =>
          TriplePattern(s, p, Const(value))
        case p => p
      }: _*)
      case other => other
    }

  private val ValueOpts = Set("fts:search", "fts:endpoint",
    "fts:endpointType", "fts:params", "fts:searchResultType",
    "fts:timeout", "fts:searchField", "fts:scoreField", "fts:snippetField")
  private val OutputOpts = Set("fts:score", "fts:snippet")

  private[sparql] val handler: ServiceRegistry.Handler = (inner, src) => {
    val pats = inner match {
      case Bgp(ps @ _*) => ps
      case other => sys.error(
        // the reference rejects group operators inside the service
        // group the same way (FulltextSearchServiceFactory:193)
        s"SERVICE fts:search: nested groups are not allowed, got $other")
    }
    val bySubject = pats.groupBy(_.s)
    require(bySubject.size == 1,
      s"SERVICE fts:search expects ONE search variable, got ${bySubject.size}")
    val (subj, ps) = bySubject.head
    val outVar = subj match {
      case Var(n) => n
      case other  => sys.error(s"fts:search subject must be a variable, got $other")
    }
    ps.foreach {
      case TriplePattern(_, Const(p), o) if ValueOpts(p) => o match {
        case Const(_) => ()
        case other    => sys.error(s"$p object is not a literal (got $other)")
      }
      case TriplePattern(_, Const(p), o) if OutputOpts(p) => o match {
        case Var(_) => ()
        case other  => sys.error(s"$p object must be a variable (got $other)")
      }
      case TriplePattern(_, p, _) => sys.error(s"Unknown search predicate: $p")
    }
    def cOpt(name: String): Option[String] = ps.collectFirst {
      case TriplePattern(_, Const(p), Const(o)) if p == name => o
    }
    def vOpt(name: String): Option[String] = ps.collectFirst {
      case TriplePattern(_, Const(p), Var(o)) if p == name => o
    }
    val query = cOpt("fts:search").getOrElse(
      sys.error("SERVICE fts:search needs a '?v fts:search \"query\"' pattern"))
    // reject-loud BEFORE dialing: an empty search string or endpoint is
    // a request error, never an HTTP call (the reference's
    // FulltextSearchServiceFactory validation)
    require(query.trim.nonEmpty, "SERVICE fts:search: empty search string")
    val endpoint = cOpt("fts:endpoint").orElse(defaultEndpoint).getOrElse(
      sys.error("fts:endpoint not specified (and no default endpoint configured)"))
    require(endpoint.trim.nonEmpty, "SERVICE fts:search: empty fts:endpoint")
    cOpt("fts:endpointType").foreach(t => require(t.equalsIgnoreCase("SOLR"),
      s"fts:endpointType: only SOLR is supported, got $t"))
    val resultType = cOpt("fts:searchResultType").getOrElse("LITERAL") match {
      case t if t.equalsIgnoreCase("URI")     => "URI"
      case t if t.equalsIgnoreCase("LITERAL") => "LITERAL"
      case t => sys.error(s"fts:searchResultType must be URI or LITERAL, got $t")
    }
    val timeoutMs = cOpt("fts:timeout").map(_.toInt).getOrElse(30000)
    val searchField = cOpt("fts:searchField").getOrElse("id") // the Solr default
    val scoreField = cOpt("fts:scoreField")
    val snippetField = cOpt("fts:snippetField")
    val spark = src.triples.sparkSession
    val body = httpGet(
      solrUrl(endpoint, query, cOpt("fts:params").getOrElse("")), timeoutMs)
    parseSolrResponse(spark, body, outVar, resultType, searchField,
      scoreField, snippetField, vOpt("fts:score"), vOpt("fts:snippet"))
  }

  /** `endpoint?q=…&wt=json&…params` — a user-supplied `wt` is dropped
    * (SolrFulltextSearchImpl skips it too); param values arrive
    * URL-encoded per Solr convention, decode-then-reencode normalizes
    * them, and an unsplittable `k=v` pair is ignored with the
    * reference's leniency. */
  private[sparql] def solrUrl(endpoint: String, query: String, params: String): String = {
    val enc = (s: String) => URLEncoder.encode(s, "UTF-8")
    val extra = params.split("&").toSeq.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=") match {
        case Array(k, v) if k.nonEmpty && !k.equals("wt") =>
          // an undecodable value is skipped, the reference's leniency
          try Some(s"${enc(k)}=${enc(graft.server.SparqlServer.Request.decode(v))}")
          catch { case _: Exception => None }
        case _ => None
      }
    }
    val sep = if (endpoint.contains("?")) "&" else "?"
    (Seq(s"$endpoint${sep}q=${enc(query)}", "wt=json") ++ extra).mkString("&")
  }

  private def httpGet(url: String, timeoutMs: Int): String = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs.toLong)).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs.toLong))
      .header("Accept", "application/json")
      .GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"Status code != 200 received from external fulltext service: ${resp.statusCode()}")
    resp.body()
  }

  /** Solr select JSON → solutions. Columns: the search variable
    * (string), plus score (double) / snippet (string) when asked. */
  private[sparql] def parseSolrResponse(spark: SparkSession, json: String,
                                        outVar: String, resultType: String,
                                        searchField: String,
                                        scoreField: Option[String],
                                        snippetField: Option[String],
                                        scoreVar: Option[String],
                                        snippetVar: Option[String]): DataFrame = {
    val docs = mapper.readTree(json).path("response").path("docs")
    require(docs.isArray,
      s"external fulltext service returned no response.docs array: ${json.take(160)}")
    def flatten(n: com.fasterxml.jackson.databind.JsonNode): String =
      if (n.isArray) n.elements().asScala.map(_.asText()).mkString
      else n.asText()
    val rows = docs.elements().asScala.flatMap { d =>
      require(d.has(searchField) && !flatten(d.get(searchField)).isEmpty,
        "Search field undefined, empty, or does not exist: " + searchField)
      val value = flatten(d.get(searchField))
      val score: Any = scoreField.filter(d.has(_)).map { f =>
        val s = flatten(d.get(f))
        try java.lang.Double.valueOf(s) catch { case _: NumberFormatException => null }
      }.orNull
      val snippet = snippetField.filter(d.has(_)).map(f => flatten(d.get(f))).orNull
      // URI mode: a non-IRI-shaped value is a LOUD type-cast error —
      // the reference throws FulltextSearchException.TYPE_CAST_EXCEPTION
      // when vf.createURI rejects the hit value
      // (FulltextSearchServiceFactory.java:558-567; the corpus'
      // fts-typeCastException case asserts the failure)
      if (resultType == "URI" && !graft.rdf.Lexicon.isIri(value))
        sys.error("Type cast exception: search result value is not a " +
          s"URI under fts:searchResultType URI: $value")
      Some(Row.fromSeq(
        Seq(value) ++ scoreVar.map(_ => score) ++ snippetVar.map(_ => snippet)))
    }.toSeq
    val schema = StructType(
      Seq(StructField(outVar, StringType, nullable = false)) ++
        scoreVar.map(v => StructField(v, DoubleType, nullable = true)) ++
        snippetVar.map(v => StructField(v, StringType, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
