package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.server.{RemoteRepository, SparqlServer}

/** REST management plane integration: data ingest, metadata ops,
  * status/cancel, durable namespaces, and the RemoteRepository client
  * — all over real loopback HTTP. */
class ServerSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_server").toString

  private val http = java.net.http.HttpClient.newHttpClient()
  private def send(b: java.net.http.HttpRequest.Builder) =
    http.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
  private def req(url: String) =
    java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
  private def post(url: String, body: String, ct: String) =
    send(req(url).header("Content-Type", ct)
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)))

  test("data POST: RDF document bodies land by content type; bad type fails loud") {
    val srv = new SparqlServer(Graft.empty(spark)).start()
    try {
      // Turtle body (InsertServlet analog) — modified count comes back
      val ttl = post(srv.address + "/sparql",
        """@prefix x: <urn:graft:x:> . x:1 x:label "gear" . x:2 x:label "cog" .""",
        "text/turtle")
      assert(ttl.statusCode() == 200 && ttl.body().contains("""modified="2""""))
      // N-Triples body into a named graph via context-uri
      val nt = post(srv.address + "/sparql?context-uri=" +
        java.net.URLEncoder.encode("urn:graft:g:extra", "UTF-8"),
        "<urn:graft:x:3> <urn:graft:x:label> \"axle\" .",
        "application/n-triples")
      assert(nt.statusCode() == 200 && nt.body().contains("""modified="1""""))
      // all three visible (union default graph); graph filter works
      val n = post(srv.address + "/sparql",
        "SELECT ?s WHERE { ?s <urn:graft:x:label> ?l }", "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, n.body()).count() == 3)
      val g = post(srv.address + "/sparql",
        "SELECT ?s WHERE { GRAPH <urn:graft:g:extra> { ?s ?p ?l } }",
        "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, g.body()).count() == 1)
      // an unparseable document is a loud 400, not silent data loss
      assert(post(srv.address + "/sparql", "this is not turtle @@@",
        "text/turtle").statusCode() == 400)
      // the round-14 Rio format tail negotiates too: TriX quads keep
      // their graph, RDF/JSON and N3 land as triples
      val trix = post(srv.address + "/sparql",
        """<?xml version="1.0"?>
          |<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">
          |  <graph><uri>urn:graft:g:tx</uri>
          |    <triple><uri>urn:graft:x:7</uri><uri>urn:graft:x:label</uri>
          |      <plainLiteral>crank</plainLiteral></triple>
          |  </graph>
          |</TriX>""".stripMargin, "application/trix")
      assert(trix.statusCode() == 200 && trix.body().contains("""modified="1""""),
        trix.body())
      val gtx = post(srv.address + "/sparql",
        "SELECT ?s WHERE { GRAPH <urn:graft:g:tx> { ?s ?p ?l } }",
        "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, gtx.body()).count() == 1)
      val rj = post(srv.address + "/sparql",
        """{"urn:graft:x:8": {"urn:graft:x:label": [{"value": "rim", "type": "literal"}]}}""",
        "application/rdf+json")
      assert(rj.statusCode() == 200 && rj.body().contains("""modified="1""""))
      val n3 = post(srv.address + "/sparql",
        """@prefix x: <urn:graft:x:> . x:9b x:label "spoke" .""", "text/n3")
      assert(n3.statusCode() == 200 && n3.body().contains("""modified="1""""))
      // form update= dispatches from the bare /sparql endpoint too
      assert(post(srv.address + "/sparql",
        "update=" + java.net.URLEncoder.encode(
          """INSERT DATA { x:9 note "form" }""", "UTF-8"),
        "application/x-www-form-urlencoded").statusCode() == 204)
      assert(post(srv.address + "/sparql", "ASK { x:9 note ?o }",
        "application/sparql-query").body().contains("true"))
      // a form with neither query= nor update= stays a loud 400
      assert(post(srv.address + "/sparql", "other=1",
        "application/x-www-form-urlencoded").statusCode() == 400)
      // and a raw sparql-update body dispatches from /sparql by CT
      assert(post(srv.address + "/sparql",
        """INSERT DATA { x:10 note "ct" }""",
        "application/sparql-update").statusCode() == 204)
      assert(post(srv.address + "/sparql", "ASK { x:10 note ?o }",
        "application/sparql-query").body().contains("true"))
      // DELETE with CONSTRUCT removes the described statements everywhere
      val del = send(req(srv.address + "/sparql?query=" + java.net.URLEncoder.encode(
        """CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o . FILTER(?o = "axle") }""",
        "UTF-8")).DELETE())
      assert(del.statusCode() == 200 && del.body().contains("""modified="1""""))
      // DELETE with an RDF body removes those statements
      val delBody = send(req(srv.address + "/sparql")
        .header("Content-Type", "application/n-triples")
        .method("DELETE", java.net.http.HttpRequest.BodyPublishers.ofString(
          "<urn:graft:x:1> <urn:graft:x:label> \"gear\" .")))
      assert(delBody.statusCode() == 200 && delBody.body().contains("""modified="1""""))
      val left = post(srv.address + "/sparql",
        "SELECT ?s WHERE { ?s <urn:graft:x:label> ?l }", "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, left.body())
        .collect().map(_.getString(0)).toSet == Set("x:2", "x:7", "x:8", "x:9b"))
    } finally srv.stop()
  }

  test("?format= override and gzip response encoding") {
    val g0 = Graft.empty(spark).update("""INSERT DATA { x:1 label "gear" }""")
    val srv = new SparqlServer(g0).start()
    try {
      val q = java.net.URLEncoder.encode("SELECT ?l WHERE { x:1 label ?l }", "UTF-8")
      // format= beats the Accept header (curl convenience)
      val csv = send(req(srv.address + s"/sparql?query=$q&format=csv")
        .header("Accept", "application/sparql-results+json").GET())
      assert(csv.headers().firstValue("Content-Type").get().startsWith("text/csv"))
      assert(csv.body() == "l\r\ngear")
      assert(send(req(srv.address + s"/sparql?query=$q&format=nosuch").GET())
        .statusCode() == 400)
      // Accept-Encoding: gzip compresses both buffered and streamed
      // responses; decode manually (HttpClient does not auto-inflate)
      val gz = http.send(req(srv.address + s"/sparql?query=$q&format=csv")
        .header("Accept-Encoding", "gzip").GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      assert(gz.headers().firstValue("Content-Encoding").get() == "gzip")
      val inflated = new String(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gz.body())).readAllBytes(), "UTF-8")
      assert(inflated == "l\r\ngear")
      // status carries the served counter
      assert(send(req(srv.address + "/status").GET()).body().contains("served:"))
    } finally srv.stop()
  }

  test("bare GET /sparql answers a SPARQL 1.1 service description") {
    val srv = new SparqlServer(Graft.empty(spark)).start()
    try {
      val resp = send(req(srv.address + "/sparql").GET())
      assert(resp.statusCode() == 200)
      val body = resp.body()
      assert(body.contains("sparql-service-description#Service"))
      assert(body.contains("SPARQL11Query") && body.contains("SPARQL11Update"))
      assert(body.contains(s"<${srv.address}/namespace/kb/sparql>"))
    } finally srv.stop()
  }

  test("graph results negotiate Turtle and JSON-LD") {
    val g0 = Graft.empty(spark).update(
      """INSERT DATA { x:1 label "gear" . x:2 label "cog" }""")
    val srv = new SparqlServer(g0).start()
    try {
      def construct(accept: String) = send(
        req(srv.address + "/sparql").header("Content-Type", "application/sparql-query")
          .header("Accept", accept)
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            "CONSTRUCT { ?s made ?l } WHERE { ?s label ?l }")))
      val ttl = construct("text/turtle")
      assert(ttl.headers().firstValue("Content-Type").get().startsWith("text/turtle"))
      assert(ttl.body().contains("@prefix") && ttl.body().contains("\"gear\""))
      // the Turtle response reloads losslessly
      val back = graft.rdf.Turtle.parse(ttl.body())
      assert(back.map(_._3).toSet == Set("gear", "cog"))
      val jld = construct("application/ld+json")
      assert(jld.headers().firstValue("Content-Type").get().startsWith("application/ld+json"))
      assert(graft.rdf.JsonLd.parse(jld.body()).map(_._3).toSet == Set("gear", "cog"))
    } finally srv.stop()
  }

  test("ESTCARD / CONTEXTS / GETSTMTS / explain") {
    val g0 = Graft.empty(spark).update(
      """INSERT DATA {
        |  x:1 label "gear" . x:1 type "Widget" . x:2 label "cog" .
        |  GRAPH g:extra { x:3 label "axle" }
        |}""".stripMargin)
    val srv = new SparqlServer(g0).start()
    try {
      def get(url: String) = send(req(url).GET())
      // unconstrained ESTCARD = quad count; bound-term paths prune
      assert(get(srv.address + "/sparql?ESTCARD").body().contains("""rangeCount="4""""))
      val p = java.net.URLEncoder.encode("<urn:graft:label>", "UTF-8")
      assert(get(srv.address + s"/sparql?ESTCARD&p=$p").body().contains("""rangeCount="3""""))
      val s1 = java.net.URLEncoder.encode("<urn:graft:x:1>", "UTF-8")
      assert(get(srv.address + s"/sparql?ESTCARD&s=$s1").body().contains("""rangeCount="2""""))
      val o = java.net.URLEncoder.encode("\"cog\"", "UTF-8")
      assert(get(srv.address + s"/sparql?ESTCARD&o=$o").body().contains("""rangeCount="1""""))
      // CONTEXTS lists the named graphs
      val ctx = get(srv.address + "/sparql?CONTEXTS").body()
      assert(ctx.contains("urn:graft:g:extra") && ctx.contains("urn:graft:g:default"))
      // GETSTMTS streams matching statements as N-Quads
      val stmts = get(srv.address + s"/sparql?GETSTMTS&s=$s1").body()
      assert(stmts.split("\n").length == 2 && stmts.contains("<urn:graft:x:1>"))
      val c = java.net.URLEncoder.encode("<urn:graft:g:extra>", "UTF-8")
      assert(get(srv.address + s"/sparql?GETSTMTS&c=$c").body().contains("axle"))
      // ?explain returns the formatted plan, not results
      val plan = get(srv.address + "/sparql?explain&query=" + java.net.URLEncoder.encode(
        "SELECT ?s WHERE { ?s label ?l }", "UTF-8"))
      assert(plan.statusCode() == 200 &&
        plan.headers().firstValue("Content-Type").get().startsWith("text/plain") &&
        plan.body().contains("Physical Plan"))
    } finally srv.stop()
  }

  test("access-path terms intern like SPARQL: ESTCARD of <rdf:type> counts the `a` triples") {
    val g0 = Graft.empty(spark).update(
      """INSERT DATA { x:1 a x:Widget . x:2 a x:Widget . x:1 label "gear" .
        |  GRAPH g:extra { x:3 a x:Widget } }""".stripMargin)
    val srv = new SparqlServer(g0).start()
    try {
      def get(url: String) = send(req(url).GET())
      def enc(t: String) = java.net.URLEncoder.encode(t, "UTF-8")
      def sparqlCount(where: String) = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/sparql", s"SELECT * WHERE { $where }", "application/sparql-query")
          .body()).count()
      val typeIri = s"<${graft.sparql.Parser.RdfTypeIri}>"
      val rdfType = enc(typeIri)
      assert(sparqlCount(s"?s $typeIri ?o") == 3)
      assert(get(srv.address + s"/sparql?ESTCARD&p=$rdfType").body()
        .contains("""rangeCount="3""""))
      val x1 = enc("<urn:graft:x:1>")
      assert(get(srv.address + s"/sparql?HASSTMT&s=$x1&p=$rdfType").body()
        .contains("""result="true""""))
      assert(get(srv.address + s"/sparql?GETSTMTS&p=$rdfType").body().split("\n").length == 3)
      // DELETE-by-access-path drops the matching statement
      val d = send(req(srv.address + s"/sparql?s=$x1&p=$rdfType").DELETE())
      assert(d.body().contains("""modified="1""""))
      assert(sparqlCount(s"?s $typeIri ?o") == 2)
      assert(get(srv.address + s"/sparql?ESTCARD&p=$rdfType").body()
        .contains("""rangeCount="2""""))
    } finally srv.stop()
  }

  test("a remote rdf:type binding comes back as `type` and joins a local `a` pattern") {
    val doc = s"""{"head":{"vars":["p"]},"results":{"bindings":[
      |{"p":{"type":"uri","value":"${graft.sparql.Parser.RdfTypeIri}"}}]}}""".stripMargin
    val remote = graft.sparql.RemoteService.parseJsonResults(spark, doc)
    assert(remote.collect().map(_.getString(0)).toSeq == Seq("type"))
    val local = Graft.empty(spark).update("INSERT DATA { x:1 a x:Widget . x:1 label \"gear\" }")
      .query("SELECT ?s ?p WHERE { ?s ?p ?o }")
    assert(local.join(remote, "p").collect().map(_.getString(1)).toSeq == Seq("x:1"))
  }

  test("HASSTMT / ?uuid / DELETE-by-access-path (QueryServlet + DeleteServlet fidelity arms)") {
    val g0 = Graft.empty(spark).update(
      """INSERT DATA {
        |  x:1 label "gear" . x:1 type "Widget" . x:2 label "cog" .
        |  GRAPH g:extra { x:1 label "gear" . x:3 label "axle" }
        |}""".stripMargin)
    val srv = new SparqlServer(g0).start()
    try {
      def get(url: String) = send(req(url).GET())
      def enc(t: String) = java.net.URLEncoder.encode(t, "UTF-8")
      val s1 = enc("<urn:graft:x:1>")
      val lbl = enc("<urn:graft:label>")
      val extra = enc("<urn:graft:g:extra>")
      // HASSTMT: boolean access-path probe, the reference's
      // buildAndCommitBooleanResponse document
      val hs = get(srv.address + s"/sparql?HASSTMT&s=$s1&p=$lbl")
      assert(hs.statusCode() == 200 && hs.body().contains("""result="true""""))
      assert(get(srv.address + s"/sparql?HASSTMT&s=$s1&o=${enc("\"axle\"")}")
        .body().contains("""result="false""""))
      // ?uuid mints a fresh RFC-4122 id as text/plain, GET and POST
      val u1 = get(srv.address + "/sparql?uuid")
      val u2 = post(srv.address + "/sparql?uuid", "", "text/plain")
      assert(u1.statusCode() == 200 &&
        u1.headers().firstValue("Content-Type").get().startsWith("text/plain"))
      assert(java.util.UUID.fromString(u1.body().trim) != null)
      assert(u1.body().trim != u2.body().trim)
      // DELETE-by-access-path: graph-scoped c= removes ONLY that
      // graph's occurrence; the default-graph twin stays
      val d1 = send(req(srv.address + s"/sparql?s=$s1&p=$lbl&c=$extra").DELETE())
      assert(d1.statusCode() == 200 && d1.body().contains("""modified="1""""))
      assert(get(srv.address + s"/sparql?HASSTMT&s=$s1&p=$lbl&c=$extra")
        .body().contains("""result="false""""))
      assert(get(srv.address + s"/sparql?HASSTMT&s=$s1&p=$lbl")
        .body().contains("""result="true""""))
      // subject-wide delete sweeps every remaining x:1 statement
      val d2 = send(req(srv.address + s"/sparql?s=$s1").DELETE())
      assert(d2.body().contains("""modified="2""""))
      assert(get(srv.address + s"/sparql?HASSTMT&s=$s1")
        .body().contains("""result="false""""))
      // a completely bare DELETE stays loud (no silent namespace wipe)
      assert(send(req(srv.address + "/sparql").DELETE()).statusCode() == 400)
    } finally srv.stop()
  }

  test("tx param verbs (COMMIT/ABORT/PREPARE) and workbench ?convert") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      // the reference's verb shape: POST /tx/<id>?PREPARE|COMMIT
      val tx1 = send(req(srv.address + "/tx").POST(
        java.net.http.HttpRequest.BodyPublishers.noBody())).body()
      val id1 = "txId=\"([^\"]+)\"".r.findFirstMatchIn(tx1).get.group(1)
      assert(post(srv.address + s"/sparql/update?tx=$id1",
        """INSERT DATA { t:1 label "staged" }""",
        "application/sparql-update").statusCode() == 204)
      // PREPARE validates without committing: nothing visible yet
      val prep = post(srv.address + s"/tx/$id1?PREPARE", "", "text/plain")
      assert(prep.statusCode() == 200 && prep.body().contains("""prepared="true""""))
      def staged() = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/sparql", """SELECT ?s WHERE { ?s label "staged" }""",
          "application/sparql-query").body()).count()
      assert(staged() == 0)
      // param-verb COMMIT lands it
      val com = post(srv.address + s"/tx/$id1?COMMIT", "", "text/plain")
      assert(com.statusCode() == 200 && com.body().contains("committed="))
      assert(staged() == 1)
      // PREPARE answers 409 when a commit now would conflict
      val tx2 = send(req(srv.address + "/tx").POST(
        java.net.http.HttpRequest.BodyPublishers.noBody())).body()
      val id2 = "txId=\"([^\"]+)\"".r.findFirstMatchIn(tx2).get.group(1)
      assert(post(srv.address + s"/sparql/update?tx=$id2",
        """DELETE DATA { t:1 label "staged" }""",
        "application/sparql-update").statusCode() == 204)
      // interleaved commit touching the SAME graph → prepare conflicts
      assert(post(srv.address + "/sparql/update",
        """INSERT DATA { t:2 label "interleaved" }""",
        "application/sparql-update").statusCode() == 204)
      val prep2 = post(srv.address + s"/tx/$id2?PREPARE", "", "text/plain")
      assert(prep2.statusCode() == 409, s"${prep2.statusCode()} ${prep2.body()}")
      // param-verb ABORT drops it
      assert(post(srv.address + s"/tx/$id2?ABORT", "", "text/plain")
        .statusCode() == 200)
      // workbench ?convert: Turtle in → N-Triples out (and JSON-LD)
      val conv = send(req(srv.address + "/workbench?convert")
        .header("Content-Type", "text/turtle")
        .header("Accept", "application/n-triples")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          "@prefix ex: <urn:graft:> . ex:c:1 ex:label \"gear\" .")))
      assert(conv.statusCode() == 200 &&
        conv.body().contains("<urn:graft:c:1> <urn:graft:label> \"gear\" ."),
        conv.body())
      val convJ = send(req(srv.address + "/workbench?convert")
        .header("Content-Type", "application/n-triples")
        .header("Accept", "application/ld+json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          "<urn:graft:c:1> <urn:graft:label> \"gear\" .\n")))
      assert(convJ.statusCode() == 200 && convJ.body().contains("\"@id\"") &&
        convJ.body().contains("gear"), convJ.body().take(200))
      // a non-RDF content type is a loud 400
      assert(send(req(srv.address + "/workbench?convert")
        .header("Content-Type", "text/csv")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("a,b")))
        .statusCode() == 400)
    } finally srv.stop()
  }

  test("UPDATE-with-query (PUT), multipart updatePost, and POST ?delete (UpdateServlet fidelity)") {
    val g0 = Graft.empty(spark).update(
      """INSERT DATA { x:1 label "gear" . x:1 status "old" . x:2 label "cog" }""")
    val srv = new SparqlServer(g0).start()
    def count(q: String) = graft.sparql.RemoteService.parseJsonResults(spark,
      post(srv.address + "/sparql", q, "application/sparql-query").body()).count()
    try {
      // PUT ?query=CONSTRUCT + RDF body: atomically replace what the
      // query describes with the body's statements
      val put = send(req(srv.address + "/sparql?query=" + java.net.URLEncoder
        .encode("""CONSTRUCT { ?s status ?o } WHERE { ?s status ?o }""", "UTF-8"))
        .header("Content-Type", "application/n-triples")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(
          "<urn:graft:x:1> <urn:graft:status> \"new\" .\n")))
      assert(put.statusCode() == 200 && put.body().contains("""modified="2""""),
        put.body())
      assert(count("""SELECT ?s WHERE { ?s status "new" }""") == 1)
      assert(count("""SELECT ?s WHERE { ?s status "old" }""") == 0)
      // PUT without a query or with a SELECT is a 400
      assert(send(req(srv.address + "/sparql")
        .header("Content-Type", "application/n-triples")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(""))).statusCode() == 400)
      // multipart updatePost: remove + add parts, each with its own
      // Content-Type, land as one atomic operation
      val b = "graftBoundary42"
      val body =
        s"""--$b\r
           |Content-Disposition: form-data; name="remove"\r
           |Content-Type: application/n-triples\r
           |\r
           |<urn:graft:x:2> <urn:graft:label> "cog" .\r
           |--$b\r
           |Content-Disposition: form-data; name="add"\r
           |Content-Type: text/turtle\r
           |\r
           |<urn:graft:x:3> <urn:graft:label> "axle" .\r
           |--$b--\r
           |""".stripMargin
      val up = post(srv.address + "/sparql?updatePost", body,
        s"multipart/form-data; boundary=$b")
      assert(up.statusCode() == 200 && up.body().contains("""modified="2""""),
        up.body())
      assert(count("""SELECT ?s WHERE { ?s label "cog" }""") == 0)
      assert(count("""SELECT ?s WHERE { ?s label "axle" }""") == 1)
      // POST ?delete with an RDF body — the delete arm for clients
      // that cannot send a DELETE body
      val pd = post(srv.address + "/sparql?delete",
        "<urn:graft:x:3> <urn:graft:label> \"axle\" .\n",
        "application/n-triples")
      assert(pd.statusCode() == 200 && pd.body().contains("""modified="1""""),
        pd.body())
      assert(count("""SELECT ?s WHERE { ?s label "axle" }""") == 0)
    } finally srv.stop()
  }

  /** `body` with `<http://slow.test/sparql>` registered: a SERVICE
    * whose solution DataFrame sleeps 5 s per row inside its Spark tasks
    * (8 rows, 8 partitions), so only a job-group cancel ends it early. */
  private def withSlowEndpoint[A](body: => A): A = {
    graft.sparql.ServiceRegistry.registerRemote("http://slow.test/sparql", { _ =>
      import TestSpark.spark.implicits._
      TestSpark.spark.range(0, 8, 1, 8)
        .map { i => Thread.sleep(5000); i }
        .toDF("n").selectExpr("CAST(n AS STRING) AS s", "'p' AS p", "'o' AS o")
    })
    try body finally graft.sparql.ServiceRegistry.unregisterRemote("http://slow.test/sparql")
  }

  /** The first `/status` line (id, namespace, age, text) of a running
    * operation on namespace `ns` whose text contains `marker`, polled
    * for up to 10 s. */
  private def listed(srv: SparqlServer, marker: String, ns: String): Option[Array[String]] = {
    val deadline = System.currentTimeMillis() + 10000
    var found = Option.empty[Array[String]]
    while (found.isEmpty && System.currentTimeMillis() < deadline) {
      found = send(req(srv.address + "/status").GET()).body().split("\n").drop(1)
        .map(_.split("\t")).find(l => l(1) == ns && l.last.contains(marker))
      if (found.isEmpty) Thread.sleep(50)
    }
    found
  }

  test("status lists running queries; cancelQuery kills one cluster-wide") {
    val g0 = Graft.empty(spark).update("""INSERT DATA { x:1 label "gear" }""")
    val srv = new SparqlServer(g0).start()
    // a deliberately slow query: a SERVICE whose solution DataFrame
    // sleeps inside its Spark tasks, so only a job-group cancel can
    // end it early
    try withSlowEndpoint {
      val slow = "SELECT ?s WHERE { SERVICE <http://slow.test/sparql> { ?s ?p ?o } }"
      val fut = scala.concurrent.Future {
        post(srv.address + "/sparql", slow, "application/sparql-query")
      }(scala.concurrent.ExecutionContext.global)
      // the query shows up in /status
      var id = ""
      val deadline = System.currentTimeMillis() + 5000
      while (id.isEmpty && System.currentTimeMillis() < deadline) {
        val lines = send(req(srv.address + "/status").GET()).body().split("\n")
        lines.drop(1).headOption.foreach(l => id = l.split("\t").head)
        if (id.isEmpty) Thread.sleep(100)
      }
      assert(id.nonEmpty, "running query never appeared in /status")
      // cancel is acknowledged and the request completes (not hung)
      assert(send(req(srv.address + s"/status?cancelQuery&queryId=$id").GET())
        .statusCode() == 200)
      val resp = scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration(90, "s"))
      assert(resp.statusCode() == 200 || resp.statusCode() == 400)
      // registry drains back to empty
      val after = send(req(srv.address + "/status").GET()).body()
      assert(after.startsWith("running: 0"))
      // cancelling an unknown id is a 404
      assert(send(req(srv.address + "/status?cancelQuery&queryId=nope").GET())
        .statusCode() == 404)
    } finally srv.stop()
  }

  private val slowUpdate =
    """INSERT { ?s x:p "v" } WHERE { SERVICE <http://slow.test/sparql> { ?s ?p ?o } }"""

  private def async[A](body: => A): scala.concurrent.Future[A] =
    scala.concurrent.Future(body)(scala.concurrent.ExecutionContext.global)

  private def await[A](f: scala.concurrent.Future[A]): A =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(90, "s"))

  test("an UPDATE is listed in /status while it runs") {
    val srv = new SparqlServer(Graft.empty(spark)).start()
    try withSlowEndpoint {
      val fut = async(post(srv.address + "/sparql/update", slowUpdate, "application/sparql-update"))
      val line = listed(srv, "SERVICE <http://slow.test/sparql>", "kb")
      assert(line.nonEmpty, "a running UPDATE never appeared in /status")
      line.foreach(l => send(req(srv.address + s"/status?cancelQuery&queryId=${l(0)}").GET()))
      await(fut)
    } finally srv.stop()
  }

  test("cancelQuery stops a durable UPDATE: the namespace keeps its version and takes the next write") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    def version(): Long = "readsOnCommitTime=\"(\\d+)\"".r
      .findFirstMatchIn(post(srv.address + "/tx", "", "text/plain").body()).get.group(1).toLong
    def labels(): Set[String] = graft.sparql.RemoteService.parseJsonResults(spark,
      post(srv.address + "/sparql", "SELECT ?s ?o WHERE { ?s ?p ?o }",
        "application/sparql-query").body()).collect().map(r => s"${r.get(0)} ${r.get(1)}").toSet
    try withSlowEndpoint {
      assert(post(srv.address + "/sparql/update", """INSERT DATA { x:1 label "gear" }""",
        "application/sparql-update").statusCode() == 204)
      val (v0, before) = (version(), labels())
      val fut = async(post(srv.address + "/sparql/update", slowUpdate, "application/sparql-update"))
      val id = listed(srv, "SERVICE <http://slow.test/sparql>", "kb").map(_(0))
      assert(id.nonEmpty, "a running UPDATE never appeared in /status")
      val t0 = System.currentTimeMillis()
      assert(send(req(srv.address + s"/status?cancelQuery&queryId=${id.get}").GET())
        .statusCode() == 200)
      // the 8 five-second tasks on 4 cores would take 10 s
      assert(await(fut).statusCode() == 400)
      assert(System.currentTimeMillis() - t0 < 8000)
      assert(version() == v0 && labels() == before)
      assert(post(srv.address + "/sparql/update", """INSERT DATA { x:2 label "cog" }""",
        "application/sparql-update").statusCode() == 204)
      assert(version() == v0 + 1 && labels() == before + "x:2 cog")
    } finally srv.stop()
  }

  test("one operation per exchange: each exchange's every job runs in the group /status lists") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    val recorder = Harness.recorder(spark)
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val nt = "application/n-triples"
    val upd = "application/sparql-update"
    def triple(s: String) = s"""<urn:graft:x:$s> <urn:graft:label> "$s" ."""
    try {
      assert(post(srv.address + "/namespace", "name=inf&truthMaintenance=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/inf/sparql/update",
        "INSERT DATA { e:1 type Employee }", upd).statusCode() == 204)
      val tx = "txId=\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(post(srv.address + "/tx", "", "text/plain").body()).get.group(1)
      // (kind, namespace, exchange); the ASK is the first read after a
      // write, so it builds the merge view, then runs ASK's existence
      // probe — both while compiling
      val exchanges: Seq[(String, String, () => java.net.http.HttpResponse[String])] = Seq(
        ("REST insert", "kb", () => post(srv.address + "/sparql", triple("1"), nt)),
        ("ASK", "kb", () => post(srv.address + "/sparql", "ASK { x:1 label ?o }",
          "application/sparql-query")),
        ("SELECT", "kb", () => post(srv.address + "/sparql", "SELECT ?o WHERE { x:1 label ?o }",
          "application/sparql-query")),
        ("SPARQL UPDATE", "kb", () => post(srv.address + "/sparql/update",
          """INSERT DATA { x:2 label "2" }""", upd)),
        ("staged insert", "kb", () => post(srv.address + s"/sparql?tx=$tx", triple("3"), nt)),
        ("GSP PUT", "kb", () => send(req(srv.address + "/rdf-graphs?graph=" + enc("urn:graft:g:1"))
          .header("Content-Type", nt)
          .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(triple("4"))))),
        ("GETSTMTS", "kb", () => send(req(srv.address + "/sparql?GETSTMTS").GET())),
        ("convert", "-", () => post(srv.address + "/workbench?convert", triple("5"), nt)),
        // a TBox insert: truth maintenance re-derives the closure
        ("TM insert", "inf", () => post(srv.address + "/namespace/inf/sparql/update",
          "INSERT DATA { Employee subClassOf Agent }", upd)))
      val cores = spark.sparkContext.defaultParallelism
      exchanges.foreach { case (kind, ns, exchange) =>
        ServerSpec.hold = new java.util.concurrent.CountDownLatch(1)
        ServerSpec.holding = new java.util.concurrent.CountDownLatch(cores)
        val (id, jobs) = recorder.record {
          // every core held, the exchange's first job waits for one:
          // /status is read while the exchange surely runs
          val holder = async(graft.plans.Jobs.group("spec.hold") {
            spark.sparkContext.parallelize(0 until cores, cores).foreach(_ => ServerSpec.holdCore())
          })
          assert(ServerSpec.holding.await(60, java.util.concurrent.TimeUnit.SECONDS))
          val resp = async(exchange())
          // the namespace shows once the exchange has resolved it
          def resolved(ls: Array[String]) = ls.length == 1 && ls.head.split("\t")(1) == ns
          val lines = try {
            val deadline = System.currentTimeMillis() + 10000
            var ls = Array.empty[String]
            while (!resolved(ls) && System.currentTimeMillis() < deadline) {
              ls = send(req(srv.address + "/status").GET()).body().split("\n").drop(1)
              if (!resolved(ls)) Thread.sleep(20)
            }
            ls
          } finally ServerSpec.hold.countDown()
          await(holder)
          val code = await(resp).statusCode()
          assert(code >= 200 && code < 300, s"$kind answered $code")
          assert(lines.length == 1, s"$kind: /status listed ${lines.mkString("; ")}")
          val Array(id, listedNs, _, _) = lines.head.split("\t", 4)
          assert(listedNs == ns, s"$kind ran on $listedNs")
          id
        }
        val own = jobs.filterNot(_.group.contains("spec.hold"))
        assert(own.nonEmpty && own.forall(_.group.contains(id)),
          s"$kind: jobs outside its group $id: ${own.filterNot(_.group.contains(id))}")
        if (kind == "ASK") {
          val sites = own.map(_.callSite)
          assert(sites.exists(_.startsWith("localCheckpoint at Graft.scala")), sites)
          assert(sites.exists(_.startsWith("isEmpty at Compiler.scala")), sites)
        }
      }
    } finally {
      ServerSpec.hold.countDown()
      spark.sparkContext.removeSparkListener(recorder)
      srv.stop()
    }
  }

  test("/counters records an UPDATE") {
    val srv = new SparqlServer(Graft.empty(spark)).start()
    try {
      assert(post(srv.address + "/sparql/update", """INSERT DATA { x:1 label "gear" }""",
        "application/sparql-update").statusCode() == 204)
      // the record lands as the exchange ends, just after its reply
      val deadline = System.currentTimeMillis() + 10000
      def counters() = send(req(srv.address + "/counters").GET()).body()
      var c = counters()
      while (!c.contains("INSERT DATA") && System.currentTimeMillis() < deadline) {
        Thread.sleep(50); c = counters()
      }
      assert(c.contains("""served="1"""") && c.contains("""<namespace name="kb" ops="1"""") &&
        c.contains("""<op ns="kb"""") && c.contains("INSERT DATA { x:1 label"), c)
    } finally srv.stop()
  }

  test("durable namespaces: restart reattaches state; default KB is protected") {
    val dir = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), dir).start()
    try {
      assert(post(srv.address + "/sparql/update",
        """INSERT DATA { x:1 label "gear" }""", "application/sparql-update")
        .statusCode() == 204)
      assert(post(srv.address + "/namespace", "name=scratch",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/scratch/sparql/update",
        """INSERT DATA { y:1 label "cog" }""", "application/sparql-update")
        .statusCode() == 204)
      // deleting the DEFAULT namespace is forbidden (403), bare alias safe
      assert(send(req(srv.address + "/namespace/kb").DELETE()).statusCode() == 403)
      // properties document (MultiTenancyServlet analog)
      val props = send(req(srv.address + "/namespace/scratch/properties").GET())
      assert(props.statusCode() == 200 &&
        props.body().contains("""<entry key="com.bigdata.rdf.sail.namespace">scratch</entry>""") &&
        props.body().contains("""<entry key="graft.durable">true</entry>"""))
      // ?uri= ingest (InsertServlet POST-with-URIs, file: scheme)
      val nt = java.nio.file.Files.createTempFile("graft_uri", ".nt")
      java.nio.file.Files.writeString(nt,
        "<urn:graft:u:1> <urn:graft:label> \"fetched\" .\n")
      val uri = java.net.URLEncoder.encode(s"file://$nt", "UTF-8")
      val ins = post(srv.address + s"/sparql?uri=$uri", "", "text/plain")
      assert(ins.statusCode() == 200 && ins.body().contains("""modified="1""""))
      // non-file ingest URIs are refused loudly (no egress from here)
      assert(post(srv.address + "/sparql?uri=http%3A%2F%2Fexample.org%2Fd.ttl",
        "", "text/plain").statusCode() == 400)
    } finally srv.stop()

    // cold restart over the same journal dir: both namespaces reattach
    val srv2 = SparqlServer.durable(Graft.empty(spark), dir).start()
    try {
      def count(path: String) = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv2.address + path, "SELECT ?s WHERE { ?s label ?o }",
          "application/sparql-query").body()).count()
      // 2 = the update's row + the ?uri= ingested row, both durable
      assert(count("/sparql") == 2)
      assert(count("/namespace/scratch/sparql") == 1)
      // durable namespace delete removes it from disk too
      assert(send(req(srv2.address + "/namespace/scratch").DELETE()).statusCode() == 200)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "scratch")))
    } finally srv2.stop()

    // third start: scratch stays gone, default survives
    val srv3 = SparqlServer.durable(Graft.empty(spark), dir).start()
    try {
      val list = send(req(srv3.address + "/namespace").GET()).body()
      assert(list.contains("\"kb\"") && !list.contains("scratch"))
    } finally srv3.stop()
  }

  test("SERVICE whitelist over the management plane: POST sets, GET reads, queries enforce") {
    val srv = new SparqlServer(
      Graft.empty(spark).update("""INSERT DATA { x:1 label "gear" }""")).start()
    val other = new SparqlServer(
      Graft.empty(spark).update("""INSERT DATA { y:1 label "cog" }""")).start()
    val ep = other.address + "/sparql"
    graft.sparql.RemoteService.register(spark, ep)
    val q = s"SELECT ?l WHERE { SERVICE <$ep> { ?s label ?l } }"
    try {
      // config round-trip: POST replaces the policy, GET reads it back
      assert(post(srv.address + "/whitelist",
        "enabled=true&uri=" + java.net.URLEncoder.encode(ep, "UTF-8"),
        "application/x-www-form-urlencoded").statusCode() == 200)
      val got = send(req(srv.address + "/whitelist").GET()).body()
      assert(got.contains("""enabled="true"""") && got.contains(ep))
      // listed endpoint federates through the protocol
      val ok = post(srv.address + "/sparql", q, "application/sparql-query")
      assert(ok.statusCode() == 200 && ok.body().contains("cog"))
      // empty the list: the same query is now refused loud
      assert(post(srv.address + "/whitelist", "enabled=true",
        "application/x-www-form-urlencoded").statusCode() == 200)
      val bad = post(srv.address + "/sparql", q, "application/sparql-query")
      assert(bad.statusCode() == 400 && bad.body().contains("not allowed"))
      // disable: back to open federation
      assert(post(srv.address + "/whitelist", "enabled=false",
        "application/x-www-form-urlencoded").statusCode() == 200)
      assert(post(srv.address + "/sparql", q,
        "application/sparql-query").statusCode() == 200)
      // durable servers PERSIST the policy beside the journals and
      // re-apply it at startup
      val root = tmp()
      val dsrv = SparqlServer.durable(Graft.empty(spark), root).start()
      try {
        assert(post(dsrv.address + "/whitelist",
          "enabled=true&uri=urn%3Awl%3Apersisted",
          "application/x-www-form-urlencoded").statusCode() == 200)
      } finally dsrv.stop()
      graft.sparql.ServiceRegistry.setWhitelist(enabled = false) // wiped
      val dsrv2 = SparqlServer.durable(Graft.empty(spark), root).start()
      try {
        val got2 = send(req(dsrv2.address + "/whitelist").GET()).body()
        assert(got2.contains("""enabled="true"""") &&
          got2.contains("urn:wl:persisted"))
      } finally dsrv2.stop()
    } finally {
      graft.sparql.ServiceRegistry.setWhitelist(enabled = false)
      graft.sparql.ServiceRegistry.unregisterRemote(ep)
      srv.stop(); other.stop()
    }
  }

  test("truthMaintenance namespace: inference over REST — entailed answers, retract, suppression, restart, timestamp") {
    val dir = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), dir).start()
    def sel(addr: String, path: String, text: String) =
      graft.sparql.RemoteService.parseJsonResults(spark,
        post(addr + path, text, "application/sparql-query").body())
    def typesOf(addr: String, id: String, extra: String = "") =
      sel(addr, s"/namespace/inf/sparql$extra",
        s"SELECT ?t WHERE { $id type ?t }").collect().map(_.getString(0)).toSet
    try {
      // the namespace option (the reference's truth-maintenance sail
      // options): create an INFERENCING namespace over the protocol
      assert(post(srv.address + "/namespace", "name=inf&truthMaintenance=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      val props = send(req(srv.address + "/namespace/inf/properties").GET()).body()
      assert(props.contains("""<entry key="graft.truthMaintenance">true</entry>"""))
      // ontology + instance data arrive over the protocol AS DATA; the
      // query answer is ENTAILED (rdfs9 lift through the TBox edge)
      assert(post(srv.address + "/namespace/inf/sparql/update",
        """INSERT DATA { Employee subClassOf Agent . e:1 type Employee }""",
        "application/sparql-update").statusCode() == 204)                    // v1
      assert(typesOf(srv.address, "e:1") == Set("Employee", "Agent"))
      // a LATER TBox edge re-types the EXISTING instance (the dynamic
      // program: vocabulary deltas re-derive)
      assert(post(srv.address + "/namespace/inf/sparql/update",
        """INSERT DATA { Agent subClassOf Party }""",
        "application/sparql-update").statusCode() == 204)                    // v2
      assert(typesOf(srv.address, "e:1") == Set("Employee", "Agent", "Party"))
      // retraction un-derives (DRed through the protocol)
      assert(post(srv.address + "/namespace/inf/sparql/update",
        """DELETE DATA { e:1 type Employee }""",
        "application/sparql-update").statusCode() == 204)                    // v3
      assert(typesOf(srv.address, "e:1").isEmpty)
      // suppressTruthMaintenance=true: the statement lands VERBATIM,
      // no closure maintenance for this request
      assert(post(srv.address +
        "/namespace/inf/sparql/update?suppressTruthMaintenance=true",
        """INSERT DATA { e:2 type Employee }""",
        "application/sparql-update").statusCode() == 204)                    // v4
      assert(typesOf(srv.address, "e:2") == Set("Employee"))
      // ?timestamp=: a historical read sees the ENTAILED past state
      assert(typesOf(srv.address, "e:1", "?timestamp=2") ==
        Set("Employee", "Agent", "Party"))
      // includeInferred=false (QueryServlet.java:140): queries and
      // HASSTMT read the ASSERTED statements only
      assert(typesOf(srv.address, "e:1", "?timestamp=2&includeInferred=false") ==
        Set("Employee"))
      def hasStmt(s: String, o: String, extra: String = "") = send(req(
        srv.address + s"/namespace/inf/sparql?HASSTMT&s=" +
          java.net.URLEncoder.encode(s"<urn:graft:$s>", "UTF-8") +
          "&o=" + java.net.URLEncoder.encode(s"<urn:graft:$o>", "UTF-8") + extra)
        .GET()).body()
      assert(hasStmt("e:2", "Employee").contains("""result="true""""))
      // e:2's Agent type is suppressed-unclosed, so even inferred=true
      // says false; e:1's Agent at v2 was ENTAILED only — asserted no
      assert(hasStmt("e:1", "Agent", "&timestamp=2").contains("""result="true""""))
      assert(hasStmt("e:1", "Agent", "&timestamp=2&includeInferred=false")
        .contains("""result="false""""))
      // triples mode: graph-scoped Graph Store ops are refused loud
      // (the reference's TM requires a triples-mode KB)
      val put = send(req(srv.address + "/namespace/inf/rdf-graphs?graph=g%3Ax")
        .header("Content-Type", "text/turtle")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString("x:1 label \"a\" .")))
      assert(put.statusCode() == 400 && put.body().contains("triples-mode"))
      // in-memory servers refuse the option loud
      val mem = new SparqlServer(Graft.empty(spark)).start()
      try assert(post(mem.address + "/namespace", "name=x&truthMaintenance=true",
        "application/x-www-form-urlencoded").statusCode() == 400)
      finally mem.stop()
    } finally srv.stop()
    // cold restart: reattaches as a TM tenant — entailed state, the
    // retraction, the suppressed rows and the history all intact
    val srv2 = SparqlServer.durable(Graft.empty(spark), dir).start()
    try {
      assert(typesOf(srv2.address, "e:1").isEmpty)
      assert(typesOf(srv2.address, "e:2") == Set("Employee"))
      assert(typesOf(srv2.address, "e:1", "?timestamp=2") ==
        Set("Employee", "Agent", "Party"))
      // a vocabulary commit after restart re-derives — the suppressed
      // e:2 row converges into the closure it was skipped from
      assert(post(srv2.address + "/namespace/inf/sparql/update",
        """INSERT DATA { Party subClassOf Entity }""",
        "application/sparql-update").statusCode() == 204)                    // v5
      assert(typesOf(srv2.address, "e:2") ==
        Set("Employee", "Agent", "Party", "Entity"))
      // GSP on the DEFAULT graph is the triples-mode store itself:
      // PUT replaces the asserted statements, entailments recompute
      val putDef = send(req(srv2.address + "/namespace/inf/rdf-graphs?default")
        .header("Content-Type", "application/n-triples")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(
          "<urn:graft:Employee> <urn:graft:subClassOf> <urn:graft:Agent> .\n" +
            "<urn:graft:e:9> <urn:graft:type> <urn:graft:Employee> .\n")))
      assert(putDef.statusCode() == 204)
      assert(typesOf(srv2.address, "e:9") == Set("Employee", "Agent"))
      assert(typesOf(srv2.address, "e:2").isEmpty) // replaced away
    } finally srv2.stop()
  }

  test("truthMaintenance + textIndex compose: search serves the CLOSED store, restart-stable") {
    val root = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), root).start()
    val q = """SELECT ?lit WHERE {
              |  SERVICE bds:search { _:s bds:query "spark" . _:s bds:out ?lit }
              |} ORDER BY ?lit""".stripMargin
    def hits(addr: String): Seq[String] = {
      val r = post(addr + "/namespace/tmix/sparql", q, "application/sparql-query")
      assert(r.statusCode() == 200, r.body().take(300))
      graft.sparql.RemoteService.parseJsonResults(spark, r.body())
        .collect().map(_.getString(0)).toSeq
    }
    try {
      assert(post(srv.address + "/namespace",
        "name=tmix&truthMaintenance=true&textIndex=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      // TBox + a literal-bearing statement in one commit: the index
      // maintains over the CLOSED journal, so the hit appears with no
      // rebuild and the ENTAILED label twin is queryable beside it
      assert(post(srv.address + "/namespace/tmix/sparql/update",
        """INSERT DATA { note subPropertyOf label . x:a note "the spark engine" }""",
        "application/sparql-update").statusCode() == 204)
      assert(hits(srv.address) == Seq("the spark engine"))
      val lbl = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/namespace/tmix/sparql",
          "SELECT ?o WHERE { x:a label ?o }", "application/sparql-query").body())
      assert(lbl.collect().map(_.getString(0)).toSeq == Seq("the spark engine"))
      // retraction un-derives the label twin AND the index drops the
      // literal (DRed + index maintenance in one write path)
      assert(post(srv.address + "/namespace/tmix/sparql/update",
        """DELETE DATA { x:a note "the spark engine" }""",
        "application/sparql-update").statusCode() == 204)
      assert(hits(srv.address).isEmpty)
    } finally srv.stop()
    // restart: TM store AND its index reattach together
    val srv2 = SparqlServer.durable(Graft.empty(spark), root).start()
    try {
      assert(post(srv2.address + "/namespace/tmix/sparql/update",
        """INSERT DATA { x:c note "spark sql" }""",
        "application/sparql-update").statusCode() == 204)
      assert(hits(srv2.address) == Seq("spark sql"))
    } finally srv2.stop()
  }

  test("SERVICE bd:history over the protocol: per-namespace change log, in-memory loud") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      // two commits into the default namespace's journal
      assert(post(srv.address + "/sparql/update",
        """INSERT DATA { x:1 label "gear" }""",
        "application/sparql-update").statusCode() == 204)
      assert(post(srv.address + "/sparql/update",
        """DELETE DATA { x:1 label "gear" } ;
          |INSERT DATA { x:1 label "cog" . x:2 label "axle" }""".stripMargin,
        "application/sparql-update").statusCode() == 204)
      // a second namespace with ITS OWN history
      assert(post(srv.address + "/namespace", "name=other",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/other/sparql/update",
        """INSERT DATA { y:1 label "widget" }""",
        "application/sparql-update").statusCode() == 204)
      val histQ =
        """SELECT ?o ?version ?action WHERE {
          |  SERVICE bd:history {
          |    _:h bd:outObject ?o . _:h bd:outVersion ?version .
          |    _:h bd:outAction ?action .
          |  }
          |} ORDER BY ?version ?action ?o""".stripMargin
      // default namespace: both commits' quads, version-attributed
      val d = post(srv.address + "/sparql", histQ, "application/sparql-query")
      assert(d.statusCode() == 200, d.body())
      val rows = graft.sparql.RemoteService.parseJsonResults(spark, d.body())
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(rows.map(x => (x._1, x._3)) == Seq(
        ("gear", "added"), ("axle", "added"), ("cog", "added"), ("gear", "removed")))
      // the other namespace sees ONLY its own log — per-namespace scope
      val o = post(srv.address + "/namespace/other/sparql", histQ,
        "application/sparql-query")
      assert(o.statusCode() == 200, o.body())
      assert(graft.sparql.RemoteService.parseJsonResults(spark, o.body())
        .collect().map(_.getString(0)).toSeq == Seq("widget"))
      // a ?timestamp= read view caps the visible log at its snapshot:
      // v1 sees only the first commit, never the future
      val t1 = post(srv.address + "/sparql?timestamp=1", histQ,
        "application/sparql-query")
      assert(t1.statusCode() == 200, t1.body())
      assert(graft.sparql.RemoteService.parseJsonResults(spark, t1.body())
        .collect().map(r => (r.getString(0), r.getString(2))).toSeq ==
        Seq(("gear", "added")))
      // asking the view for versions past its snapshot is loud
      val beyond = post(srv.address + "/sparql?timestamp=1",
        """SELECT ?o WHERE { SERVICE bd:history {
          |  _:h bd:toVersion "2" . _:h bd:outObject ?o . } }""".stripMargin,
        "application/sparql-query")
      assert(beyond.statusCode() == 400 &&
        beyond.body().contains("beyond this read view"), beyond.body())
    } finally srv.stop()
    // an IN-MEMORY server has no journal: bd:history stays loud — and
    // the scope is PINNED (withoutJournal), so even a process-global
    // HistoryService.register cannot leak an unrelated journal's
    // history into this tenant
    val mem = new SparqlServer(Graft.empty(spark)).start()
    val leakJ = graft.rdf.Journal.create(spark,
      java.nio.file.Files.createTempDirectory("graft_leak").toString)
    graft.sparql.HistoryService.register(leakJ)
    try {
      val r = post(mem.address + "/sparql",
        "SELECT ?o WHERE { SERVICE bd:history { _:h bd:outObject ?o . } }",
        "application/sparql-query")
      assert(r.statusCode() == 400 && r.body().contains("no commit log"),
        s"${r.statusCode()} ${r.body()}")
    } finally {
      graft.sparql.HistoryService.unregister()
      mem.stop()
    }
  }

  test("Graph Store Protocol: PUT replaces, POST merges, GET streams, DELETE drops") {
    val srv = new SparqlServer(Graft.empty(spark)).start()
    val enc = java.net.URLEncoder.encode("urn:graft:g:gsp", "UTF-8")
    val url = srv.address + s"/rdf-graphs?graph=$enc"
    try {
      // GET/DELETE of an absent graph is a 404 (GSP §5.2/§5.4)
      assert(send(req(url).GET()).statusCode() == 404)
      assert(send(req(url).DELETE()).statusCode() == 404)
      // PUT creates the graph from the body
      assert(send(req(url).header("Content-Type", "text/turtle")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(
          """<urn:graft:a> <urn:graft:p> "1" . <urn:graft:b> <urn:graft:p> "2" .""")))
        .statusCode() == 204)
      val got = send(req(url).GET())
      assert(got.statusCode() == 200 && got.body().split("\n").length == 2)
      // POST merges (set semantics: one row new, one duplicate)
      val merged = post(url,
        """<urn:graft:b> <urn:graft:p> "2" . <urn:graft:c> <urn:graft:p> "3" .""",
        "text/turtle")
      assert(merged.statusCode() == 200)
      assert(send(req(url).GET()).body().split("\n").length == 3)
      // PUT replaces wholesale
      assert(send(req(url).header("Content-Type", "application/n-triples")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(
          "<urn:graft:z> <urn:graft:p> \"9\" .")))
        .statusCode() == 204)
      val replaced = send(req(url).GET()).body()
      assert(replaced.split("\n").length == 1 && replaced.contains("urn:graft:z"))
      // the graph is visible to SPARQL as a named graph
      val viaSparql = post(srv.address + "/sparql",
        "SELECT ?s WHERE { GRAPH <urn:graft:g:gsp> { ?s ?p ?o } }",
        "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, viaSparql.body()).count() == 1)
      // DELETE drops it; subsequent GET 404s
      assert(send(req(url).DELETE()).statusCode() == 204)
      assert(send(req(url).GET()).statusCode() == 404)
    } finally srv.stop()
  }

  test("form-encoded POST query= runs the query (SPARQL 1.1 URL-encoded POST binding)") {
    val srv = new SparqlServer(Graft.empty(spark)).start()
    try {
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      assert(post(srv.address + "/sparql",
        "update=" + enc("""INSERT DATA { x:f1 note "a" . x:f2 note "b" }"""),
        "application/x-www-form-urlencoded").statusCode() == 204)
      // the regression: dispatch used to drain the one-shot body
      // checking for query=, then re-read it and 400 on every form query
      val r = post(srv.address + "/sparql",
        "query=" + enc("SELECT ?s WHERE { ?s note ?o }"),
        "application/x-www-form-urlencoded")
      assert(r.statusCode() == 200, r.body())
      assert(graft.sparql.RemoteService.parseJsonResults(spark, r.body()).count() == 2)
    } finally srv.stop()
  }

  test("protocol NT-term parameters accept literals with raw newlines") {
    val srv = new SparqlServer(Graft.empty(spark)).start()
    try {
      assert(post(srv.address + "/sparql",
        "<urn:graft:x:m> <urn:graft:note> \"line1\\nline2\" .",
        "application/n-triples").statusCode() == 200)
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      // the decoded o= carries a RAW newline — (?s) keeps it a literal
      val est = send(req(srv.address + "/sparql?ESTCARD&o=" +
        enc("\"line1\nline2\"")).GET())
      assert(est.statusCode() == 200 && est.body().contains("""rangeCount="1""""),
        est.body())
    } finally srv.stop()
  }

  test("concurrent-safe namespace creation: duplicate create is 409, no leaked dir") {
    val dir = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), dir).start()
    try {
      val mk = () => post(srv.address + "/namespace", "name=dup",
        "application/x-www-form-urlencoded")
      assert(mk().statusCode() == 201)
      assert(mk().statusCode() == 409)
      // an orphan journal dir on disk (unattached) is a 409 too, not a 400
      val orphan = java.nio.file.Paths.get(dir, "orphan")
      graft.rdf.Repository.create(spark, orphan.toString)
      srv.stop()
      val srv2 = SparqlServer.durable(Graft.empty(spark), dir).start()
      try {
        // reattach picked it up — creating over it reports exists
        assert(post(srv2.address + "/namespace", "name=orphan",
          "application/x-www-form-urlencoded").statusCode() == 409)
        assert(post(srv2.address + "/namespace", "name=dup",
          "application/x-www-form-urlencoded").statusCode() == 409)
      } finally srv2.stop()
    } finally scala.util.Try(srv.stop())
  }

  test("REST bulk load: a directory glob lands as ONE commit; ESTCARD answers from metadata") {
    val data = java.nio.file.Files.createTempDirectory("graft_dl")
    java.nio.file.Files.writeString(data.resolve("a.nt"),
      "<urn:graft:d:1> <urn:graft:label> \"one\" .\n" +
      "<urn:graft:d:2> <urn:graft:label> \"two\" .\n")
    java.nio.file.Files.writeString(data.resolve("b.nt"),
      "<urn:graft:d:3> <urn:graft:label> \"three\" .\n")
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      // one glob line -> one commit; count from segment footers
      val r = post(srv.address + "/dataloader", s"# batch 1\n$data/*.nt\n", "text/plain")
      assert(r.statusCode() == 200 && r.body().contains("""modified="3""""), r.body())
      val q = post(srv.address + "/sparql",
        "SELECT ?s WHERE { ?s <urn:graft:label> ?l }", "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, q.body()).count() == 3)
      // non-file schemes are refused loudly
      assert(post(srv.address + "/dataloader", "https://example.com/x.nt",
        "text/plain").statusCode() == 400)
      // the dataloader compacted the head: unbound ESTCARD is a
      // metadata read (no Spark job), marked fastpath="metadata"
      val est = send(req(srv.address + "/sparql?ESTCARD").GET())
      assert(est.body().contains("""rangeCount="3"""") &&
        est.body().contains("""fastpath="metadata""""), est.body())
      // graph-bound ESTCARD prunes to one partition directory
      val estg = send(req(srv.address + "/sparql?ESTCARD&c=" +
        java.net.URLEncoder.encode("<urn:graft:g:default>", "UTF-8")).GET())
      assert(estg.body().contains("""rangeCount="3"""") &&
        estg.body().contains("""fastpath="metadata""""), estg.body())
      val estg0 = send(req(srv.address + "/sparql?ESTCARD&c=" +
        java.net.URLEncoder.encode("<urn:graft:g:none>", "UTF-8")).GET())
      assert(estg0.body().contains("""rangeCount="0""""), estg0.body())
      // a bound s/p/o term still runs the exact pruned count
      val ests = send(req(srv.address + "/sparql?ESTCARD&s=" +
        java.net.URLEncoder.encode("<urn:graft:d:1>", "UTF-8")).GET())
      assert(ests.body().contains("""rangeCount="1"""") &&
        !ests.body().contains("fastpath"), ests.body())
    } finally srv.stop()
  }

  test("multi-request write tx: staged invisibly, commits atomically, abort/conflict loud") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      def begin() = {
        val r = post(srv.address + "/tx", "", "text/plain")
        assert(r.statusCode() == 201, r.body())
        "txId=\"([0-9a-f-]+)\"".r.findFirstMatchIn(r.body()).get.group(1)
      }
      def count() = {
        val r = post(srv.address + "/sparql",
          "SELECT ?s WHERE { ?s <urn:graft:note> ?o }", "application/sparql-query")
        graft.sparql.RemoteService.parseJsonResults(spark, r.body()).count()
      }
      val tx = begin()
      // two requests stage: an update and an RDF-body data POST
      assert(post(srv.address + s"/sparql/update?tx=$tx",
        """INSERT DATA { x:t1 note "a" }""", "application/sparql-update")
        .statusCode() == 204)
      val ins = post(srv.address + s"/sparql?tx=$tx",
        "<urn:graft:x:t2> <urn:graft:note> \"b\" .", "application/n-triples")
      assert(ins.statusCode() == 200 && ins.body().contains("""staged="true""""))
      assert(count() == 0, "staged writes must be invisible before commit")
      // …but the tx's OWN queries see them (read-your-writes): both
      // the staged update and the staged data POST, in order
      val inTx = post(srv.address + s"/sparql?tx=$tx",
        "SELECT ?s WHERE { ?s <urn:graft:note> ?o }", "application/sparql-query")
      assert(inTx.statusCode() == 200, inTx.body())
      assert(graft.sparql.RemoteService.parseJsonResults(spark, inTx.body()).count() == 2,
        inTx.body())
      // an unknown tx id on a query is loud, not silently latest-head
      assert(post(srv.address + "/sparql?tx=nope",
        "SELECT ?s WHERE { ?s ?p ?o }", "application/sparql-query")
        .statusCode() == 400)
      // commit lands BOTH as one commit point
      val c = post(srv.address + s"/tx/$tx/commit", "", "text/plain")
      assert(c.statusCode() == 200 && c.body().contains("committed="), c.body())
      assert(count() == 2)
      // abort leaves no trace
      val tx2 = begin()
      assert(post(srv.address + s"/sparql/update?tx=$tx2",
        """INSERT DATA { x:t3 note "c" }""", "application/sparql-update")
        .statusCode() == 204)
      assert(post(srv.address + s"/tx/$tx2/abort", "", "text/plain").statusCode() == 200)
      assert(count() == 2)
      assert(post(srv.address + s"/tx/$tx2/commit", "", "text/plain").statusCode() == 404)
      // first-committer-wins: two concurrent txs, the loser is a 409
      val txA = begin(); val txB = begin()
      assert(post(srv.address + s"/sparql/update?tx=$txA",
        """INSERT DATA { x:t4 note "d" }""", "application/sparql-update")
        .statusCode() == 204)
      assert(post(srv.address + s"/sparql/update?tx=$txB",
        """INSERT DATA { x:t5 note "e" }""", "application/sparql-update")
        .statusCode() == 204)
      assert(post(srv.address + s"/tx/$txA/commit", "", "text/plain").statusCode() == 200)
      assert(post(srv.address + s"/tx/$txB/commit", "", "text/plain").statusCode() == 409)
      assert(count() == 3)
      // staging into an unknown tx is loud
      assert(post(srv.address + "/sparql/update?tx=nope",
        """INSERT DATA { x:t6 note "f" }""", "application/sparql-update")
        .statusCode() == 400)
    } finally srv.stop()
  }

  test("per-namespace analyzer config: bds:search default, survives restart") {
    val root = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), root).start()
    val q = """SELECT ?lit WHERE {
              |  SERVICE bds:search { _:s bds:query "数据库" . _:s bds:out ?lit }
              |}""".stripMargin
    try {
      assert(post(srv.address + "/namespace", "name=zhkb&analyzer=cjk",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/zhkb/sparql/update",
        """INSERT DATA { x:d1 note "分布式数据库系统" }""",
        "application/sparql-update").statusCode() == 204)
      // the namespace's configured analyzer drives bds:search with NO
      // bds:analyzer in the query — CJK literals match
      val r = post(srv.address + "/namespace/zhkb/sparql", q,
        "application/sparql-query")
      assert(r.statusCode() == 200, r.body().take(300))
      assert(graft.sparql.RemoteService.parseJsonResults(spark, r.body()).count() == 1,
        r.body())
      // the default namespace has no analyzer config → Latin → no hits
      assert(post(srv.address + "/sparql/update",
        """INSERT DATA { x:d2 note "分布式数据库系统" }""",
        "application/sparql-update").statusCode() == 204)
      val rd = post(srv.address + "/sparql", q, "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, rd.body()).count() == 0)
      // properties document names the analyzer
      val pr = send(req(srv.address + "/namespace/zhkb/properties").GET())
      assert(pr.body().contains("""<entry key="graft.analyzer">cjk</entry>"""), pr.body())
    } finally srv.stop()
    // restart: the conf reattaches with the namespace
    val srv2 = SparqlServer.durable(Graft.empty(spark), root).start()
    try {
      val r2 = post(srv2.address + "/namespace/zhkb/sparql", q,
        "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, r2.body()).count() == 1,
        r2.body())
    } finally srv2.stop()
  }

  test("namespace text index: maintained on commits, reattaches on restart") {
    val root = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), root).start()
    val q = """SELECT ?lit WHERE {
              |  SERVICE bds:search { _:s bds:query "spark" . _:s bds:out ?lit }
              |} ORDER BY ?lit""".stripMargin
    def hits(addr: String): Seq[String] = {
      val r = post(addr + "/namespace/ixkb/sparql", q, "application/sparql-query")
      assert(r.statusCode() == 200, r.body().take(300))
      graft.sparql.RemoteService.parseJsonResults(spark, r.body())
        .collect().map(_.getString(0)).toSeq
    }
    try {
      assert(post(srv.address + "/namespace", "name=ixkb&textIndex=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      val pr = send(req(srv.address + "/namespace/ixkb/properties").GET())
      assert(pr.body().contains("""<entry key="graft.textIndex">true</entry>"""),
        pr.body())
      // commit → the index syncs on the write path → search sees the
      // literal with NO rebuild (the maintained-on-commit contract)
      assert(post(srv.address + "/namespace/ixkb/sparql/update",
        """INSERT DATA { x:a note "the spark engine" }""",
        "application/sparql-update").statusCode() == 204)
      assert(hits(srv.address) == Seq("the spark engine"))
      assert(post(srv.address + "/namespace/ixkb/sparql/update",
        """INSERT DATA { x:b note "spark streams" }""",
        "application/sparql-update").statusCode() == 204)
      assert(hits(srv.address) == Seq("spark streams", "the spark engine"))
      // DELETE maintenance: retracting the only quad carrying a
      // literal removes it from the hit set
      assert(post(srv.address + "/namespace/ixkb/sparql/update",
        """DELETE DATA { x:b note "spark streams" }""",
        "application/sparql-update").statusCode() == 204)
      assert(hits(srv.address) == Seq("the spark engine"))
    } finally srv.stop()
    // restart: the index reattaches (and re-syncs) with the namespace
    val srv2 = SparqlServer.durable(Graft.empty(spark), root).start()
    try {
      assert(hits(srv2.address) == Seq("the spark engine"))
      assert(post(srv2.address + "/namespace/ixkb/sparql/update",
        """INSERT DATA { x:c note "spark sql" }""",
        "application/sparql-update").statusCode() == 204)
      assert(hits(srv2.address) == Seq("spark sql", "the spark engine"))
    } finally srv2.stop()
    // an in-memory server rejects the option loud
    val mem = new SparqlServer(Graft.empty(spark)).start()
    try {
      val r = post(mem.address + "/namespace", "name=nope&textIndex=true",
        "application/x-www-form-urlencoded")
      assert(r.statusCode() == 400 && r.body().contains("journal-backed"), r.body())
    } finally mem.stop()
  }

  test("Thai namespace: dictionary segmentation through the persisted index, restart-stable") {
    val root = tmp()
    def hits(addr: String, q: String): Seq[String] = {
      val body = s"""SELECT ?lit WHERE {
                    |  SERVICE bds:search { _:s bds:query "$q" . _:s bds:out ?lit }
                    |} ORDER BY ?lit""".stripMargin
      val r = post(addr + "/namespace/thkb/sparql", body, "application/sparql-query")
      assert(r.statusCode() == 200, r.body().take(300))
      graft.sparql.RemoteService.parseJsonResults(spark, r.body())
        .collect().map(_.getString(0)).toSeq
    }
    val srv = SparqlServer.durable(Graft.empty(spark), root).start()
    try {
      // per-namespace analyzer=thai + maintained index: the commit
      // tokenizes through the dictionary BreakIterator, so a WORD
      // query matches inside an unbroken Thai run — the thing both
      // Latin (zero terms) and Unicode (mark-split fragments) get
      // wrong for Thai
      assert(post(srv.address + "/namespace",
        "name=thkb&textIndex=true&analyzer=thai",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/thkb/sparql/update",
        """INSERT DATA { x:a note "ฐานข้อมูลแบบกระจาย" . x:b note "การค้นหา" }""",
        "application/sparql-update").statusCode() == 204)
      assert(hits(srv.address, "ข้อมูล") == Seq("ฐานข้อมูลแบบกระจาย"))
    } finally srv.stop()
    // restart: analyzer.conf + index reattach; query-side tokenization
    // still agrees with the persisted postings
    val srv2 = SparqlServer.durable(Graft.empty(spark), root).start()
    try {
      assert(hits(srv2.address, "กระจาย") == Seq("ฐานข้อมูลแบบกระจาย"))
      val pr = send(req(srv2.address + "/namespace/thkb/properties").GET())
      assert(pr.body().contains("thai"), pr.body())
    } finally srv2.stop()
  }

  test("protocol dataset parameters: default-graph-uri/named-graph-uri scope the query") {
    val g0 = Graft.empty(spark).update(
      """INSERT DATA {
        |  GRAPH g:one { x:a val "1" . } GRAPH g:two { x:b val "2" . }
        |  x:c val "3" . }""".stripMargin)
    val srv = new SparqlServer(g0).start()
    def rows(url: String, q: String): Seq[String] = {
      val r = post(url, q, "application/sparql-query")
      assert(r.statusCode() == 200, r.body().take(300))
      graft.sparql.RemoteService.parseJsonResults(spark, r.body())
        .collect().map(_.getString(0)).toSeq
    }
    val q = "SELECT ?s WHERE { ?s val ?v } ORDER BY ?s"
    try {
      // no dataset: the namespace's own default graph answers (the
      // server handle runs union-default-graph, so all three match)
      assert(rows(srv.address + "/sparql", q) == Seq("x:a", "x:b", "x:c"))
      // protocol default graph: SAME query, different dataset, no FROM
      // rewriting — the sparql11-protocol §2.1.4 contract
      assert(rows(srv.address + "/sparql?default-graph-uri=g:one", q) == Seq("x:a"))
      // REPEATED parameter (the RDF4J/Jena remote-store shape): the
      // default graph is the MERGE of the listed graphs
      assert(rows(srv.address + "/sparql?default-graph-uri=g:one&default-graph-uri=g:two",
        q) == Seq("x:a", "x:b"))
      // the dataset is a SET: the same graph listed twice must not
      // double solution multiplicity through the merge union
      assert(rows(srv.address + "/sparql?default-graph-uri=g:one&default-graph-uri=g:one",
        q) == Seq("x:a"))
      // named-graph-uri scopes GRAPH patterns; absent → GRAPH matches
      // nothing under a protocol dataset (§13.2 empty named set)
      val qg = "SELECT ?g WHERE { GRAPH ?g { ?s val ?v } } ORDER BY ?g"
      assert(rows(srv.address + "/sparql?named-graph-uri=g:two", qg) == Seq("g:two"))
      assert(rows(srv.address + "/sparql?default-graph-uri=g:one", qg).isEmpty)
      // protocol dataset TAKES PRECEDENCE over the query's own FROM
      val qFrom = "SELECT ?s FROM g:two WHERE { ?s val ?v } ORDER BY ?s"
      assert(rows(srv.address + "/sparql", qFrom) == Seq("x:b"))
      assert(rows(srv.address + "/sparql?default-graph-uri=g:one", qFrom) == Seq("x:a"))
      // the URL-encoded POST binding carries the dataset in the form
      val form = "query=" + java.net.URLEncoder.encode(q, "UTF-8") +
        "&default-graph-uri=" + java.net.URLEncoder.encode("g:two", "UTF-8")
      val fr = post(srv.address + "/sparql", form, "application/x-www-form-urlencoded")
      assert(fr.statusCode() == 200 && fr.body().contains("x:b"), fr.body().take(300))
      // GET binding too
      val gr = send(req(srv.address + "/sparql?query=" +
        java.net.URLEncoder.encode(q, "UTF-8") + "&default-graph-uri=g:one").GET())
      assert(gr.statusCode() == 200 && gr.body().contains("x:a") &&
        !gr.body().contains("x:c"), gr.body().take(300))
    } finally srv.stop()
  }

  test("protocol update dataset: using-graph-uri scopes WHERE; combined with USING → 400") {
    val g0 = Graft.empty(spark).update(
      """INSERT DATA {
        |  GRAPH g:one { x:a val "1" . } GRAPH g:two { x:b val "2" . } }""".stripMargin)
    val srv = new SparqlServer(g0).start()
    try {
      // WHERE reads ONLY the protocol using graph: x:a matches (g:one),
      // x:b does not
      val up = "INSERT { ?s tagged \"yes\" } WHERE { ?s val ?v }"
      val r = post(srv.address + "/sparql/update?using-graph-uri=g:one", up,
        "application/sparql-update")
      assert(r.statusCode() == 204, r.body().take(300))
      val q = "SELECT ?s WHERE { ?s tagged ?t } ORDER BY ?s"
      val qr = post(srv.address + "/sparql", q, "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, qr.body())
        .collect().map(_.getString(0)).toSeq == Seq("x:a"))
      // §2.2.3: protocol dataset + USING in the text is an ERROR
      val bad = post(srv.address + "/sparql/update?using-graph-uri=g:one",
        "INSERT { ?s tagged \"no\" } USING g:two WHERE { ?s val ?v }",
        "application/sparql-update")
      assert(bad.statusCode() == 400 && bad.body().contains("USING"),
        s"${bad.statusCode()} ${bad.body().take(300)}")
      // …and + WITH likewise
      val badWith = post(srv.address + "/sparql/update?using-graph-uri=g:one",
        "WITH g:two DELETE { ?s val ?v } WHERE { ?s val ?v }",
        "application/sparql-update")
      assert(badWith.statusCode() == 400, badWith.body().take(300))
    } finally srv.stop()
  }

  test("RemoteRepository passes the protocol dataset (loopback)") {
    val g0 = Graft.empty(spark).update(
      """INSERT DATA {
        |  GRAPH g:one { x:a val "1" . } GRAPH g:two { x:b val "2" . } }""".stripMargin)
    val srv = new SparqlServer(g0).start()
    try {
      val remote = new RemoteRepository(spark, srv.address)
      val q = "SELECT ?s WHERE { ?s val ?v } ORDER BY ?s"
      // union default graph without a dataset; the protocol dataset
      // then narrows the SAME query to one graph
      assert(remote.query(q).collect().map(_.getString(0)).toSeq ==
        Seq("x:a", "x:b"))
      assert(remote.query(q, defaultGraphUris = Seq("g:one"))
        .collect().map(_.getString(0)).toSeq == Seq("x:a"))
      val qg = "SELECT ?g WHERE { GRAPH ?g { ?s val ?v } } ORDER BY ?g"
      assert(remote.query(qg, namedGraphUris = Seq("g:one"))
        .collect().map(_.getString(0)).toSeq == Seq("g:one"))
      // the client's deadline knob rides the header; the server's 503
      // surfaces as a loud client error (setMaxQueryMillis analog)
      val slow = "SELECT ?s ?p ?o ?s2 ?p2 WHERE { ?s ?p ?o . ?s2 ?p2 ?o }"
      val boom = intercept[Exception](remote.query(slow, maxQueryMillis = 1L))
      assert(boom.getMessage.contains("503"), boom.getMessage)
      // a generous deadline answers normally
      assert(remote.query(q, maxQueryMillis = 60000L).count() == 2)
    } finally srv.stop()
  }

  test("protocol conformance corners: q-values, 415, HEAD, malformed → 400") {
    val g0 = Graft.empty(spark).update("""INSERT DATA { x:a val "1" }""")
    val srv = new SparqlServer(g0).start()
    val q = "SELECT ?s WHERE { ?s val ?v }"
    try {
      // Accept q-values: JSON outranks CSV here even though CSV is
      // listed first — the old contains-dispatch would have picked CSV
      val r1 = send(req(srv.address + "/sparql?query=" +
        java.net.URLEncoder.encode(q, "UTF-8"))
        .header("Accept",
          "text/csv;q=0.3, application/sparql-results+json;q=0.9").GET())
      assert(r1.statusCode() == 200 &&
        r1.headers().firstValue("Content-Type").orElse("")
          .contains("results+json"), r1.headers().map().toString)
      // wildcard falls to the spec default (JSON), not an accidental
      // substring match ("application/xml" must not select XML results)
      val r2 = send(req(srv.address + "/sparql?query=" +
        java.net.URLEncoder.encode(q, "UTF-8"))
        .header("Accept", "text/html, application/xml;q=0.9, */*;q=0.8").GET())
      assert(r2.headers().firstValue("Content-Type").orElse("")
        .contains("results+json"), r2.headers().map().toString)
      // POST with a declared media type no binding speaks → 415
      val r3 = post(srv.address + "/sparql", q, "application/unknown-thing")
      assert(r3.statusCode() == 415, s"${r3.statusCode()} ${r3.body().take(200)}")
      // RFC 7231 most-specific precedence: the q the client put on the
      // exact type beats a higher-q wildcard — CSV (via */*;q=0.5)
      // outranks the explicitly deprioritized JSON (q=0.1)
      val r3b = send(req(srv.address + "/sparql?query=" +
        java.net.URLEncoder.encode(q, "UTF-8"))
        .header("Accept", "*/*;q=0.5, application/sparql-results+json;q=0.1").GET())
      assert(!r3b.headers().firstValue("Content-Type").orElse("")
        .contains("results+json"), r3b.headers().map().toString)
      // q=0 is EXCLUSION: a CSV-only header with q=0 must not land on
      // CSV through the loose substring dispatch — the default serves
      val r3c = send(req(srv.address + "/sparql?query=" +
        java.net.URLEncoder.encode(q, "UTF-8"))
        .header("Accept", "text/csv;q=0").GET())
      assert(r3c.headers().firstValue("Content-Type").orElse("")
        .contains("results+json"), r3c.headers().map().toString)
      // HEAD: status + headers, no body
      val r4 = send(req(srv.address + "/sparql")
        .method("HEAD", java.net.http.HttpRequest.BodyPublishers.noBody()))
      assert(r4.statusCode() == 200 && r4.body().isEmpty, r4.body().take(200))
      // HEAD resolves the namespace FIRST — a liveness probe on a
      // nonexistent namespace must fail like a GET would, not 200
      val r4b = send(req(srv.address + "/namespace/never-created/sparql")
        .method("HEAD", java.net.http.HttpRequest.BodyPublishers.noBody()))
      assert(r4b.statusCode() / 100 == 4, s"got ${r4b.statusCode()}")
      // malformed query → 400 with a text/plain message
      val r5 = post(srv.address + "/sparql", "SELECT WHERE garbage {{",
        "application/sparql-query")
      assert(r5.statusCode() == 400 &&
        r5.headers().firstValue("Content-Type").orElse("").startsWith("text/plain"),
        s"${r5.statusCode()} ${r5.headers().map()}")
      // query deadline (the reference's timeout=/maxQueryTimeMillis=/
      // X-BIGDATA-MAX-QUERY-MILLIS knobs): a 1 ms budget kills the
      // query's job group → 503 with the timeout message, not a 400
      val slow = "SELECT ?s ?p ?o ?s2 ?p2 WHERE { ?s ?p ?o . ?s2 ?p2 ?o }"
      val r6 = post(srv.address + "/sparql?maxQueryTimeMillis=1", slow,
        "application/sparql-query")
      assert(r6.statusCode() == 503 && r6.body().contains("timeout"),
        s"${r6.statusCode()} ${r6.body().take(120)}")
      // the same query without a deadline still answers
      val r7 = post(srv.address + "/sparql", "ASK { ?s ?p ?o }",
        "application/sparql-query")
      assert(r7.statusCode() == 200)
      // a generous deadline does not fire
      val r8 = send(req(srv.address + "/sparql?timeout=60")
        .header("Content-Type", "application/sparql-query")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("ASK { ?s ?p ?o }")))
      assert(r8.statusCode() == 200, s"${r8.statusCode()} ${r8.body().take(120)}")
    } finally srv.stop()
  }

  test("text index stays attached across auto-compaction (sync lands on the post-compaction head)") {
    val root = tmp()
    // autoCompactEvery=1: EVERY write triggers a journal compaction —
    // the regression this pins: syncing the index before the
    // compaction bumped the journal version left ix.version one
    // behind, withIx silently detached, and /properties stopped
    // reporting graft.textIndex until the next write
    val srv = SparqlServer.durable(Graft.empty(spark), root,
      autoCompactEvery = 1).start()
    try {
      assert(post(srv.address + "/namespace", "name=acix&textIndex=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/acix/sparql/update",
        """INSERT DATA { x:a note "the spark engine" }""",
        "application/sparql-update").statusCode() == 204)
      // the write auto-compacted; the index must still be CURRENT (not
      // silently detached onto the corpus fallback)
      val pr = send(req(srv.address + "/namespace/acix/properties").GET())
      assert(pr.body().contains("""<entry key="graft.textIndex">true</entry>"""),
        pr.body())
      val q = """SELECT ?lit WHERE {
                |  SERVICE bds:search { _:s bds:query "spark" . _:s bds:out ?lit }
                |} ORDER BY ?lit""".stripMargin
      val r = post(srv.address + "/namespace/acix/sparql", q,
        "application/sparql-query")
      assert(r.statusCode() == 200, r.body().take(300))
      assert(graft.sparql.RemoteService.parseJsonResults(spark, r.body())
        .collect().map(_.getString(0)).toSeq == Seq("the spark engine"))
      // bounded reclaim: every compaction cycle vacuums the generation
      // the PREVIOUS cycle superseded, so segment count stays O(1)
      // instead of leaking one full postings copy per cycle
      for (i <- 2 to 6)
        assert(post(srv.address + "/namespace/acix/sparql/update",
          s"""INSERT DATA { x:$i note "commit number $i" }""",
          "application/sparql-update").statusCode() == 204)
      val ixDir = java.nio.file.Paths.get(root, "acix", "textindex")
      val segs = {
        val ls = java.nio.file.Files.list(ixDir)
        try ls.toArray.map(_.toString).count(n =>
          n.contains("seg-") && n.endsWith("-adds.parquet"))
        finally ls.close()
      }
      assert(segs <= 3, s"expected bounded postings generations, found $segs adds segments")
      // and the search surface still answers over the current state
      val r2 = post(srv.address + "/namespace/acix/sparql",
        """SELECT ?lit WHERE {
          |  SERVICE bds:search { _:s bds:query "number" . _:s bds:out ?lit }
          |} ORDER BY ?lit""".stripMargin, "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, r2.body()).count() == 5)
    } finally srv.stop()
  }

  test("ospIndex=true namespace: searchInSearch hits the bucket-pruned twin after auto-compaction") {
    val root = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), root,
      autoCompactEvery = 1).start()
    try {
      assert(post(srv.address + "/namespace", "name=ospkb&ospIndex=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/ospkb/sparql/update",
        """INSERT DATA { x:a note "alpha text" . x:b note "beta text" . }""",
        "application/sparql-update").statusCode() == 204)
      // the write auto-compacted with the twin: /properties reports the
      // access path current, and the score-class searchInSearch answers
      val pr = send(req(srv.address + "/namespace/ospkb/properties").GET())
      assert(pr.body().contains("""<entry key="graft.ospIndex">current</entry>"""),
        pr.body())
      val q =
        """SELECT ?s WHERE {
          |  ?s note ?t .
          |  SERVICE bds:searchInSearch {
          |    ?s bds:searchInSearch "alpha" . ?s bds:minRelevance "0.0001" .
          |  }
          |} ORDER BY ?s""".stripMargin
      val r = post(srv.address + "/namespace/ospkb/sparql", q,
        "application/sparql-query")
      assert(r.statusCode() == 200, r.body().take(300))
      assert(graft.sparql.RemoteService.parseJsonResults(spark, r.body())
        .collect().map(_.getString(0)).toSeq == Seq("x:a"))
      // the server-side plan (protocol ?explain) shows the twin's
      // partition pruning — the pruned path, not the full-view pass
      val ex = send(req(srv.address + "/namespace/ospkb/sparql?explain&query=" +
        java.net.URLEncoder.encode(q, "UTF-8")).GET())
      assert(ex.statusCode() == 200 && ex.body().contains("obh"),
        ex.body().take(500))
    } finally srv.stop()
  }

  test("pattern/keyword analyzer modes persist per namespace, survive restart") {
    val root = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), root).start()
    // the query term contains a SPACE — only the pattern analyzer
    // (split on ';') can index and match it as one term
    val q = """SELECT ?lit WHERE {
              |  SERVICE bds:search { _:s bds:query "Beta Gamma" . _:s bds:out ?lit }
              |}""".stripMargin
    try {
      assert(post(srv.address + "/namespace", "name=pat&analyzer=pattern:[;]",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/pat/sparql/update",
        """INSERT DATA { x:d1 note "Alpha;Beta Gamma;x" }""",
        "application/sparql-update").statusCode() == 204)
      val r = post(srv.address + "/namespace/pat/sparql", q,
        "application/sparql-query")
      assert(r.statusCode() == 200, r.body().take(300))
      assert(graft.sparql.RemoteService.parseJsonResults(spark, r.body()).count() == 1,
        r.body())
      // properties document carries the full pattern config
      val pr = send(req(srv.address + "/namespace/pat/properties").GET())
      assert(pr.body().contains("pattern:[;]"), pr.body())
      // keyword is a plain id-shaped name through the same seam
      assert(post(srv.address + "/namespace", "name=kwns&analyzer=keyword",
        "application/x-www-form-urlencoded").statusCode() == 201)
      // term-completion (with a parameterized subword regex) rides the
      // same seam — a prefix bds:search completes mid-word
      assert(post(srv.address + "/namespace",
        "name=tcns&analyzer=" + java.net.URLEncoder.encode("termcompletion:[-]", "UTF-8"),
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/tcns/sparql/update",
        """INSERT DATA { x:d1 note "half-time report" }""",
        "application/sparql-update").statusCode() == 204)
      val tq = """SELECT ?lit WHERE {
                 |  SERVICE bds:search { _:s bds:query "tim" .
                 |                       _:s bds:prefixMatch "true" .
                 |                       _:s bds:out ?lit }
                 |}""".stripMargin
      val tr = post(srv.address + "/namespace/tcns/sparql", tq,
        "application/sparql-query")
      assert(tr.statusCode() == 200, tr.body().take(300))
      assert(graft.sparql.RemoteService.parseJsonResults(spark, tr.body()).count() == 1,
        tr.body())
      // malformed analyzer names still refuse loudly
      assert(post(srv.address + "/namespace", "name=bad&analyzer=no%20such!",
        "application/x-www-form-urlencoded").statusCode() != 201)
    } finally srv.stop()
    // restart: the pattern conf reattaches with the namespace
    val srv2 = SparqlServer.durable(Graft.empty(spark), root).start()
    try {
      val r2 = post(srv2.address + "/namespace/pat/sparql", q,
        "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, r2.body()).count() == 1,
        r2.body())
    } finally srv2.stop()
  }

  test("graph-level tx conflict: disjoint-graph txs both commit, same-graph 409s") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      def begin() = {
        val r = post(srv.address + "/tx", "", "text/plain")
        assert(r.statusCode() == 201, r.body())
        "txId=\"([0-9a-f-]+)\"".r.findFirstMatchIn(r.body()).get.group(1)
      }
      def stage(tx: String, g: String, s: String) =
        assert(post(srv.address + s"/sparql/update?tx=$tx",
          s"""INSERT DATA { GRAPH <urn:graft:g:$g> { x:$s note "$s" } }""",
          "application/sparql-update").statusCode() == 204)
      // the spurious-409 case the whole-head check produced: two txs on
      // DISJOINT graphs — the second commit validates against the
      // interleaved commit's manifest graph set and proceeds (TxServlet
      // per-index-range validation, at g-partition granularity)
      val txA = begin(); val txB = begin()
      stage(txA, "one", "a"); stage(txB, "two", "b")
      assert(post(srv.address + s"/tx/$txA/commit", "", "text/plain").statusCode() == 200)
      val rb = post(srv.address + s"/tx/$txB/commit", "", "text/plain")
      assert(rb.statusCode() == 200, s"disjoint-graph tx must commit: ${rb.body()}")
      // both writes are in the head
      val q = post(srv.address + "/sparql",
        "SELECT ?s WHERE { GRAPH ?g { ?s <urn:graft:note> ?o } }",
        "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, q.body()).count() == 2,
        q.body())
      // same-graph interleaving is still a loud 409, naming the graph
      val txC = begin(); val txD = begin()
      stage(txC, "one", "c"); stage(txD, "one", "d")
      assert(post(srv.address + s"/tx/$txC/commit", "", "text/plain").statusCode() == 200)
      val rd = post(srv.address + s"/tx/$txD/commit", "", "text/plain")
      assert(rd.statusCode() == 409, rd.body())
      // graphs are interned to local names engine-side
      assert(rd.body().contains("g:one"), rd.body())
    } finally srv.stop()
  }

  test("tx READ-set conflict 409s; racing auto-compaction does not 409") {
    def begin(srv: SparqlServer) = {
      val r = post(srv.address + "/tx", "", "text/plain")
      assert(r.statusCode() == 201, r.body())
      "txId=\"([0-9a-f-]+)\"".r.findFirstMatchIn(r.body()).get.group(1)
    }
    // A) an update whose WHERE reads graph src but writes graph dst:
    // write sets are disjoint from the interleaved commit, but the
    // interleaved commit CHANGED what the WHERE matches — the staged
    // delta evaluated at the tx's snapshot differs from its evaluation
    // at the head, so first-committer-wins must 409 (the r9 gap: only
    // write sets were validated, and this committed silently with a
    // different effect than the client's isolated view showed)
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      assert(post(srv.address + "/sparql/update",
        """INSERT DATA { GRAPH <urn:graft:g:src> { x:a note "a" } }""",
        "application/sparql-update").statusCode() == 204)
      // stage a copy-out: reads graph src (USING), writes the DEFAULT
      // graph — write sets vs the interleaved src commit are disjoint
      val copyOut =
        """INSERT { ?s <urn:graft:copied> ?o }
          |USING <urn:graft:g:src> WHERE { ?s <urn:graft:note> ?o }""".stripMargin
      val tx = begin(srv)
      assert(post(srv.address + s"/sparql/update?tx=$tx", copyOut,
        "application/sparql-update").statusCode() == 204)
      assert(post(srv.address + "/sparql/update",
        """INSERT DATA { GRAPH <urn:graft:g:src> { x:b note "b" } }""",
        "application/sparql-update").statusCode() == 204)
      val r = post(srv.address + s"/tx/$tx/commit", "", "text/plain")
      assert(r.statusCode() == 409, s"stale read must 409: ${r.body()}")
      assert(r.body().contains("reads data modified"), r.body())
      // same staging against an UNMOVED head commits fine
      val tx2 = begin(srv)
      assert(post(srv.address + s"/sparql/update?tx=$tx2", copyOut,
        "application/sparql-update").statusCode() == 204)
      assert(post(srv.address + s"/tx/$tx2/commit", "", "text/plain")
        .statusCode() == 200)
    } finally srv.stop()
    // B) compaction commits make no logical change; with
    // autoCompactEvery=1 every write triggers one, and its manifest
    // names EVERY graph — a disjoint-graph tx racing it must still
    // commit (the r9 behavior 409'd here, defeating graph-level
    // validation under exactly the write pressure it was built for)
    val srv2 = SparqlServer.durable(Graft.empty(spark), tmp(),
      autoCompactEvery = 1).start()
    try {
      assert(post(srv2.address + "/sparql/update",
        """INSERT DATA { GRAPH <urn:graft:g:two> { x:seed note "s" } }""",
        "application/sparql-update").statusCode() == 204)
      val txA = begin(srv2); val txB = begin(srv2)
      assert(post(srv2.address + s"/sparql/update?tx=$txA",
        """INSERT DATA { GRAPH <urn:graft:g:one> { x:a note "a" } }""",
        "application/sparql-update").statusCode() == 204)
      assert(post(srv2.address + s"/sparql/update?tx=$txB",
        """INSERT DATA { GRAPH <urn:graft:g:two> { x:b note "b" } }""",
        "application/sparql-update").statusCode() == 204)
      assert(post(srv2.address + s"/tx/$txA/commit", "", "text/plain")
        .statusCode() == 200)
      val rb = post(srv2.address + s"/tx/$txB/commit", "", "text/plain")
      assert(rb.statusCode() == 200,
        s"tx racing auto-compaction must not 409: ${rb.body()}")
    } finally srv2.stop()
  }

  test("blueprints REST: mutate over HTTP, traverse back; workbench index serves HTML") {
    val srv = new SparqlServer(Graft.empty(spark)).start()
    try {
      val form = "application/x-www-form-urlencoded"
      def bp(body: String) = post(srv.address + "/blueprints", body, form)
      assert(bp("op=addVertex&id=v:alice&label=Person").statusCode() == 204)
      assert(bp("op=addVertex&id=v:bob&label=Person").statusCode() == 204)
      assert(bp("op=addEdge&out=v:alice&label=knows&in=v:bob").statusCode() == 204)
      assert(bp("op=setProperty&id=v:alice&key=name&value=Alice").statusCode() == 204)
      assert(bp("op=setProperty&id=v:alice&key=name&value=Alice+B").statusCode() == 204)
      // single-valued set: the second set REPLACED the first
      val v = send(req(srv.address + "/blueprints?vertex=" +
        java.net.URLEncoder.encode("v:alice", "UTF-8")).GET())
      assert(v.statusCode() == 200, v.body())
      assert(v.body().contains("knows") && v.body().contains("Alice B") &&
        !v.body().contains("\"Alice\""), v.body())
      // traverse through SPARQL too (same statements)
      val q = post(srv.address + "/sparql",
        "SELECT ?x WHERE { <urn:graft:v:alice> <urn:graft:knows> ?x }",
        "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, q.body())
        .collect().map(_.getString(0)).toSeq == Seq("v:bob"))
      // removeVertex drops the vertex AND incident edges
      assert(bp("op=removeVertex&id=v:bob").statusCode() == 204)
      val q2 = post(srv.address + "/sparql",
        "SELECT ?x WHERE { ?s <urn:graft:knows> ?x }", "application/sparql-query")
      assert(graft.sparql.RemoteService.parseJsonResults(spark, q2.body()).count() == 0)
      assert(bp("op=unknown&id=v").statusCode() == 400)
      // workbench index: HTML naming each namespace's endpoint, with
      // the query form posting to /workbench and a namespace switcher
      val idx = send(req(srv.address + "/").GET())
      assert(idx.statusCode() == 200 && idx.body().contains("<html") &&
        idx.body().contains("/namespace/kb/sparql"), idx.body().take(200))
      assert(idx.body().contains("""action="/workbench"""") &&
        idx.body().contains("""<select name="ns""""), idx.body().take(400))
      assert(send(req(srv.address + "/nothing-here").GET()).statusCode() == 404)
      // workbench form path: a SELECT renders an HTML bindings table
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      val wb = post(srv.address + "/workbench",
        s"ns=kb&query=${enc("SELECT ?s ?x WHERE { ?s <urn:graft:knows> ?x }")}",
        "application/x-www-form-urlencoded")
      assert(wb.statusCode() == 200, wb.body().take(300))
      assert(wb.body().contains("<table") && wb.body().contains("<th>s</th>") &&
        wb.body().contains("<th>x</th>"), wb.body().take(600))
      // ASK renders through the same table path; bad ns is loud
      val ask = post(srv.address + "/workbench",
        s"ns=kb&query=${enc("ASK { ?s ?p ?o }")}",
        "application/x-www-form-urlencoded")
      assert(ask.statusCode() == 200 && ask.body().contains("<table"), ask.body().take(300))
      assert(post(srv.address + "/workbench", s"ns=nope&query=${enc("ASK {}")}",
        "application/x-www-form-urlencoded").statusCode() == 400)
      // bare GET serves the form
      val wf = send(req(srv.address + "/workbench").GET())
      assert(wf.statusCode() == 200 && wf.body().contains("<textarea"), wf.body().take(200))
      // update form: applies through the namespace write path, then the
      // query form sees the new data
      val up = post(srv.address + "/workbench",
        s"ns=kb&update=${enc("""INSERT DATA { x:wb note "from-browser" }""")}",
        "application/x-www-form-urlencoded")
      assert(up.statusCode() == 200 && up.body().contains("update applied"), up.body().take(300))
      val wq = post(srv.address + "/workbench",
        s"ns=kb&query=${enc("SELECT ?o WHERE { <urn:graft:x:wb> <urn:graft:note> ?o }")}",
        "application/x-www-form-urlencoded")
      assert(wq.body().contains("from-browser"), wq.body().take(600))
      // the index page carries the create-namespace form (POST /namespace
      // is the protocol endpoint the form drives)
      val idx2 = send(req(srv.address + "/").GET())
      assert(idx2.body().contains("""action="/namespace""""), idx2.body().take(600))
    } finally srv.stop()
  }

  test("online backup snapshots the journal; /counters serves operation history") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      assert(post(srv.address + "/sparql/update",
        """INSERT DATA { x:b1 note "a" . x:b2 note "b" }""",
        "application/sparql-update").statusCode() == 204)
      val target = tmp() + "/snap"
      val r = post(srv.address + "/backup?target=" +
        java.net.URLEncoder.encode(target, "UTF-8"), "", "text/plain")
      assert(r.statusCode() == 200 && r.body().contains("version="), r.body())
      // the copy is itself an openable repository with the same state
      val back = graft.rdf.Repository.open(spark, target)
      assert(back.connection().query("SELECT ?s WHERE { ?s note ?o }").count() == 2)
      // the live server keeps serving and mutating after the backup
      assert(post(srv.address + "/sparql/update",
        """INSERT DATA { x:b3 note "c" }""",
        "application/sparql-update").statusCode() == 204)
      // ...without touching the snapshot
      assert(back.connection().query("SELECT ?s WHERE { ?s note ?o }").count() == 2)
      // an existing target is refused loudly
      assert(post(srv.address + "/backup?target=" +
        java.net.URLEncoder.encode(target, "UTF-8"), "", "text/plain")
        .statusCode() == 400)
      // a remote scheme is refused loudly
      assert(post(srv.address + "/backup?target=" +
        java.net.URLEncoder.encode("s3://bucket/x", "UTF-8"), "", "text/plain")
        .statusCode() == 400)
      // counters: a query lands in the history ring with its namespace
      assert(post(srv.address + "/sparql", "ASK { x:b1 note ?o }",
        "application/sparql-query").statusCode() == 200)
      val c = send(req(srv.address + "/counters").GET())
      assert(c.statusCode() == 200 && c.body().contains("served=") &&
        c.body().contains("""<namespace name="kb"""") &&
        c.body().contains("<recent>"), c.body())
    } finally srv.stop()
  }

  test("durable namespaces auto-compact: steady REST writes keep resolution bounded") {
    val dir = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), dir, autoCompactEvery = 4).start()
    try {
      (1 to 9).foreach { i =>
        assert(post(srv.address + "/sparql/update",
          s"""INSERT DATA { x:$i label "v$i" }""", "application/sparql-update")
          .statusCode() == 204)
      }
      // 9 commits at autoCompactEvery=4 → at least two compactions
      // interleaved; state stays exact
      val rows = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/sparql", "SELECT ?s WHERE { ?s label ?o }",
          "application/sparql-query").body())
      assert(rows.count() == 9)
      val j = graft.rdf.Journal.open(spark, s"$dir/kb")
      assert(j.lastCompacted > 0, "no compaction ever ran")
      assert(j.version - j.lastCompacted < 4 + 2,
        s"uncompacted tail unbounded: v${j.version} vs compacted ${j.lastCompacted}")
      // the head snapshot resolves from the compacted base + small tail
      assert(j.snapshot().count() == 9)
    } finally srv.stop()
  }

  test("RemoteRepository client: full protocol surface over loopback") {
    val dir = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), dir).start()
    val repo = new RemoteRepository(spark, srv.address)
    try {
      // update + query
      repo.update("""INSERT DATA { x:1 label "gear" . x:1 type "Widget" }""")
      assert(repo.ask("""ASK { x:1 type "Widget" }"""))
      assert(repo.query("SELECT ?s ?l WHERE { ?s label ?l }")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("x:1", "gear")))
      // data POST (Turtle) + ESTCARD + contexts
      assert(repo.postData(
        """<urn:graft:x:2> <urn:graft:label> "cog" .""", "text/turtle") == 1)
      assert(repo.estimateCardinality() == 3)
      assert(repo.estimateCardinality(p = Some("<urn:graft:label>")) == 2)
      assert(repo.contexts().contains("urn:graft:g:default"))
      // CONSTRUCT round-trips through the distributed N-Triples loader
      val graph = repo.queryGraph("CONSTRUCT { ?s made ?l } WHERE { ?s label ?l }")
      assert(graph.collect().map(_.getString(2)).toSet == Set("gear", "cog"))
      // GETSTMTS
      assert(repo.statements(s = Some("<urn:graft:x:1>")).count() == 2)
      // deleteByQuery + deleteData
      assert(repo.deleteByQuery(
        """CONSTRUCT { ?s ?p "cog" } WHERE { ?s ?p "cog" }""") == 1)
      assert(repo.deleteData(
        "<urn:graft:x:1> <urn:graft:type> \"Widget\" .",
        "application/n-triples") == 1)
      assert(repo.estimateCardinality() == 1)
      // explain
      assert(repo.explain("SELECT ?s WHERE { ?s label ?l }").contains("Physical Plan"))
      // namespace management
      repo.createNamespace("side")
      assert(repo.listNamespaces().toSet == Set("kb", "side"))
      val side = repo.forNamespace("side")
      side.update("""INSERT DATA { z:1 label "axle" }""")
      assert(side.estimateCardinality() == 1)
      assert(repo.estimateCardinality() == 1) // default untouched
      repo.dropNamespace("side")
      assert(repo.listNamespaces() == Seq("kb"))
      intercept[IllegalArgumentException](repo.dropNamespace("kb")) // 403
      // creation options form-encode through the client: an
      // inferencing namespace answers entailed over the wire
      repo.createNamespace("infside", Map("truthMaintenance" -> "true"))
      val inf = repo.forNamespace("infside")
      inf.update("""INSERT DATA { A subClassOf B . i:1 type A }""")
      assert(inf.query("SELECT ?t WHERE { i:1 type ?t }")
        .collect().map(_.getString(0)).toSet == Set("A", "B"))
      repo.dropNamespace("infside")
      // status endpoint responds
      assert(repo.status().startsWith("running:"))
      // ?uri= ingest through the client (server-side distributed read)
      val ntf = java.nio.file.Files.createTempFile("graft_cli", ".nt")
      java.nio.file.Files.writeString(ntf,
        "<urn:graft:u:9> <urn:graft:label> \"uri\" .\n")
      assert(repo.postUri(s"file://$ntf") == 1)
      assert(repo.estimateCardinality(s = Some("<urn:graft:u:9>")) == 1)
      // Graph Store Protocol through the client (durable backend)
      repo.putGraph("""<urn:graft:k:1> <urn:graft:p> "v" .""",
        "application/n-triples", Some("urn:graft:g:k"))
      assert(repo.getGraph(Some("urn:graft:g:k")).count() == 1)
      assert(repo.mergeGraph("""<urn:graft:k:2> <urn:graft:p> "w" .""",
        "application/n-triples", Some("urn:graft:g:k")) == 1)
      assert(repo.getGraph(Some("urn:graft:g:k")).count() == 2)
      repo.dropGraph(Some("urn:graft:g:k"))
      intercept[IllegalArgumentException](repo.getGraph(Some("urn:graft:g:k")))
      // ?timestamp= reads a historical commit point (read-only tx):
      // version 1 predates every later mutation of this test
      assert(repo.query("SELECT ?s ?l WHERE { ?s label ?l }",
        timestamp = Some(1L)).collect().map(_.getString(1)).toSeq == Seq("gear"))
    } finally srv.stop()
  }

  test("TM update-with-body: ONE atomic commit, symmetric modified count") {
    val dir = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), dir).start()
    try {
      assert(post(srv.address + "/namespace", "name=tmu&truthMaintenance=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/tmu/sparql/update",
        """INSERT DATA { Employee subClassOf Agent . e:1 type Employee . e:1 status "old" }""",
        "application/sparql-update").statusCode() == 204)                    // v1
      // remove + insert through ONE request = ONE commit: the version
      // after the PUT is 2, and there is NO intermediate commit point
      // (a crash between the halves cannot exist — r16 ADVICE)
      val put = send(req(srv.address + "/namespace/tmu/sparql?query=" +
        java.net.URLEncoder.encode(
          """CONSTRUCT { ?s status ?o } WHERE { ?s status ?o }""", "UTF-8"))
        .header("Content-Type", "application/n-triples")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(
          "<urn:graft:e:1> <urn:graft:status> \"new\" .\n")))
      assert(put.statusCode() == 200 && put.body().contains("""modified="2""""),
        put.body())
      def sel(q: String, extra: String = "") =
        graft.sparql.RemoteService.parseJsonResults(spark,
          post(srv.address + s"/namespace/tmu/sparql$extra", q,
            "application/sparql-query").body())
      // the entailed head sees BOTH halves; v2 is the one new commit
      assert(sel("""SELECT ?o WHERE { e:1 status ?o }""")
        .collect().map(_.getString(0)).toSeq == Seq("new"))
      assert(sel("""SELECT ?o WHERE { e:1 status ?o }""", "?timestamp=2")
        .collect().map(_.getString(0)).toSeq == Seq("new"))
      // no commit point 3 exists — the two halves were ONE version
      assert(post(srv.address + "/namespace/tmu/sparql?timestamp=3",
        """SELECT ?o WHERE { e:1 status ?o }""",
        "application/sparql-query").statusCode() == 400)
      // modified-count symmetry (r16 verdict item): re-inserting an
      // ALREADY-asserted statement counts 0 on the add side, exactly
      // like removing an absent one counts 0 on the remove side
      val reins = send(req(srv.address + "/namespace/tmu/sparql?query=" +
        java.net.URLEncoder.encode(
          """CONSTRUCT { ?s nosuch ?o } WHERE { ?s nosuch ?o }""", "UTF-8"))
        .header("Content-Type", "application/n-triples")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(
          "<urn:graft:e:1> <urn:graft:type> <urn:graft:Employee> .\n")))
      assert(reins.statusCode() == 200 && reins.body().contains("""modified="0""""),
        reins.body())
    } finally srv.stop()
  }

  test("TM concurrency soak: concurrent writers + readers end at the from-scratch closure") {
    val dir = tmp()
    val srv = SparqlServer.durable(Graft.empty(spark), dir).start()
    try {
      assert(post(srv.address + "/namespace", "name=soak&truthMaintenance=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/soak/sparql/update",
        """INSERT DATA { A subClassOf B . B subClassOf C }""",
        "application/sparql-update").statusCode() == 204)
      val writers = 6; val perWriter = 4
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val tasks = (0 until writers).map { t =>
        pool.submit(new Runnable { def run(): Unit =
          try (0 until perWriter).foreach { i =>
            // alternate suppressed/unsuppressed writes — the reference
            // allows both to interleave; the final vocabulary commit's
            // re-derivation folds suppressed rows into the closure
            val (extra, subj) =
              if ((t + i) % 3 == 2) ("?suppressTruthMaintenance=true", s"f:${t}x$i")
              else ("", s"e:${t}x$i")
            val r = post(srv.address + s"/namespace/soak/sparql/update$extra",
              s"INSERT DATA { $subj type A }", "application/sparql-update")
            assert(r.statusCode() == 204, r.body())
          } catch { case e: Throwable => errs.add(e) } })
      } ++ (0 until 2).map { _ =>
        pool.submit(new Runnable { def run(): Unit =
          try (0 until 6).foreach { _ =>
            // concurrent readers: any snapshot they catch must parse
            // and answer (no torn state)
            val b = post(srv.address + "/namespace/soak/sparql",
              "SELECT (COUNT(*) AS ?n) WHERE { ?s type C }",
              "application/sparql-query")
            assert(b.statusCode() == 200, b.body())
          } catch { case e: Throwable => errs.add(e) } })
      }
      tasks.foreach(_.get())
      pool.shutdown()
      assert(errs.isEmpty, String.valueOf(errs.peek()))
      // a final VOCABULARY commit re-derives the whole program — the
      // closure now equals the from-scratch program over every
      // asserted row, suppressed writers included
      assert(post(srv.address + "/namespace/soak/sparql/update",
        "INSERT DATA { C subClassOf D }",
        "application/sparql-update").statusCode() == 204)
      def ids(q: String) = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/namespace/soak/sparql", q,
          "application/sparql-query").body())
        .collect().map(_.getString(0)).toSet
      // the from-scratch expectation, derived independently in Scala:
      // every writer's subject (suppressed or not) entails A,B,C,D
      val all = (for (t <- 0 until writers; i <- 0 until perWriter) yield
        if ((t + i) % 3 == 2) s"f:${t}x$i" else s"e:${t}x$i").toSet
      assert(ids("SELECT ?s WHERE { ?s type A }") == all)
      assert(ids("SELECT ?s WHERE { ?s type D }") == all)
    } finally srv.stop()
  }

  test("maxBopLength clamps ?explain and /status detail") {
    val srv = new SparqlServer(
      Graft.empty(spark).update("""INSERT DATA { x:1 label "a" }""")).start()
    try {
      val full = post(srv.address + "/sparql?explain",
        "SELECT ?s WHERE { ?s label ?o }", "application/sparql-query").body()
      val capped = post(srv.address + "/sparql?explain&maxBopLength=40",
        "SELECT ?s WHERE { ?s label ?o }", "application/sparql-query").body()
      assert(full.length > 200)
      assert(capped.startsWith(full.take(40)) && capped.contains("truncated at maxBopLength=40"))
      // /status accepts the same clamp (the StatusServlet parameter)
      assert(send(req(srv.address + "/status?maxBopLength=10").GET()).statusCode() == 200)
    } finally srv.stop()
  }

  test("whitelist endpoint read-only gate refuses policy changes over HTTP") {
    val dir = tmp()
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir).resolve("whitelist.readonly"))
    val srv = SparqlServer.durable(Graft.empty(spark), dir).start()
    try {
      val r = post(srv.address + "/whitelist", "enabled=false",
        "application/x-www-form-urlencoded")
      assert(r.statusCode() == 403 && r.body().contains("read-only"), r.body())
      // reads stay open
      assert(send(req(srv.address + "/whitelist").GET()).statusCode() == 200)
    } finally srv.stop()
  }

  test("multipart delimiters match at line starts only (RFC 2046)") {
    val g0 = Graft.empty(spark).update("""INSERT DATA { x:1 note "keep" }""")
    val srv = new SparqlServer(g0).start()
    try {
      val b = "graftB7"
      // the add part's CONTENT contains the bare delimiter byte
      // sequence MID-LINE — a substring split would truncate the part
      val body =
        s"""--$b\r
           |Content-Disposition: form-data; name="add"\r
           |Content-Type: application/n-triples\r
           |\r
           |<urn:graft:x:2> <urn:graft:note> "has --$b inside" .\r
           |--$b--\r
           |""".stripMargin
      val up = post(srv.address + "/sparql?updatePost", body,
        s"multipart/form-data; boundary=$b")
      assert(up.statusCode() == 200, up.body())
      val got = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/sparql",
          """SELECT ?o WHERE { x:2 note ?o }""",
          "application/sparql-query").body()).collect().map(_.getString(0)).toSeq
      assert(got == Seq(s"has --$b inside"), got)
    } finally srv.stop()
  }

  test("SOLUTIONS updates over REST: in-memory namespaces hold sets, durable refuses loud") {
    // in-memory tenants route updates through the Graft handle, so the
    // SOLUTIONS grammar (connection-scoped named solution sets) works
    // over the protocol: one request CREATEs + fills a set, a later
    // query reads it back via INCLUDE
    val g0 = Graft.empty(spark).update(
      """INSERT DATA { x:1 a Person . x:1 label "ann" .
        |              x:2 a Person . x:2 label "bob" .
        |              x:3 a Robot  . x:3 label "c3p" . }""".stripMargin)
    val srv = new SparqlServer(g0).start()
    try {
      val up = post(srv.address + "/sparql",
        """CREATE SOLUTIONS %people ;
          |INSERT INTO %people SELECT ?s ?l WHERE { ?s a Person . ?s label ?l }""".stripMargin,
        "application/sparql-update")
      assert(up.statusCode() / 100 == 2, s"${up.statusCode()} ${up.body()}")
      val rows = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/sparql",
          "SELECT ?s ?l WHERE { INCLUDE %people } ORDER BY ?s",
          "application/sparql-query").body())
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows == Seq(("x:1", "ann"), ("x:2", "bob")))
      // DELETE FROM + re-read through the same protocol surface
      val del = post(srv.address + "/sparql",
        """DELETE FROM %people SELECT ?s ?l WHERE { ?s label "ann" . ?s label ?l }""",
        "application/sparql-update")
      assert(del.statusCode() / 100 == 2, s"${del.statusCode()} ${del.body()}")
      val left = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/sparql",
          "SELECT ?s WHERE { INCLUDE %people }",
          "application/sparql-query").body()).collect().map(_.getString(0)).toSeq
      assert(left == Seq("x:2"))
    } finally srv.stop()
    // journal-backed namespaces refuse SOLUTIONS ops loud (sets are
    // connection-scoped — the reference's default ISolutionSetManager
    // is the SPARQL cache, not the journal; a durable tenant has no
    // connection handle to hold them)
    val dsrv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      val bad = post(dsrv.address + "/sparql",
        "CREATE SOLUTIONS %nope", "application/sparql-update")
      assert(bad.statusCode() >= 400, s"${bad.statusCode()} ${bad.body()}")
      assert(bad.body().contains("connection-scoped"), bad.body())
    } finally dsrv.stop()
  }

  test("a form update on /sparql takes the update path: ?tx= stages it") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    try {
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      val b = post(srv.address + "/tx", "", "text/plain")
      val tx = "txId=\"([0-9a-f-]+)\"".r.findFirstMatchIn(b.body()).get.group(1)
      def count() = graft.sparql.RemoteService.parseJsonResults(spark,
        post(srv.address + "/sparql", "SELECT ?s WHERE { ?s note ?o }",
          "application/sparql-query").body()).count()
      assert(post(srv.address + s"/sparql?tx=$tx",
        "update=" + enc("""INSERT DATA { x:f1 note "staged" }"""),
        "application/x-www-form-urlencoded").statusCode() == 204)
      // the tx parameter may ride in the form body too
      assert(post(srv.address + "/sparql",
        s"tx=$tx&update=" + enc("""INSERT DATA { x:f2 note "staged" }"""),
        "application/x-www-form-urlencoded").statusCode() == 204)
      assert(count() == 0, "a staged form update must stay invisible before commit")
      assert(post(srv.address + s"/tx/$tx/commit", "", "text/plain").statusCode() == 200)
      assert(count() == 2)
    } finally srv.stop()
  }

  test("a form update on /sparql honors suppressTruthMaintenance on a TM namespace") {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    def typesOf(id: String) = graft.sparql.RemoteService.parseJsonResults(spark,
      post(srv.address + "/namespace/inf/sparql", s"SELECT ?t WHERE { $id type ?t }",
        "application/sparql-query").body()).collect().map(_.getString(0)).toSet
    try {
      assert(post(srv.address + "/namespace", "name=inf&truthMaintenance=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/inf/sparql/update",
        """INSERT DATA { Employee subClassOf Agent }""",
        "application/sparql-update").statusCode() == 204)
      // suppressed in the query string, then in the form body: both
      // land verbatim, unclosed
      assert(post(srv.address + "/namespace/inf/sparql?suppressTruthMaintenance=true",
        "update=" + enc("INSERT DATA { e:1 type Employee }"),
        "application/x-www-form-urlencoded").statusCode() == 204)
      assert(post(srv.address + "/namespace/inf/sparql",
        "suppressTruthMaintenance=true&update=" + enc("INSERT DATA { e:2 type Employee }"),
        "application/x-www-form-urlencoded").statusCode() == 204)
      assert(typesOf("e:1") == Set("Employee"))
      assert(typesOf("e:2") == Set("Employee"))
      // unsuppressed, the same form closes
      assert(post(srv.address + "/namespace/inf/sparql",
        "update=" + enc("INSERT DATA { e:3 type Employee }"),
        "application/x-www-form-urlencoded").statusCode() == 204)
      assert(typesOf("e:3") == Set("Employee", "Agent"))
    } finally srv.stop()
  }

  /** A durable server whose truth-maintenance namespace `inf` holds
    * v1 `Employee subClassOf Agent . e:1 type Employee` and v2
    * `e:2 type Employee`; `body` gets GET-with-query-string and
    * query-with-path-suffix helpers on it. */
  private def tmVersions(body: (String => String, String => Long) => Unit): Unit = {
    val srv = SparqlServer.durable(Graft.empty(spark), tmp()).start()
    def get(args: String) =
      send(req(srv.address + s"/namespace/inf/sparql?$args").GET()).body()
    def sparqlCount(args: String) = graft.sparql.RemoteService.parseJsonResults(spark,
      post(srv.address + s"/namespace/inf/sparql$args", "SELECT * WHERE { ?s ?p ?o }",
        "application/sparql-query").body()).count()
    try {
      assert(post(srv.address + "/namespace", "name=inf&truthMaintenance=true",
        "application/x-www-form-urlencoded").statusCode() == 201)
      assert(post(srv.address + "/namespace/inf/sparql/update",
        """INSERT DATA { Employee subClassOf Agent . e:1 type Employee }""",
        "application/sparql-update").statusCode() == 204)                    // v1
      assert(post(srv.address + "/namespace/inf/sparql/update",
        """INSERT DATA { e:2 type Employee }""",
        "application/sparql-update").statusCode() == 204)                    // v2
      body(get, sparqlCount)
    } finally srv.stop()
  }

  private val e2 = "&s=" + java.net.URLEncoder.encode("<urn:graft:e:2>", "UTF-8")

  test("GETSTMTS reads the one read view: timestamp and includeInferred") {
    tmVersions { (get, _) =>
      def stmts(args: String) = get(s"GETSTMTS$args").split("\n").count(_.nonEmpty)
      assert(stmts(e2) == 2) // Employee, and the entailed Agent
      assert(stmts(e2 + "&includeInferred=false") == 1)
      // e:2 arrived at v2: the v1 view has none of it
      assert(stmts(e2 + "&timestamp=1") == 0)
    }
  }

  test("ESTCARD reads the one read view: includeInferred=false and timestamp") {
    tmVersions { (get, sparqlCount) =>
      def estcard(args: String) =
        "rangeCount=\"(\\d+)\"".r.findFirstMatchIn(get(s"ESTCARD$args")).get.group(1).toLong
      // ESTCARD counts the view a query with the same knobs reads
      val head = estcard("")
      assert(head == sparqlCount(""))
      val asserted = estcard("&includeInferred=false")
      assert(asserted == 3 && asserted == sparqlCount("?includeInferred=false"))
      val past = estcard("&timestamp=1")
      assert(past == sparqlCount("?timestamp=1") && past < head)
      assert(estcard("&timestamp=1&includeInferred=false") == 2)
      assert(estcard(e2 + "&timestamp=1") == 0)
    }
  }

  test("a repeated parameter takes its first value, as servlet getParameter does") {
    val g0 = Graft.empty(spark).update("""INSERT DATA { x:1 label "gear" }""")
    val srv = new SparqlServer(g0).start()
    try {
      val q = java.net.URLEncoder.encode("SELECT ?l WHERE { x:1 label ?l }", "UTF-8")
      val r = send(req(srv.address + s"/sparql?query=$q&format=csv&format=json").GET())
      assert(r.statusCode() == 200 &&
        r.headers().firstValue("Content-Type").get().startsWith("text/csv"), r.body())
      assert(r.body() == "l\r\ngear")
    } finally srv.stop()
  }
}

object ServerSpec {
  /** Released to free the cores [[holdCore]] holds. */
  @volatile var hold = new java.util.concurrent.CountDownLatch(0)
  /** Counts down once per task that holds a core. */
  @volatile var holding = new java.util.concurrent.CountDownLatch(0)

  /** A task body that holds its core until [[hold]] is released (60 s
    * at most). Tasks run in the test JVM, so they see these latches. */
  def holdCore(): Unit = {
    holding.countDown()
    hold.await(60, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
}
