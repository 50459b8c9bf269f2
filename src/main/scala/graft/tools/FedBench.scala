package graft.tools

import org.apache.spark.sql.functions._

/** Federation vectoring A/B — measures what SERVICE bound-join
  * injection saves against a loopback SPARQL endpoint (the loopback
  * stands in for the network: the win is the RESULT VOLUME the
  * endpoint evaluates, serializes and ships, which only grows with
  * the remote store).
  *
  * Remote store: N `(x:i, name, NAME_i)` solutions. Local side: K
  * wanted subjects. Unvectored, the endpoint answers the bare group —
  * all N bindings serialize over the wire and the join happens at
  * home; vectored, the injected VALUES keeps it to K. Run:
  *
  *   sbt "runMain graft.tools.FedBench [N] [K]"
  *
  * Prints one JSON line with wall times and response bytes per mode.
  */
object FedBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    // wanted subjects are x:{i*37}; every one must exist remotely or
    // the sanity check on joined rows would fail confusingly
    require(n > (k - 1) * 37, s"need remote n > ${(k - 1) * 37} for k=$k wanted keys")
    val spark = graft.Harness.session()
    import spark.implicits._

    val remoteTriples = spark.range(n.toLong)
      .select(concat(lit("x:"), col("id")).as("s"), lit("name").as("p"),
        concat(lit("NAME_"), col("id")).as("o"))
      .unionAll(spark.range(n.toLong).select(concat(lit("x:"), col("id")).as("s"),
        lit("type").as("p"), lit("Item").as("o")))
      .localCheckpoint()
    val remoteSrc = graft.sparql.TripleSource.plain(remoteTriples)

    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val calls = new java.util.concurrent.atomic.AtomicLong(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sparql", new com.sun.net.httpserver.HttpHandler {
      def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val q = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val sols = graft.sparql.Compiler.compile(graft.sparql.Parser.parse(q), remoteSrc)
        val lines = graft.rdf.Serializer.sparqlJsonBindings(sols)
          .collect().map(_.getString(0))
        val doc = graft.rdf.Serializer.sparqlJsonHead(sols.columns.toSeq) +
          lines.mkString(",") + graft.rdf.Serializer.sparqlJsonFoot
        val body = doc.getBytes("UTF-8")
        bytes.addAndGet(body.length.toLong); calls.incrementAndGet()
        ex.getResponseHeaders.add("Content-Type", "application/sparql-results+json")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.start()
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
    graft.sparql.RemoteService.register(spark, ep, timeoutMs = 600000)

    val localSrc = graft.sparql.TripleSource.plain(
      (0 until k).map(i => (s"x:${i * 37}", "type", "Wanted")).toDF("s", "p", "o"))
    // 3rd arg:
    //  - "optional": the service group is SCOPE-SENSITIVE (an OPTIONAL
    //    rides inside) — round-15 certainlyBound vectoring injects ?s
    //    (bound by the group's mandatory pattern) there too;
    //  - "varendpoint": SERVICE ?ep with the endpoint VALUES-bound (a
    //    1-row catalog naming the loopback endpoint) — measures the
    //    per-binding dispatch composing with the bound join per
    //    branch against the constant-endpoint baseline.
    val mode = args.drop(2).headOption.getOrElse("")
    val group =
      if (mode == "optional") s"{ ?s name ?nm OPTIONAL { ?s type ?t } }"
      else "{ ?s name ?nm }"
    val query =
      if (mode == "varendpoint")
        s"""SELECT ?s ?nm WHERE { ?s type "Wanted" .
           |  VALUES ?ep { <$ep> } SERVICE ?ep $group }""".stripMargin
      else s"""SELECT ?s ?nm WHERE { ?s type "Wanted" . SERVICE <$ep> $group }"""

    def time(mode: String): (Double, Long, Long, Long) = {
      // worst-of-both guard: cap 0 forces the unconstrained fetch
      if (mode == "plain") spark.conf.set("graft.service.vectorMaxKeys", "0")
      else spark.conf.unset("graft.service.vectorMaxKeys")
      val runs = (1 to 3).map { _ =>
        bytes.set(0); calls.set(0)
        val t0 = System.nanoTime()
        val rows = graft.sparql.Compiler.compile(
          graft.sparql.Parser.parse(query), localSrc).count()
        ((System.nanoTime() - t0) / 1e9, rows, bytes.get(), calls.get())
      }
      val best = runs.minBy(_._1)
      require(best._2 == k.toLong, s"expected $k joined rows, got ${best._2}")
      best
    }
    val plain = time("plain")
    val vec = time("vectored")
    println(s"""{"metric":"fedbench","remote_solutions":$n,"local_keys":$k,""" +
      s""""plain_sec":${plain._1},"plain_bytes":${plain._3},"plain_calls":${plain._4},""" +
      s""""vectored_sec":${vec._1},"vectored_bytes":${vec._3},"vectored_calls":${vec._4}}""")
    server.stop(0)
    spark.stop()
  }
}
