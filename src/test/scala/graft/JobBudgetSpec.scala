package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rdf.Repository
import graft.server.SparqlServer

/** Exact Spark job counts of hot paths (AQE off, where the counts are
  * exact; warm second run, like FixpointSpec's loop pins). A change
  * that raises a count says so. */
class JobBudgetSpec extends AnyFunSuite {
  import TestSpark.spark

  test("write path: each op's WHERE evaluates once; a ground insert is its commit alone") {
    val recorder = Harness.recorder(spark)
    val data = (0 until 200).map(i => s"""<e:s$i> <e:p> "v$i" .""").mkString(" ")
    def seeded(): Repository = {
      val repo = Repository.create(spark,
        java.nio.file.Files.createTempDirectory("graft_budget").toString)
      repo.update(s"INSERT DATA { $data }")
      repo.compact()
      repo
    }
    // (all jobs, WHERE-checkpoint jobs) of one durable update request
    def jobs(request: String): (Int, Int) = {
      seeded().update(request) // warm: the first run may plan differently
      val repo = seeded()
      val (_, js) = recorder.record(repo.update(request))
      (js.size, js.count(_.callSite.contains("Update.scala")))
    }
    val one = "DELETE { ?s <e:p> ?v } INSERT { ?s <e:q> ?v } WHERE { ?s <e:p> ?v }"
    val two = one + " ; DELETE { ?s <e:q> ?v } INSERT { ?s <e:r> ?v } WHERE { ?s <e:q> ?v }"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val counts = try Seq(
      "one-op" -> jobs(one),
      "two-op" -> jobs(two),
      "insert-data" -> jobs("""INSERT DATA { <e:new> <e:p> "n" }"""))
    finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(counts.toMap == Map("one-op" -> ((3, 1)), "two-op" -> ((7, 4)),
      "insert-data" -> ((1, 0))), counts)
  }

  test("server writes: 15 writes in, an insert and a REST delete plan no write history (memory and durable)") {
    val recorder = Harness.recorder(spark)
    val http = java.net.http.HttpClient.newHttpClient()
    def post(url: String, body: String, ct: String): Int =
      http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .header("Content-Type", ct)
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    // jobs of a one-triple INSERT DATA and of a one-triple REST delete
    // (`POST /sparql?delete`) on a 200-triple namespace after 15
    // single-triple writes
    def jobs(srv: SparqlServer): (Int, Int) = try {
      srv.start()
      def update(text: String) =
        assert(post(srv.address + "/sparql/update", text, "application/sparql-update") == 204)
      update("INSERT DATA { " + (0 until 200).map(i => s"""x:s$i label "v$i" .""").mkString(" ") + " }")
      (0 until 15).foreach(i => update(s"""INSERT DATA { x:w$i note "w$i" }"""))
      def delete(i: Int) = assert(post(srv.address + "/sparql?delete",
        s"""<urn:graft:x:s$i> <urn:graft:label> "v$i" .""", "application/n-triples") == 200)
      delete(0) // warm: the first run may plan differently
      val insert = recorder.record(update("""INSERT DATA { x:n note "n" }"""))._2.size
      (insert, recorder.record(delete(1))._2.size)
    } finally srv.stop()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val counts = try Map(
      "memory" -> jobs(new SparqlServer(Graft.empty(spark))),
      "durable" -> jobs(SparqlServer.durable(Graft.empty(spark),
        java.nio.file.Files.createTempDirectory("graft_budget").toString)))
    finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(counts == Map("memory" -> ((2, 4)), "durable" -> ((1, 4))), counts)
  }
}
