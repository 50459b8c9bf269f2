package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rdf.Repository

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
}
