package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.pipeline.TextAnalysis
import graft.plans.LocalTier
import graft.rdf.Rdr
import graft.sparql.TripleSource

/** The small-input tier itself ([[LocalTier]]'s probe and budget) and
  * the two replays without a conf key — CBD and BPE training — pinned
  * equal to their distributed loops, called directly. */
class LocalTierSpec extends AnyFunSuite {
  import TestSpark.{distributed, spark}
  import spark.implicits._

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("probe: local plans read with zero jobs; overflow, nulls and budget 0 keep the loop") {
    val local = Seq(("a", "b"), ("c", "d")).toDF("x", "y")
    val sc = spark.sparkContext
    sc.setJobGroup("tier-probe", "local probe")
    val read = LocalTier.probe(local, 2)
    // a later marker job: once it is visible, any probe job would be too
    sc.setJobGroup("tier-marker", "marker")
    spark.range(1).collect()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup("tier-marker").isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("tier-marker").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup("tier-probe").isEmpty)
    assert(read.map(_.map(_.toSeq).toSeq) == Some(Seq(Seq("a", "b"), Seq("c", "d"))))
    assert(LocalTier.probe(local, 1).isEmpty)
    assert(LocalTier.probe(local, 0).isEmpty)
    assert(LocalTier.probe(Seq(("a", null: String)).toDF("x", "y"), 5).isEmpty)
    val checkpointed = spark.range(10).toDF("n").localCheckpoint()
    assert(LocalTier.probe(checkpointed, 10).map(_.length) == Some(10))
    assert(LocalTier.probe(checkpointed, 9).isEmpty)
    assert(LocalTier.strings(checkpointed, LocalTier.Gas, 1).isEmpty) // not strings
  }

  test("budget: one default, overridden per family by its conf key") {
    assert(LocalTier.budget(spark, LocalTier.Gas) == LocalTier.Budget)
    assert(LocalTier.budget(spark, LocalTier.Rdfs) == LocalTier.Rdfs.limit)
    distributed {
      assert(Seq(LocalTier.Gas, LocalTier.Inference, LocalTier.Rdfs, LocalTier.Path)
        .forall(LocalTier.budget(spark, _) == 0))
    }
    assert(LocalTier.budget(spark, LocalTier.Path) == LocalTier.Budget)
  }

  // base statements, metadata about them, metadata about the metadata,
  // and a statement whose object is a sid (a quoted triple)
  private lazy val rdrTriples: DataFrame = {
    val base = Seq(("n:1", "name", "Alice"), ("n:1", "knows", "n:2"),
      ("n:2", "name", "Bob"), ("n:1", "age", "30"), ("n:3", "name", "Carol"))
      .toDF("s", "p", "o")
    val meta = Rdr.annotate(base.filter($"s" =!= "n:3"), "source", lit("web"))
    val metaMeta = Rdr.annotate(meta, "confidence", lit(0.9))
    val quoted = Seq(("n:1", "said", Rdr.sidOf("n:2", "name", "Bob"))).toDF("s", "p", "o")
    Seq(base, meta, metaMeta, quoted).reduce(_ unionAll _)
  }

  test("Rdr.cbd: driver tier equals the distributed loop") {
    val src = TripleSource.plain(rdrTriples)
    for (node <- Seq("n:1", "n:2", "nope")) {
      val local = rowsOf(Rdr.cbd(src, node))
      assert(local == rowsOf(Rdr.cbdLoop(src, node, 10)), node)
    }
    // n:1's 4 statements, then the annotations of its 3 base statements
    // and of the quoted one, then the annotations of those 4
    assert(rowsOf(Rdr.cbd(src, "n:1")).size == 4 + 4 + 4)
    assert(rowsOf(Rdr.cbd(src, "n:2")).size == 3)
  }

  test("bpe training: driver tier equals the distributed loop") {
    val docs = Seq(
      (1L, "low lower lowest low low"), (2L, "newer newest wider widest"),
      (3L, "the lowest newer wider low"), (4L, "aaa aa a abab baba"),
      (5L, "")).toDF("doc_id", "text")
    for (k <- Seq(1, 8, 40)) {
      val (mLocal, vLocal) = TextAnalysis.bpeLoop(docs, k)
      val (mDist, vDist) = TextAnalysis.bpeDistributed(docs, k)
      assert(mLocal == mDist, s"k=$k")
      def vocab(v: org.apache.spark.sql.Dataset[(String, Array[String], Long)]) =
        v.collect().map { case (w, syms, f) => (w, syms.toSeq, f) }.toSet
      assert(vocab(vLocal) == vocab(vDist), s"k=$k")
    }
  }
}
