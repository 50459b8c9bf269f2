package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.inference.{MaintainedClosure, Rdfs}

class MaintainedClosureSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val ont = Rdfs.Ontology(
    subClassOf = Seq(("A", "B"), ("B", "C")).toDF("sub", "sup"),
    subPropertyOf = Seq(("p", "q")).toDF("sub", "sup"),
    domain = Seq(("p", "D")).toDF("p", "cls"),
    range = Seq(("p", "R")).toDF("p", "cls"))

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_tm").toString

  private def rowsOf(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def sameSet(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("each commit point's closure equals a from-scratch closure of its base") {
    val tm = MaintainedClosure.create(spark, tmp(), ont)
    assert(tm.version == 0 && rowsOf(tm.closure()).isEmpty)
    val v1 = tm.assertTriples(Seq(("x", "type", "A"), ("x", "p", "y")).toDF("s", "p", "o"))
    val v2 = tm.assertTriples(Seq(("z", "type", "B")).toDF("s", "p", "o"))
    assert(v1 == 1 && v2 == 2 && tm.version == 2)
    // time-travel reads see the ENTAILED state of each commit point
    Seq(v1, v2).foreach { v =>
      assert(sameSet(tm.closure(v), Rdfs.closure(tm.base(v), ont)),
        s"closure at v$v diverged from recompute")
    }
    // the entailments are really there (rdfs9 type lift to C at v1)
    assert(rowsOf(tm.closure(v1)).contains(("x", "type", "C")))
    assert(!rowsOf(tm.closure(v1)).contains(("z", "type", "C")))
    assert(rowsOf(tm.closure(v2)).contains(("z", "type", "C")))
  }

  test("DRed retraction keeps shared-support entailments; history intact") {
    val tm = MaintainedClosure.create(spark, tmp(), ont)
    // (x p y) and (x2 p y) both derive (y type R): retracting only
    // (x p y) must KEEP (y type R) via the surviving support
    tm.assertTriples(Seq(("x", "p", "y"), ("x2", "p", "y"), ("z", "type", "A"))
      .toDF("s", "p", "o"))
    val v2 = tm.retractTriples(Seq(("x", "p", "y")).toDF("s", "p", "o"))
    assert(v2 == 2)
    assert(sameSet(tm.closure(), Rdfs.closure(tm.base(), ont)))
    assert(rowsOf(tm.closure()).contains(("y", "type", "R")))
    assert(!rowsOf(tm.closure()).exists(_._1 == "x"))
    // the pre-retraction commit point still shows x's entailments
    assert(rowsOf(tm.closure(1)).contains(("x", "type", "D")))
    // and a retraction whose LAST support dies drops the derivation
    tm.retractTriples(Seq(("x2", "p", "y")).toDF("s", "p", "o"))
    assert(!rowsOf(tm.closure()).contains(("y", "type", "R")))
    assert(sameSet(tm.closure(), Rdfs.closure(tm.base(), ont)))
  }

  test("open() repairs a crash between the two journal commits (one-step lag)") {
    import graft.rdf.Journal
    import org.apache.spark.sql.functions.lit
    val dir = tmp()
    val tm = MaintainedClosure.create(spark, dir, ont)
    tm.assertTriples(Seq(("x", "type", "A"), ("w", "p", "y")).toDF("s", "p", "o"))
    def withG(df: DataFrame) = df.withColumn("g", lit("g:closure"))
    // crash simulation 1: an assert landed on base/ but died before
    // the closure commit — base is one version ahead
    Journal.open(spark, s"$dir/base")
      .append(withG(Seq(("z", "type", "B")).toDF("s", "p", "o")))
    val tm2 = MaintainedClosure.open(spark, dir, ont)
    assert(tm2.version == 2)
    assert(sameSet(tm2.closure(), Rdfs.closure(tm2.base(), ont)))
    assert(rowsOf(tm2.closure()).contains(("z", "type", "C")))
    // crash simulation 2: a retract landed on base/ only; the repair
    // must DRed the closure (keep shared support, drop dead support)
    Journal.open(spark, s"$dir/base").commit(
      adds = withG(Seq.empty[(String, String, String)].toDF("s", "p", "o")),
      dels = withG(Seq(("w", "p", "y")).toDF("s", "p", "o")))
    val tm3 = MaintainedClosure.open(spark, dir, ont)
    assert(tm3.version == 3)
    assert(sameSet(tm3.closure(), Rdfs.closure(tm3.base(), ont)))
    assert(!rowsOf(tm3.closure()).exists(_._1 == "w"))
    // beyond one step there is no single-step repair: fail loud
    val base = Journal.open(spark, s"$dir/base")
    base.append(withG(Seq(("q", "type", "A")).toDF("s", "p", "o")))
    base.append(withG(Seq(("r", "type", "A")).toDF("s", "p", "o")))
    intercept[IllegalStateException](MaintainedClosure.open(spark, dir, ont))
  }

  test("open() repairs a crash INSIDE the closure journal's own commit (orphan segment)") {
    import graft.rdf.Journal
    import org.apache.spark.sql.functions.lit
    val dir = tmp()
    val tm = MaintainedClosure.create(spark, dir, ont)
    tm.assertTriples(Seq(("x", "type", "A")).toDF("s", "p", "o"))
    def withG(df: DataFrame) = df.withColumn("g", lit("g:closure"))
    // crash window sub-case: base advanced to v2, and the closure
    // commit DIED after writing its c2 adds segment but before
    // publishing its record — recovery must clear the orphan instead
    // of wedging on errorifexists
    Journal.open(spark, s"$dir/base")
      .append(withG(Seq(("z", "type", "B")).toDF("s", "p", "o")))
    withG(Seq(("z", "type", "B")).toDF("s", "p", "o"))
      .write.partitionBy("g").parquet(s"$dir/closed/segments/c2-adds.parquet")
    val tm2 = MaintainedClosure.open(spark, dir, ont)
    assert(tm2.version == 2)
    assert(sameSet(tm2.closure(), Rdfs.closure(tm2.base(), ont)))
    assert(rowsOf(tm2.closure()).contains(("z", "type", "C")))
  }

  test("OWL program maintained per commit: equals batch closure after assert, merge, retract, recovery") {
    import graft.inference.Owl
    import graft.rdf.Journal
    import org.apache.spark.sql.functions.lit
    val owl = Owl.Ontology(transitive = Seq("within"),
      inverses = Seq("within" -> "contains"), functional = Seq("hq"))
    def batch(b: DataFrame) = Rdfs.closure(Owl.closure(b, owl), ont)
    val dir = tmp()
    val tm = MaintainedClosure.create(spark, dir, ont, Some(owl))
    def check(tag: String): Unit =
      assert(sameSet(tm.closure(), batch(tm.base())), s"diverged after $tag")
    // transitive chain + inverse mirror
    tm.assertTriples(Seq(("a", "within", "b"), ("b", "within", "c"))
      .toDF("s", "p", "o"))
    check("assert chain")
    assert(rowsOf(tm.closure()).contains(("a", "within", "c")))   // composed
    assert(rowsOf(tm.closure()).contains(("c", "contains", "a"))) // mirrored
    // a DELTA-BOUNDED commit (no OWL vocabulary, no aliased ids): the
    // fast RDFS path must still land program-equal state
    tm.assertTriples(Seq(("k", "type", "A")).toDF("s", "p", "o"))
    check("plain assert")
    assert(rowsOf(tm.closure()).contains(("k", "type", "C")))
    // sameAs MERGE: alias b2 ≡ b — statements about b2 must surface on
    // the canonical id, splicing b2's edge into the within closure
    tm.assertTriples(Seq(("b2", "sameAs", "b"), ("b2", "within", "d"))
      .toDF("s", "p", "o"))
    check("sameAs merge")
    assert(rowsOf(tm.closure()).contains(("a", "within", "d")))
    // functional property entails co-reference: e1/e2 share an hq value
    // holder — hq(x)=e1 and hq(x)=e2 merge e1,e2
    tm.assertTriples(Seq(("x", "hq", "e1"), ("x", "hq", "e2"),
      ("e1", "within", "a")).toDF("s", "p", "o"))
    check("functional merge")
    val canonE = rowsOf(tm.closure()).collect {
      case (s, "within", "a") => s
    }
    assert(canonE.size == 1, s"e1/e2 should have merged: $canonE")
    // SHARED-SUPPORT retraction: a within c holds via b AND via a
    // second direct edge; retracting the direct edge keeps it
    tm.assertTriples(Seq(("a", "within", "c")).toDF("s", "p", "o"))
    tm.retractTriples(Seq(("a", "within", "c")).toDF("s", "p", "o"))
    check("shared-support retract")
    assert(rowsOf(tm.closure()).contains(("a", "within", "c")),
      "entailment with surviving support must stay (DRed)")
    // retracting the LAST support (the a→b leg) drops the chain pairs
    tm.retractTriples(Seq(("a", "within", "b")).toDF("s", "p", "o"))
    check("last-support retract")
    assert(!rowsOf(tm.closure()).contains(("a", "within", "c")))
    // history: the pre-retraction commit point still entails the chain
    assert(rowsOf(tm.closure(tm.version - 2)).contains(("a", "within", "c")))
    // MID tier: structural edges with NO new co-reference stay
    // incremental — a new within edge through an ALIASED id (b2 ≡ b)
    // must splice into existing chains under the current canon
    tm.assertTriples(Seq(("d", "within", "w9"), ("b2", "within", "w8"))
      .toDF("s", "p", "o"))
    check("mid incremental transitive")
    // b2 normalizes to b; b→d held (merge case above), so b→w9 and
    // the direct b→w8 both entail, with mirrors
    assert(rowsOf(tm.closure()).contains(("b", "within", "w9")))
    assert(rowsOf(tm.closure()).contains(("b", "within", "w8")))
    assert(rowsOf(tm.closure()).contains(("w9", "contains", "b")))
    // crash recovery: base advances by hand, open() re-derives
    def withG(df: DataFrame) = df.withColumn("g", lit("g:closure"))
    Journal.open(spark, s"$dir/base")
      .append(withG(Seq(("d", "within", "e")).toDF("s", "p", "o")))
    val tm2 = MaintainedClosure.open(spark, dir, ont, Some(owl))
    assert(sameSet(tm2.closure(), batch(tm2.base())), "diverged after recovery")
    assert(rowsOf(tm2.closure()).contains(("b2", "within", "e")) ||
      rowsOf(tm2.closure()).contains(("b", "within", "e")),
      "recovered closure must splice the new edge through the merged id")
  }

  test("OWL MID tier: symmetric+transitive composition through incremental asserts") {
    import graft.inference.Owl
    // `linked` is BOTH symmetric and transitive: pre-mirroring must
    // land before the transitive step and compositions must carry
    // through mirrored edges — across SEPARATE incremental commits
    val owl = Owl.Ontology(transitive = Seq("linked"), symmetric = Seq("linked"))
    def batch(b: DataFrame) = Rdfs.closure(Owl.closure(b, owl), ont)
    val tm = MaintainedClosure.create(spark, tmp(), ont, Some(owl))
    tm.assertTriples(Seq(("a", "linked", "b")).toDF("s", "p", "o"))
    assert(sameSet(tm.closure(), batch(tm.base())), "after first edge")
    // c links to b: a~b, c~b ⇒ a~c only through the SYMMETRIC mirror
    // of an edge added in a DIFFERENT commit
    tm.assertTriples(Seq(("c", "linked", "b")).toDF("s", "p", "o"))
    assert(sameSet(tm.closure(), batch(tm.base())), "after second edge")
    assert(rowsOf(tm.closure()).contains(("a", "linked", "c")))
    assert(rowsOf(tm.closure()).contains(("c", "linked", "a")))
    // chain extension in a third commit composes with the whole closure
    tm.assertTriples(Seq(("c", "linked", "d")).toDF("s", "p", "o"))
    assert(sameSet(tm.closure(), batch(tm.base())), "after third edge")
    assert(rowsOf(tm.closure()).contains(("a", "linked", "d")))
    assert(rowsOf(tm.closure()).contains(("d", "linked", "b")))
  }

  test("OWL MID tier: one commit carrying a 100-edge transitive chain converges (path doubling)") {
    import graft.inference.Owl
    val owl = Owl.Ontology(transitive = Seq("within"))
    val tm = MaintainedClosure.create(spark, tmp(), ont, Some(owl))
    // seed one structural edge so the deep commit routes MID, then
    // assert a 100-edge chain in ONE batch — the linear-frontier
    // incrementalTc needed ~99 rounds and failed loud at 64; doubling
    // converges in ~7
    tm.assertTriples(Seq(("seed", "within", "v0")).toDF("s", "p", "o"))
    val chain = (0 until 100).map(i => (s"v$i", "within", s"v${i + 1}"))
    tm.assertTriples(chain.toDF("s", "p", "o"))
    def batch(b: DataFrame) = Rdfs.closure(Owl.closure(b, owl), ont)
    assert(sameSet(tm.closure(), batch(tm.base())), "deep chain in one commit")
    assert(rowsOf(tm.closure()).contains(("v0", "within", "v100")))
    assert(rowsOf(tm.closure()).contains(("seed", "within", "v100")))
  }

  test("open() reattaches; compact seals both journals in step") {
    val dir = tmp()
    val tm = MaintainedClosure.create(spark, dir, ont)
    tm.assertTriples(Seq(("x", "type", "A")).toDF("s", "p", "o"))
    tm.compact()
    val tm2 = MaintainedClosure.open(spark, dir, ont)
    assert(tm2.version == 2)
    assert(sameSet(tm2.closure(), Rdfs.closure(tm2.base(), ont)))
    assert(rowsOf(tm2.closure()).contains(("x", "type", "C")))
    // compacted head resolves shuffle-free on both stores
    Seq(tm2.base(), tm2.closure()).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"compacted head should be a bare scan:\n$plan")
    }
  }

  test("dynamic ontology: the TBox is data — vocab commits re-derive, closure tracks the program") {
    // invariant: every commit point's closure equals the program the
    // base's OWN statements define at that point
    def programOf(b: DataFrame): DataFrame = {
      val ro = MaintainedClosure.ontologyFrom(b)
      MaintainedClosure.owlOntologyFrom(b) match {
        case None    => Rdfs.closure(b, ro)
        case Some(o) => Rdfs.closure(graft.inference.Owl.closure(b, o), ro)
      }
    }
    val dir = tmp()
    val tm = MaintainedClosure.createDynamic(spark, dir)
    // v1: TBox + instance in one commit → entailed type lift
    tm.assertTriples(Seq(("A", "subClassOf", "B"), ("x", "type", "A"))
      .toDF("s", "p", "o"))
    assert(rowsOf(tm.closure()).contains(("x", "type", "B")))
    // v2: a LATER TBox edge re-types the EXISTING instance (the
    // vocab-delta re-derive trigger — a delta-bounded path would miss
    // x entirely)
    tm.assertTriples(Seq(("B", "subClassOf", "C")).toDF("s", "p", "o"))
    assert(rowsOf(tm.closure()).contains(("x", "type", "C")))
    // v3: plain instance delta takes the fast path and still matches
    tm.assertTriples(Seq(("y", "type", "B")).toDF("s", "p", "o"))
    assert(rowsOf(tm.closure()).contains(("y", "type", "C")))
    // v4: OWL vocabulary arrives as data — within becomes transitive,
    // existing-and-new edges chain
    tm.assertTriples(Seq(("within", "type", "TransitiveProperty"),
      ("a", "within", "b"), ("b", "within", "c")).toDF("s", "p", "o"))
    assert(rowsOf(tm.closure()).contains(("a", "within", "c")))
    // every commit point so far: closure == the base's own program
    (1L to tm.version).foreach { v =>
      assert(sameSet(tm.closure(v), programOf(tm.base(v))),
        s"dynamic closure at v$v diverged from its base's program")
    }
    // v5: retracting the TBox edge un-derives the lift for BOTH
    // instances (vocab retraction re-derives under the shrunk program)
    tm.retractTriples(Seq(("B", "subClassOf", "C")).toDF("s", "p", "o"))
    assert(!rowsOf(tm.closure()).contains(("x", "type", "C")))
    assert(!rowsOf(tm.closure()).contains(("y", "type", "C")))
    assert(rowsOf(tm.closure()).contains(("x", "type", "B")))
    // suppression: the statements land verbatim, no entailments, and
    // reclose() converges the closure to the full program
    tm.commitRaw(Seq(("z", "type", "A")).toDF("s", "p", "o"),
      Seq.empty[(String, String, String)].toDF("s", "p", "o"))
    assert(rowsOf(tm.closure()).contains(("z", "type", "A")))
    assert(!rowsOf(tm.closure()).contains(("z", "type", "B")))
    tm.reclose()
    assert(rowsOf(tm.closure()).contains(("z", "type", "B")))
    // reattach: same state, lockstep verified
    val tm2 = MaintainedClosure.openDynamic(spark, dir)
    assert(sameSet(tm2.closure(), programOf(tm2.base())))
    assert(rowsOf(tm2.closure()).contains(("a", "within", "c")))
  }

  test("a re-derive runs every job in the caller's job group") {
    val tm = MaintainedClosure.createDynamic(spark, tmp())
    tm.assertTriples(Seq(("x", "type", "A")).toDF("s", "p", "o"))
    val recorder = Harness.recorder(spark)
    try {
      // a TBox edge re-derives the program; the closed head is read on
      // a second thread meanwhile
      val (_, jobs) = recorder.record(graft.plans.Jobs.group("spec.rederive") {
        tm.assertTriples(Seq(("A", "subClassOf", "B")).toDF("s", "p", "o"))
      })
      assert(jobs.nonEmpty && jobs.forall(_.group.contains("spec.rederive")),
        jobs.filterNot(_.group.contains("spec.rederive")))
      assert(rowsOf(tm.closure()).contains(("x", "type", "B")))
    } finally spark.sparkContext.removeSparkListener(recorder)
  }
}
