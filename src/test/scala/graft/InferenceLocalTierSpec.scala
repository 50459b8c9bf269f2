package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.inference.{Owl, Rdfs}

/** The inference driver tier (Rdfs.closure / Owl.closure /
  * Owl.sameAsCanon below the tier budget) must produce EXACTLY the
  * distributed strata's results. Each case runs the operator twice —
  * tier active (default budget) vs forced distributed
  * ([[TestSpark.distributed]]) — and pins set equality of the
  * collected rows, over ontologies that exercise every rule family
  * (sub-class/property chains, domain/range, axiomatic rules, sameAs +
  * functional fixpoint, transitive/inverse/symmetric mirrors). */
class InferenceLocalTierSpec extends AnyFunSuite {
  import TestSpark.{distributed, spark}
  import spark.implicits._

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private lazy val rdfsOnt = Rdfs.Ontology(
    subClassOf = Seq(("A", "B"), ("B", "C"), ("X", "Y")).toDF("sub", "sup"),
    subPropertyOf = Seq(("likes", "knows"), ("knows", "related")).toDF("sub", "sup"),
    domain = Seq(("likes", "Agent"), ("owns", "Owner")).toDF("p", "cls"),
    range = Seq(("likes", "Likeable")).toDF("p", "cls"))

  private lazy val inst = Seq(
    ("s1", "type", "A"), ("s2", "type", "X"), ("s1", "likes", "s2"),
    ("s2", "owns", "s3"), ("s3", "knows", "s1"), ("s1", "likes", "s2"),
    ("s4", "type", "ContainerMembershipProperty"), ("s5", "type", "Datatype")
  ).toDF("s", "p", "o")

  test("Rdfs.closure: local tier equals distributed strata") {
    val local = rowsOf(Rdfs.closure(inst, rdfsOnt))
    val dist = distributed(rowsOf(Rdfs.closure(inst, rdfsOnt)))
    assert(local == dist)
  }

  test("Rdfs.closure axiomatic: local tier equals distributed strata") {
    val local = rowsOf(Rdfs.closure(inst, rdfsOnt, axiomatic = true))
    val dist = distributed(rowsOf(Rdfs.closure(inst, rdfsOnt, axiomatic = true)))
    assert(local == dist)
  }

  test("Rdfs.retractClosure / incrementalClosure: tiers agree end-to-end") {
    val retracted = inst.filter($"s" === "s1")
    val closed = Rdfs.closure(inst, rdfsOnt)
    val localR = rowsOf(Rdfs.retractClosure(closed, inst, retracted, rdfsOnt))
    val distR = distributed {
      val closedD = Rdfs.closure(inst, rdfsOnt)
      rowsOf(Rdfs.retractClosure(closedD, inst, retracted, rdfsOnt))
    }
    assert(localR == distR)
    val delta = Seq(("s9", "likes", "s1"), ("s9", "type", "A")).toDF("s", "p", "o")
    val localI = rowsOf(Rdfs.incrementalClosure(closed, delta, rdfsOnt))
    val distI = distributed {
      rowsOf(Rdfs.incrementalClosure(Rdfs.closure(inst, rdfsOnt), delta, rdfsOnt))
    }
    assert(localI == distI)
  }

  test("Rdfs.closure, cyclic subClassOf (A ⊑ B, B ⊑ A): tiers agree, each class lifts to both") {
    val ont = Rdfs.Ontology(
      subClassOf = Seq(("A", "B"), ("B", "A")).toDF("sub", "sup"),
      subPropertyOf = Seq.empty[(String, String)].toDF("sub", "sup"),
      domain = Seq.empty[(String, String)].toDF("p", "cls"),
      range = Seq.empty[(String, String)].toDF("p", "cls"))
    val data = Seq(("s1", "type", "A"), ("s2", "type", "B"), ("s1", "p", "s2")).toDF("s", "p", "o")
    for (axiomatic <- Seq(false, true)) {
      val local = rowsOf(Rdfs.closure(data, ont, axiomatic))
      assert(local == distributed(rowsOf(Rdfs.closure(data, ont, axiomatic))), s"axiomatic=$axiomatic")
      assert(Set("s1", "s2").forall(x =>
        Set("A", "B").forall(c => local.contains(Seq(x, "type", c)))), local)
    }
  }

  // one property with two super-properties and two domains, and a
  // subPropertyOf edge into `type`: derive's per-triple maps are
  // multi-valued, and a lifted triple can become a type statement
  private lazy val multiOnt = Rdfs.Ontology(
    subClassOf = Seq(("A", "B"), ("D1", "E")).toDF("sub", "sup"),
    subPropertyOf = Seq(("hires", "pays"), ("hires", "meets"), ("isA", "type")).toDF("sub", "sup"),
    domain = Seq(("hires", "D1"), ("hires", "D2"), ("meets", "Person")).toDF("p", "cls"),
    range = Seq(("pays", "Payee"), ("hires", "Datatype")).toDF("p", "cls"))
  private lazy val multiInst = Seq(
    ("acme", "hires", "bob"), ("bob", "isA", "A"), ("bob", "meets", "acme"),
    ("carl", "type", "D1")).toDF("s", "p", "o")

  test("Rdfs.closure, multi-valued ontology maps: tiers agree, with and without axiomatic") {
    for (axiomatic <- Seq(false, true)) {
      val local = rowsOf(Rdfs.closure(multiInst, multiOnt, axiomatic))
      assert(local == distributed(rowsOf(Rdfs.closure(multiInst, multiOnt, axiomatic))),
        s"axiomatic=$axiomatic")
      val want = Set[Seq[Any]](
        Seq("acme", "pays", "bob"), Seq("acme", "meets", "bob"),
        Seq("acme", "type", "D1"), Seq("acme", "type", "D2"), Seq("acme", "type", "E"),
        Seq("acme", "type", "Person"), Seq("bob", "type", "Payee"),
        Seq("bob", "type", "Datatype"), Seq("bob", "type", "A"), Seq("bob", "type", "B"),
        Seq("carl", "type", "E"))
      assert(want.subsetOf(local), want -- local)
      assert(local.contains(Seq("bob", "subClassOf", "Literal")) == axiomatic)
      assert(local.contains(Seq("Payee", "subClassOf", "Payee")) == axiomatic)
    }
  }

  test("Rdfs.closure forced distributed: exact job count, AQE off") {
    val recorder = Harness.recorder(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // a driver-built instance, and one behind a shuffle (not
    // LocalRelation-shaped, so the closure materializes it first)
    val counts = try distributed {
      for (inst <- Seq(multiInst, multiInst.repartition(2)); axiomatic <- Seq(false, true))
      yield {
        Rdfs.closure(inst, multiOnt, axiomatic).collect() // warm
        recorder.record(Rdfs.closure(inst, multiOnt, axiomatic).collect())._2.size
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(counts == Seq(1, 1, 2, 2), counts)
  }

  private lazy val owlOnt = Owl.Ontology(
    transitive = Seq("partOf", "ancestor"),
    inverses = Seq(("parentOf", "childOf")),
    symmetric = Seq("near"),
    functional = Seq("ssn"),
    inverseFunctional = Seq("email"))

  // sameAs + functional entailments that need a second fixpoint round
  // (u1/u2 merge exposes the shared ssn key that merges v1/v2), plus
  // transitive chains through mirrored edges
  private lazy val owlInst = Seq(
    ("u1", "sameAs", "u2"),
    ("u1", "ssn", "v1"), ("u2", "ssn", "v2"),
    ("w1", "email", "e@x"), ("w2", "email", "e@x"),
    ("a", "partOf", "b"), ("b", "partOf", "c"), ("c", "partOf", "d"),
    ("p", "parentOf", "q"), ("q", "childOf", "p2"),
    ("m", "near", "n"), ("n", "near", "o2"),
    ("v1", "ancestor", "w1"), ("w1", "ancestor", "u1"),
    ("u1", "type", "Thing")
  ).toDF("s", "p", "o")

  test("Owl.closure: local tier equals distributed pipeline") {
    val local = rowsOf(Owl.closure(owlInst, owlOnt))
    val dist = distributed(rowsOf(Owl.closure(owlInst, owlOnt)))
    assert(local == dist)
  }

  test("Owl.closure, no functional family: tiers agree") {
    val ont = Owl.Ontology(transitive = Seq("partOf"), symmetric = Seq("near"))
    val local = rowsOf(Owl.closure(owlInst, ont))
    val dist = distributed(rowsOf(Owl.closure(owlInst, ont)))
    assert(local == dist)
  }

  test("Owl.incrementalTc: local tier equals distributed semi-naive doubling") {
    // closed = TC of a chain, delta = edges that splice new paths
    // through it (incl. a cycle-maker), both pre-distincted as the
    // contract requires
    val closed = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")).toDF("from", "to")
      .distinct().localCheckpoint()
    val delta = Seq(("c", "d"), ("d", "a"), ("y", "x")).toDF("from", "to")
      .distinct().localCheckpoint()
    val local = rowsOf(Owl.incrementalTc(closed, delta))
    val dist = distributed(rowsOf(Owl.incrementalTc(closed, delta)))
    assert(local == dist)
    // empty delta passes through on both tiers
    val empty = Seq.empty[(String, String)].toDF("from", "to").localCheckpoint()
    assert(rowsOf(Owl.incrementalTc(closed, empty)) ==
      distributed(rowsOf(Owl.incrementalTc(closed, empty))))
  }

  test("Rdfs.closure(Owl.closure(...)): composed tiers equal composed distributed") {
    val local = rowsOf(Rdfs.closure(Owl.closure(owlInst, owlOnt), rdfsOnt))
    val dist = distributed(rowsOf(Rdfs.closure(Owl.closure(owlInst, owlOnt), rdfsOnt)))
    assert(local == dist)
  }

  test("Owl.sameAsCanon: union-find tier equals distributed components") {
    // no functional family: one probe, no fixpoint rounds
    val noFn = Owl.Ontology(transitive = Seq("partOf"))
    val local = rowsOf(Owl.sameAsCanon(owlInst, noFn))
    assert(local == distributed(rowsOf(Owl.sameAsCanon(owlInst, noFn))))
    assert(local == Set(Seq("u2", "u1")))
    // functional + inverse-functional family: fixpoint rounds merge
    // v1/v2 (shared ssn after u1/u2) and w1/w2 (shared email)
    val localFn = rowsOf(Owl.sameAsCanon(owlInst, owlOnt))
    assert(localFn == distributed(rowsOf(Owl.sameAsCanon(owlInst, owlOnt))))
    assert(localFn == Set(Seq("u2", "u1"), Seq("v2", "v1"), Seq("w2", "w1")))
  }
}
