package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters}
import org.apache.spark.sql.DataFrame
import graft.rdf.{Journal, QuadStore}
import graft.sparql.{Parser, Update}

/** Random write sequences over a tiny three-graph quad store. */
object UpdateGen {
  type Quad = (String, String, String, String)
  type State = Set[Quad]

  val Default = "g:default"
  val Named = Seq("g:x", "g:y")
  val Graphs = Default +: Named
  private val subjects = Seq("e:a", "e:b")
  private val preds = Seq("e:p", "e:q")
  private val objects = Seq("e:1", "e:2")

  /** Two distinct elements, in either order. */
  private def pair(xs: Seq[String]): Gen[(String, String)] =
    Gen.oneOf(for (x <- xs; y <- xs if x != y) yield (x, y))

  val quad: Gen[Quad] = for {
    s <- Gen.oneOf(subjects); p <- Gen.oneOf(preds)
    o <- Gen.oneOf(objects); g <- Gen.oneOf(Graphs)
  } yield (s, p, o, g)

  /** A store state; the same triple in two graphs is the common case
    * over this universe, and one such pair is always present. */
  val state: Gen[State] = for {
    qs <- Gen.listOfN(8, quad)
    (s, p, o, _) <- quad
    (g1, g2) <- pair(Graphs)
  } yield qs.toSet + ((s, p, o, g1)) + ((s, p, o, g2))

  /** One update op: its SPARQL text and its meaning on a model state. */
  final case class Op(text: String, run: State => State) {
    override def toString: String = text
  }

  private def graphOf(st: State, g: String) = st.filter(_._4 == g)
  private def retag(st: State, g: String) = st.map { case (s, p, o, _) => (s, p, o, g) }
  private def ref(g: String) = if (g == Default) "DEFAULT" else s"<$g>"
  private def block(qs: Seq[Quad]) = qs.map { case (s, p, o, g) =>
    if (g == Default) s"<$s> <$p> <$o> ." else s"GRAPH <$g> { <$s> <$p> <$o> }"
  }.mkString(" ")

  private val data: Gen[Op] = for {
    qs <- Gen.listOfN(2, quad)
    insert <- Gen.oneOf(true, false)
  } yield
    if (insert) Op(s"INSERT DATA { ${block(qs)} }", _ ++ qs)
    else Op(s"DELETE DATA { ${block(qs)} }", _ -- qs)

  /** A delete and a re-insert of one quad in one request. */
  private val churn: Gen[Seq[Op]] = quad.map { q =>
    Seq(Op(s"DELETE DATA { ${block(Seq(q))} }", _ - q),
      Op(s"INSERT DATA { ${block(Seq(q))} }", _ + q))
  }

  /** DELETE/INSERT WHERE moving p-edges to q: bare (the WHERE reads the
    * union default graph, templates act on the default graph) or WITH
    * one graph (WHERE and templates in that graph); either side may be
    * absent. */
  private val rewrite: Gen[Op] = for {
    (p, q) <- pair(preds)
    scope <- Gen.option(Gen.oneOf(Graphs))
    sides <- Gen.oneOf("both", "delete", "insert")
  } yield {
    val g = scope.getOrElse(Default)
    val del = if (sides == "insert") "" else s"DELETE { ?s <$p> ?o } "
    val ins = if (sides == "delete") "" else s"INSERT { ?s <$q> ?o } "
    val head = scope.fold("")(w => s"WITH <$w> ")
    Op(s"$head$del${ins}WHERE { ?s <$p> ?o }", st => {
      val read = scope.fold(st)(graphOf(st, _))
      val sol = read.collect { case (s, `p`, o, _) => (s, o) }
      val d = if (sides == "insert") Set.empty[Quad] else sol.map { case (s, o) => (s, p, o, g) }
      val i = if (sides == "delete") Set.empty[Quad] else sol.map { case (s, o) => (s, q, o, g) }
      (st -- d) ++ i
    })
  }

  /** Quad templates: move p-edges of one named graph into another as q-edges. */
  private val quadTemplate: Gen[Op] = for {
    (from, to) <- pair(Named)
    (p, q) <- pair(preds)
  } yield Op(
    s"DELETE { GRAPH <$from> { ?s <$p> ?o } } INSERT { GRAPH <$to> { ?s <$q> ?o } } " +
      s"WHERE { GRAPH <$from> { ?s <$p> ?o } }",
    st => {
      val sol = st.collect { case (s, `p`, o, `from`) => (s, o) }
      (st -- sol.map { case (s, o) => (s, p, o, from) }) ++ sol.map { case (s, o) => (s, q, o, to) }
    })

  /** COPY / MOVE / ADD, onto themselves too. */
  private val graphToGraph: Gen[Op] = for {
    kw <- Gen.oneOf("COPY", "MOVE", "ADD")
    from <- Gen.oneOf(Graphs); to <- Gen.oneOf(Graphs)
  } yield Op(s"$kw ${ref(from)} TO ${ref(to)}", st =>
    if (from == to) st
    else kw match {
      case "COPY" => (st -- graphOf(st, to)) ++ retag(graphOf(st, from), to)
      case "MOVE" => (st -- graphOf(st, to) -- graphOf(st, from)) ++ retag(graphOf(st, from), to)
      case _      => st ++ retag(graphOf(st, from), to)
    })

  private val dropping: Gen[Op] = Gen.oneOf(
    Gen.oneOf(Graphs).flatMap(g => Gen.oneOf("DROP", "CLEAR").map(kw =>
      Op(s"$kw ${if (g == Default) ref(g) else "GRAPH " + ref(g)}", st => st -- graphOf(st, g)))),
    Gen.const(Op("DROP GRAPHS", st => graphOf(st, Default))),
    Gen.const(Op("CLEAR ALL", _ => Set.empty)))

  /** One request: 1–3 ops, or a delete/re-insert pair. */
  val request: Gen[Seq[Op]] = Gen.frequency(
    6 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.frequency(
      3 -> data, 3 -> rewrite, 2 -> quadTemplate, 2 -> graphToGraph, 1 -> dropping))),
    1 -> churn)

  /** A staged write: an update request (Left) or a quad batch (Right). */
  type Item = Either[Seq[Op], Seq[Quad]]

  /** A transaction of 1–4 items, always mixing both kinds. */
  val transaction: Gen[Seq[Item]] = for {
    n <- Gen.choose(1, 3)
    reqs <- Gen.listOfN(n, request)
    batch <- Gen.listOfN(2, quad)
    at <- Gen.choose(0, n)
  } yield {
    val items: Seq[Item] = reqs.map(Left(_))
    items.patch(at, Seq(Right(batch)), 0)
  }

  /** The model: each item applied in arrival order. */
  def model(base: State, items: Seq[Item]): State = items.foldLeft(base) {
    case (st, Left(ops)) => ops.foldLeft(st)((s, op) => op.run(s))
    case (st, Right(qs)) => st ++ qs
  }
}

/** The one write path: whatever op sequence a request or transaction
  * carries, the in-memory state of the folded store, its carried
  * change resolved against the base (dels first, adds outrank them)
  * and a journal commit of that change all equal the set model. */
class UpdateDeltaPropertySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  import UpdateGen._

  private def df(qs: Iterable[Quad]): DataFrame = qs.toSeq.toDF("s", "p", "o", "g")
  private def rows(d: DataFrame): State =
    d.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
  private def tmp() = java.nio.file.Files.createTempDirectory("graft_delta").toString

  test("state, base − dels ∪ adds and a journal commit agree with the model") {
    val prop: Prop = forAll(state, transaction) { (base, items) =>
      val parsed = items.map(_.left.map(ops => Parser.parseUpdates(ops.map(_.text).mkString(" ;\n")))
        .map(df))
      val expected = model(base, items)
      val next = Graft(spark, QuadStore(df(base))).updateItems(parsed)
      val (adds, dels) = Update.quadsDeltaMixed(QuadStore(df(base)), parsed)
      val (a, d) = (rows(adds), rows(dels))
      val journal = Journal.create(spark, tmp())
      journal.append(df(base))
      journal.commit(adds, dels)
      val inMemory = rows(next.store.quads)
      val resolved = (base -- d) ++ a
      val committed = rows(journal.snapshot())
      val ok = inMemory == expected && resolved == expected && committed == expected
      if (!ok) println(s"model $expected\nin memory $inMemory\nresolved $resolved\ncommitted $committed")
      ok
    }
    val r = check(Parameters.default.withMinSuccessfulTests(25).withWorkers(1), prop)
    assert(r.passed, r.toString)
  }
}
