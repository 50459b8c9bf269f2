package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters}
import org.apache.spark.sql.functions.col
import graft.rdf.{Lexicon, Serializer}
import graft.sparql.RdfLiteral

/** Random terms of every kind the lexicon holds. */
object LexiconGen {
  private val xsdInt = "http://www.w3.org/2001/XMLSchema#int"
  private val word = Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString)

  val globalIri: Gen[String] = for {
    scheme <- Gen.oneOf("http://ex.org/", "https://ex.org/p#", "urn:isbn:", "mailto:",
      "file:///tmp/", "did:ex:", "tag:ex.org,2020:")
    local <- word
  } yield scheme + local

  /** Base-local IRIs: scheme-shaped ids, bare vocabulary words, and the
    * canonical rdf:type term. */
  val localIri: Gen[String] = Gen.oneOf(
    for { p <- Gen.oneOf("c", "n", "x.y", "g"); n <- Gen.choose(0, 999) } yield s"$p:$n",
    Gen.alphaStr.suchThat(_.nonEmpty).map("v" + _),
    Gen.const(Lexicon.Type))

  val bnode: Gen[String] = word.map("_:b" + _)

  /** Lexical forms over the characters a line format must escape. */
  val lex: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar, 1 -> Gen.const(' '), 1 -> Gen.const('\\'), 1 -> Gen.const('"'),
    1 -> Gen.const('\n'), 1 -> Gen.const('\r'), 1 -> Gen.const('\t'))).map(_.mkString)

  val literal: Gen[String] = Gen.oneOf(
    lex,
    for { l <- lex; tag <- Gen.oneOf("en", "fr-CA", "zh-Hant-TW") } yield RdfLiteral.tagged(l, tag),
    for { l <- lex; dt <- Gen.oneOf(xsdInt, "dt:1", "http://ex.org/dt") } yield RdfLiteral.typed(l, dt))

  val resource: Gen[String] = Gen.oneOf(globalIri, localIri, bnode)
  val term: Gen[String] = Gen.oneOf(resource, literal)
}

/** Each String rule of the lexicon codec equals its Column twin, and a
  * rendered N-Triples token parses back to the term it came from. */
class LexiconPropertySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  import LexiconGen._

  private def passes(prop: Prop): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(10).withWorkers(1), prop)
    assert(r.passed, r.toString)
  }

  test("every String rule equals its Column twin") {
    passes(forAll(Gen.listOfN(60, term)) { terms =>
      import Lexicon._
      val c = col("t")
      val got = terms.toDF("t").select(c, isBnode(c), isIri(c), isLiteral(c), intern(c),
          intern(iri(c)), iri(c), resource(c), token(c), escape(c), unescape(escape(c)),
          fromToken(token(c)), fromToken(resource(c)))
        .collect().map(_.toSeq.toList).toList
      val want = terms.map(t => List[Any](t, isBnode(t), isIri(t), isLiteral(t), intern(t),
        intern(iri(t)), iri(t), resource(t), token(t), escape(t), unescape(escape(t)),
        fromToken(token(t)), fromToken(resource(t))))
      val diff = got.zip(want).filter { case (g, w) => g != w }
      if (diff.nonEmpty) println(s"Column row vs String rules: ${diff.head}")
      diff.isEmpty
    })
  }

  test("a rendered token parses back to its term") {
    passes(forAll(Gen.listOfN(60, term), Gen.listOfN(60, resource)) { (objects, resources) =>
      import Lexicon._
      objects.forall(t => fromToken(token(t)) == t && unescape(escape(t)) == t) &&
        resources.forall(t => fromToken(resource(t)) == t && intern(iri(t)) == t)
    })
  }

  test("the one decoder: every ECHAR and UCHAR, in SPARQL and Turtle strings") {
    val raw = "x\\U0001F600y\\bz\\fw\\u00e9\\'\\\"\\\\"
    val want = "x\uD83D\uDE00y\bz\fw\u00e9'\"\\"
    assert(Lexicon.unescape(raw) == want)
    assert(Lexicon.scanString("\"" + raw + "\" .", 0) == ((want, raw.length + 2)))
    assert(Lexicon.scanString("'''a''b'''", 0) == (("a''b", 10)))
    // the Column twin (the N-Triples loaders) decodes every ECHAR
    val echars = "a\\tb\\bc\\nd\\re\\ff\\\"g\\'h\\\\i"
    assert(Seq(echars).toDF("t").select(Lexicon.unescape(col("t"))).head().getString(0) ==
      Lexicon.unescape(echars))
  }

  test("every IRI position renders `type` as rdf:type") {
    val rdfType = Lexicon.RdfTypeIri
    val triples = Seq(("x:1", "type", "x:W"), ("type", "domain", "Resource")).toDF("s", "p", "o")
    def lines(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(0)).mkString("\n")
    val xml = lines(Serializer.toRdfXml(triples))
    assert(xml.contains(s"""rdf:about="$rdfType"""") &&
      xml.contains("""<n:type xmlns:n="http://www.w3.org/1999/02/22-rdf-syntax-ns#""""), xml)
    val doc = Serializer.rdfXmlHead + xml + Serializer.rdfXmlFoot
    assert(graft.rdf.RdfXml.parse(doc).toSet ==
      Set(("x:1", "type", "x:W"), ("type", "domain", "Resource")))
    assert(lines(Serializer.toTurtle(triples)).contains("rdf:type g:domain"))
    assert(lines(Serializer.toJsonLd(triples)).contains(s"""{"@id":"$rdfType""""))
    assert(lines(Serializer.toJsonLdCompact(triples)).contains("""{"@id":"rdf:type""""))
    assert(lines(Serializer.toNTriples(triples)).contains(s"<$rdfType> <urn:graft:domain>"))
    // and SPARQL's IRI() interns it back
    assert(Graft.empty(spark).update("INSERT DATA { x:1 a x:W }")
      .query(s"""SELECT ?s WHERE { ?s ?p ?o FILTER(?p = IRI("$rdfType")) }""").count() == 1)
  }
}
