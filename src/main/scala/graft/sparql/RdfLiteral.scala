package graft.sparql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Language-tagged and datatyped literal term forms over the string
  * lexicon.
  *
  * The lexicon keeps PLAIN literals as their bare lexical form (`ASIA`,
  * `42`) — unchanged — and carries language-tagged / datatyped
  * literals (reference: the lexicon IV layer,
  * bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/lexicon/
  * LexiconRelation.java and the internal/impl/literal classes) in
  * their N-Triples-like lexical form, quotes included:
  *
  *   "chat"@fr
  *   "5"^^http://www.w3.org/2001/XMLSchema#int
  *
  * One string column still holds every term (the point of the string
  * lexicon: no schema change, no second column to join); the tag facet
  * is self-describing, renderable by BOTH engines (the DuckDB oracle
  * reproduces it with string concat / regexp_extract), and map-only to
  * introspect — LANG / DATATYPE / STR / LANGMATCHES compile to
  * codegen'd regexp/concat Column expressions, no UDF. A leading `"`
  * cannot start an IRI-shaped term (scheme = letter-first), so tagged
  * forms never collide with the IRI shape the access paths and
  * ISIRI/ISLITERAL prune on.
  */
object RdfLiteral {

  val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
  val XsdDecimal = "http://www.w3.org/2001/XMLSchema#decimal"
  val RdfLangString = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

  /** BCP-47-ish language tag (`fr`, `en-US`, `zh-Hant-TW`). `(?s)`
    * lets the lexical form span newlines — without it a multiline
    * tagged literal would silently fall through every facet branch
    * and be treated as a plain literal. */
  private val langShape = "(?s)^\".*\"@[A-Za-z]+(-[A-Za-z0-9]+)*$"
  private val typedShape = "(?s)^\".*\"\\^\\^"
  private val LexOf = "(?s)^\"(.*)\"(@|\\^\\^)"
  private val LangOf = "(?s)^\".*\"@(.*)$"
  private val DatatypeOf = "(?s)^\".*\"\\^\\^(.*)$"

  /** `regexp_extract(_, regex, 1)` for the driver-side String twins
    * ([[graft.rdf.Lexicon]]): "" when nothing matches. */
  private def extract1(regex: String): String => String = {
    val p = java.util.regex.Pattern.compile(regex)
    s => { val m = p.matcher(s); if (m.find()) m.group(1) else "" }
  }
  private val lexOf = extract1(LexOf)
  private val tagOf = extract1(LangOf)
  private val dtOf = extract1(DatatypeOf)

  // ---- Scala-side constructors (parser constants, ingest, tests) ----
  def tagged(lex: String, lang: String): String = "\"" + lex + "\"@" + lang
  def typed(lex: String, dt: String): String = "\"" + lex + "\"^^" + dt

  def isTagged(c: Column): Column = c.rlike(langShape)
  def isTyped(c: Column): Column = c.rlike(typedShape)
  private val taggedShaped = java.util.regex.Pattern.compile(langShape)
  private val typedShaped = java.util.regex.Pattern.compile(typedShape)
  def isTagged(t: String): Boolean = taggedShaped.matcher(t).find()
  def isTyped(t: String): Boolean = typedShaped.matcher(t).find()

  /** STR (§17.4.2.5): the lexical form — strips the tag facet; IRIs
    * and plain literals pass through unchanged. */
  def strOf(c: Column): Column =
    when(isTagged(c) || isTyped(c), regexp_extract(c, LexOf, 1)).otherwise(c)
  def strOf(t: String): String = if (isTagged(t) || isTyped(t)) lexOf(t) else t

  /** LANG (§17.4.2.6): the language tag; '' for any untagged term. */
  def langOf(c: Column): Column =
    when(isTagged(c), regexp_extract(c, LangOf, 1)).otherwise(lit(""))
  def langOf(t: String): String = if (isTagged(t)) tagOf(t) else ""

  /** DATATYPE (§17.4.2.7): explicit datatype of a typed literal;
    * rdf:langString for tagged; numeric-shaped plain terms report
    * xsd:integer/xsd:decimal (the lexicon stores numbers by lexical
    * form — the same inference the reference's numeric IVs encode);
    * other plain literals xsd:string; IRIs are a type error → unbound
    * (null). */
  def datatypeOf(c: Column): Column =
    when(isTyped(c), typedDatatypeOf(c))
      .when(isTagged(c), lit(RdfLangString))
      .when(graft.rdf.Lexicon.isIri(c), lit(null).cast("string"))
      .when(c.rlike("^[-+]?[0-9]+$"), lit(XsdInteger))
      .when(c.rlike("^[-+]?[0-9]*\\.[0-9]+$"), lit(XsdDecimal))
      .otherwise(lit(XsdString))

  /** The explicit datatype IRI of a TYPED literal term form — the
    * single extract every serializer shares (callers guard with
    * [[isTyped]]). `(?s)` so a lexical form spanning newlines still
    * yields its datatype instead of an empty string. */
  def typedDatatypeOf(c: Column): Column = regexp_extract(c, DatatypeOf, 1)
  def typedDatatypeOf(t: String): String = dtOf(t)

  /** LANGMATCHES (§17.4.3.1 / RFC 4647 basic filtering): '*' matches
    * any non-empty tag; otherwise case-insensitive exact match or
    * range-prefix at a '-' boundary (`fr` matches `fr-CA`). */
  def langMatches(lang: Column, range: Column): Column =
    when(range === "*", lang =!= "")
      .otherwise(lower(lang) === lower(range) ||
        lower(lang).startsWith(concat(lower(range), lit("-"))))

  /** §17.4.3 string-function argument rule: the operation applies to
    * the LEXICAL form, and a language tag is preserved on the result
    * (UCASE("foo"@en) = "FOO"@en). Typed and plain literals operate on
    * their lexical form and yield simple literals. For plain terms
    * (the lexicon norm) this is a first-char regex miss then `f`
    * verbatim — no hot-path cost. */
  def mapLexPreserveTag(c: Column)(f: Column => Column): Column =
    when(isTagged(c),
      concat(lit("\""), f(regexp_extract(c, "(?s)^\"(.*)\"@", 1)),
        lit("\"@"), regexp_extract(c, "\"@([A-Za-z0-9-]+)$", 1)))
      .when(isTyped(c), f(regexp_extract(c, "(?s)^\"(.*)\"\\^\\^", 1)))
      .otherwise(f(c))

  /** CONCAT (§17.4.3.2): lexical forms concatenate; the result keeps a
    * language tag only when EVERY argument carries that same tag
    * (CONCAT("a"@en, "b"@en) = "ab"@en; any plain/typed/other-lang
    * argument makes it a simple literal). Single-pass Column algebra —
    * still codegen'd regexp/concat, no UDF. */
  def concatTerms(a: Seq[Column]): Column =
    if (a.isEmpty) lit("")
    else {
      val lexCat = concat(a.map(strOf): _*)
      val lang0 = langOf(a.head)
      val allSame = a.tail.foldLeft(lang0 =!= "") { (acc, c) => acc && langOf(c) === lang0 }
      when(allSame, strLang(lexCat, lang0)).otherwise(lexCat)
    }

  /** Numeric VALUE of a term, or null when the term is not
    * numeric-shaped (§17.2/§17.3: a non-numeric operand to a numeric
    * operator is a TYPE ERROR — null propagates and a FILTER drops the
    * row, exactly the spec outcome; an ANSI cast would instead abort
    * the whole query on one malformed row). */
  def numOf(c: Column): Column = {
    val lex = strOf(c)
    when(lex.rlike("^[-+]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][-+]?[0-9]+)?$"),
      lex.cast("double"))
  }

  /** Effective boolean value of a STRING term column (§17.2.2):
    * boolean literals by value, numerics ≠ 0, plain/string literals
    * non-empty; IRI-shaped terms and null are a type error → false. */
  def ebvOf(c: Column): Column = {
    val lex = strOf(c)
    when(c.isNull, lit(false))
      .when(lower(lex) === "true", lit(true))
      .when(lower(lex) === "false", lit(false))
      .when(numOf(c).isNotNull, numOf(c) =!= 0.0)
      .when(!graft.rdf.Lexicon.isLiteral(c), lit(false))
      .otherwise(length(lex) > 0)
  }

  /** A TYPED literal term whose VALUE is undefined for comparison
    * purposes: an unknown (non-XSD-core) datatype, or a known numeric/
    * boolean datatype with an ill-typed lexical form ("xyz"^^xsd:integer).
    * RDFterm-equal over two distinct such literals is an ERROR
    * (§17.4.1.7), not false. */
  def illComparable(c: Column): Column = {
    val dt = typedDatatypeOf(c)
    val lex = strOf(c)
    val numericDt = dt.rlike(
      "^http://www\\.w3\\.org/2001/XMLSchema#(integer|decimal|double|float|int|long|short|byte|(non(Negative|Positive)|negative|positive)Integer|unsigned(Long|Int|Short|Byte))$")
    val numericLex = lex.rlike("^[-+]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][-+]?[0-9]+)?$")
    isTyped(c) && (
      // known numeric datatype, ill-typed lexical
      (numericDt && !numericLex) ||
      (dt === XsdBoolean && !lex.isin("true", "false", "0", "1")) ||
      // unknown datatype: not one this engine compares by value
      (!numericDt && dt =!= XsdString && dt =!= XsdBoolean && dt =!= XsdDateTime))
  }

  val XsdBoolean = "http://www.w3.org/2001/XMLSchema#boolean"
  val XsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"

  /** STRLANG (§17.4.2.8). */
  def strLang(lex: Column, lang: Column): Column =
    concat(lit("\""), lex, lit("\"@"), lang)

  /** STRDT (§17.4.2.9). */
  def strDt(lex: Column, dt: Column): Column =
    concat(lit("\""), lex, lit("\"^^"), dt)
}
