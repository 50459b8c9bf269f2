package graft.rdf

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sparql.RdfLiteral

/** The lexicon codec: the one module that knows the string term
  * encoding. The engine keeps no global dictionary (the reference's
  * LexiconRelation maps IRI ↔ internal id); a term IS its string:
  *
  *   - `c:42`, `name`   base-local IRIs, `urn:graft:` stripped
  *   - `type`           the canonical rdf:type term
  *   - `http://…`       global IRIs, verbatim
  *   - `_:label`        blank nodes
  *   - `ASIA`, `"chat"@fr`, `"5"^^http://…#int`   literals
  *     ([[graft.sparql.RdfLiteral]] owns the facet forms)
  *
  * Each rule is written once as a Scala `String` function (parsers,
  * the server's parameters, remote results) and once as a Spark
  * `Column` expression (loaders, writers), the two next to each other.
  * The Column twins stay codegen'd `regexp`/`concat` expressions, no
  * UDF: every serialized response goes through them.
  *
  * Position matters: a bare word (`name`) is an IRI in subject,
  * predicate and graph position ([[resource]]) and a plain literal in
  * object position ([[token]]), where only scheme-shaped terms are
  * IRIs ([[isIri]]).
  *
  * For iterative algorithms the module also gives each term a
  * deterministic 64-bit hash id ([[encode]]): the scoped analog of
  * the reference's TERM2ID/ID2TERM indexes, map-only with no
  * dictionary build or shuffle, so any two datasets encode alike.
  * Joining on an 8-byte long instead of a string cuts shuffle bytes
  * on wide fixpoints. 64-bit ids over ≤ 2^32 distinct terms collide
  * with probability below ≈ 5e-4 at 4 B terms; an exact build would
  * add a resolution pass (id → count(distinct term) > 1).
  */
object Lexicon {

  /** The engine vocabulary base IRI: IRIs under it intern to their
    * local names. */
  val Base = "urn:graft:"

  /** The full rdf:type IRI. Its term is the local name `type` (what
    * `a` sugar, RDF/XML typed elements and the JSON-LD `@type` key
    * produce), so `a`, `rdf:type` and `<http://…#type>` are one term. */
  val RdfTypeIri = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val Type = "type"

  /** Lexical shape of an IRI term: a scheme prefix (`c:`, `urn:`,
    * `http:`). A bnode label never has it (`_` is not a letter), nor
    * a literal facet form (it starts with `"`). */
  val IriShape = "^[A-Za-z][A-Za-z0-9+.-]*:"

  /** Schemes of GLOBAL IRIs; any other scheme-shaped term is
    * base-local (`c:42` ⇄ `urn:graft:c:42`). */
  private val GlobalScheme = "^(http|https|urn|file|mailto|did|tag):"

  /** `rlike` semantics (a `find`) for the String twins. */
  private def finds(regex: String): String => Boolean = {
    val p = Pattern.compile(regex)
    s => p.matcher(s).find()
  }
  private val iriShaped = finds(IriShape)
  private val globalShaped = finds(GlobalScheme)

  // ---- classify ----------------------------------------------------

  def isBnode(t: String): Boolean = t.startsWith("_:")
  def isBnode(c: Column): Column = c.startsWith("_:")

  def isIri(t: String): Boolean = iriShaped(t)
  def isIri(c: Column): Column = c.rlike(IriShape)

  def isLiteral(t: String): Boolean = !isIri(t) && !isBnode(t)
  def isLiteral(c: Column): Column = !isIri(c) && !isBnode(c)

  // ---- intern: full IRI → term ---------------------------------------

  def intern(iri: String): String =
    if (iri == RdfTypeIri) Type
    else if (iri.startsWith(Base)) iri.substring(Base.length)
    else iri

  def intern(c: Column): Column =
    when(c === RdfTypeIri, lit(Type))
      .when(c.startsWith(Base), c.substr(lit(Base.length + 1), length(c)))
      .otherwise(c)

  /** A document IRI reference: relative references resolve against
    * `base` (pragmatic concat), then intern. */
  def intern(iri: String, base: String): String =
    intern(if (base.nonEmpty && !isIri(iri)) base + iri else iri)

  // ---- render: term → IRI / N-Triples token --------------------------

  /** The full IRI a resource term denotes (no angle brackets). */
  def iri(t: String): String =
    if (t == Type) RdfTypeIri else if (globalShaped(t)) t else Base + t

  def iri(c: Column): Column =
    when(c === Type, lit(RdfTypeIri))
      .when(c.rlike(GlobalScheme), c)
      .otherwise(concat(lit(Base), c))

  /** Does [[iri]] put the term under [[Base]]? */
  def isLocal(c: Column): Column = c =!= Type && !c.rlike(GlobalScheme)

  /** N-Triples token of a subject, predicate or graph term: a bnode
    * label or an angle-bracketed IRI. */
  def resource(t: String): String = if (isBnode(t)) t else "<" + iri(t) + ">"

  def resource(c: Column): Column =
    when(isBnode(c), c).otherwise(concat(lit("<"), iri(c), lit(">")))

  /** N-Triples token of an object term: bnode, IRI, or a quoted and
    * escaped literal with its `@lang` / `^^<dt>` facet. */
  def token(t: String): String =
    if (isBnode(t)) t
    else if (RdfLiteral.isTagged(t))
      quote(RdfLiteral.strOf(t)) + "@" + RdfLiteral.langOf(t)
    else if (RdfLiteral.isTyped(t))
      quote(RdfLiteral.strOf(t)) + "^^" + resource(RdfLiteral.typedDatatypeOf(t))
    else if (isIri(t)) resource(t)
    else quote(t)

  /** `res` renders the IRIs: [[resource]], or a writer's own form
    * (Turtle's prefix compression). */
  def token(c: Column, res: Column => Column = resource): Column =
    when(isBnode(c), c)
      .when(RdfLiteral.isTagged(c),
        concat(quote(RdfLiteral.strOf(c)), lit("@"), RdfLiteral.langOf(c)))
      .when(RdfLiteral.isTyped(c),
        concat(quote(RdfLiteral.strOf(c)), lit("^^"), res(RdfLiteral.typedDatatypeOf(c))))
      .when(isIri(c), res(c))
      .otherwise(quote(c))

  private def quote(lex: String): String = "\"" + escape(lex) + "\""
  private def quote(lex: Column): Column = concat(lit("\""), escape(lex), lit("\""))

  private val TaggedToken = "(?s)^\"(.*)\"@([A-Za-z0-9-]+)$"
  private val TypedToken = "(?s)^\"(.*)\"\\^\\^<(.*)>$"
  private val QuotedToken = "(?s)^\"(.*)\"$"

  /** The groups of the first match of `regex` (`regexp_extract`
    * semantics), for the String twins. */
  private def groups(regex: String): String => Option[java.util.regex.Matcher] = {
    val p = Pattern.compile(regex)
    s => Some(p.matcher(s)).filter(_.find())
  }
  private val taggedToken = groups(TaggedToken)
  private val typedToken = groups(TypedToken)
  private val quotedToken = groups(QuotedToken)

  /** The inverse of [[token]] and [[resource]]: `<iri>` interns,
    * literals unescape into their term forms, bnode labels and bare
    * terms pass through. */
  def fromToken(t: String): String =
    if (t.startsWith("<") && t.endsWith(">")) intern(t.substring(1, t.length - 1))
    else if (isBnode(t)) t
    else taggedToken(t).map(m => RdfLiteral.tagged(unescape(m.group(1)), m.group(2)))
      .orElse(typedToken(t).map(m => RdfLiteral.typed(unescape(m.group(1)), intern(m.group(2)))))
      .orElse(quotedToken(t).map(m => unescape(m.group(1))))
      .getOrElse(t)

  def fromToken(c: Column): Column =
    when(c.startsWith("<") && c.endsWith(">"), intern(c.substr(lit(2), length(c) - 2)))
      .when(isBnode(c), c)
      .when(c.rlike(TaggedToken), RdfLiteral.strLang(
        unescape(regexp_extract(c, TaggedToken, 1)), regexp_extract(c, TaggedToken, 2)))
      .when(c.rlike(TypedToken), RdfLiteral.strDt(
        unescape(regexp_extract(c, TypedToken, 1)), intern(regexp_extract(c, TypedToken, 2))))
      .when(c.rlike(QuotedToken), unescape(regexp_extract(c, QuotedToken, 1)))
      .otherwise(c)

  // ---- escape / unescape of lexical forms ----------------------------

  /** Escapes backslash FIRST, then `"`, newline, carriage return and
    * tab: the characters that would break a line format (an unescaped
    * `\r` even splits the record in Spark's text reader). Backslash
    * first keeps the chain lossless: the raw two-char text `\n`
    * renders as `\\n` and reloads as `\n`. */
  def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")

  def escape(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      c, "\\\\", "\\\\\\\\"),
      "\"", "\\\\\""), "\n", "\\\\n"), "\r", "\\\\r"), "\t", "\\\\t")

  /** The one decoder: every ECHAR (`\t \b \n \r \f \" \' \\`) and
    * UCHAR (`\uXXXX`, `\UXXXXXXXX`); any other escaped char stands
    * for itself. */
  def unescape(s: String): String =
    if (s.indexOf('\\') < 0) s
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length)
        if (s(i) == '\\' && i + 1 < s.length) i = unescapeAt(s, i, sb)
        else { sb += s(i); i += 1 }
      sb.toString
    }

  /** The Column twin decodes every ECHAR, not UCHAR (no codegen'd
    * function maps a hex code to a char). Escaped backslashes park on
    * U+FFFF first, a Unicode noncharacter, so `\\n` stays a backslash
    * and an `n`. */
  def unescape(c: Column): Column = {
    val echars = Seq("n" -> "\n", "r" -> "\r", "t" -> "\t", "b" -> "\b", "f" -> "\f",
      "\"" -> "\"", "'" -> "'")
    val decoded = echars.foldLeft(regexp_replace(c, "\\\\\\\\", "\uFFFF")) {
      case (x, (e, ch)) => regexp_replace(x, "\\\\" + e, ch)
    }
    regexp_replace(decoded, "\uFFFF", "\\\\")
  }

  /** Decodes the escape whose backslash is at `s(i)` into `sb`;
    * returns the index just past it. */
  private def unescapeAt(s: String, i: Int, sb: StringBuilder): Int = s(i + 1) match {
    case 'n' => sb += '\n'; i + 2
    case 't' => sb += '\t'; i + 2
    case 'r' => sb += '\r'; i + 2
    case 'b' => sb += '\b'; i + 2
    case 'f' => sb += '\f'; i + 2
    case 'u' => sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i + 6
    case 'U' =>
      sb.appendAll(Character.toChars(Integer.parseInt(s.substring(i + 2, i + 10), 16))); i + 10
    case c => sb += c; i + 2
  }

  /** Scans one quoted string starting at `s(start)` (a quote char):
    * short or long (tripled delimiter) form, single or double quotes
    * (SPARQL [156-159], Turtle [22-25]), escapes decoded. Returns
    * (lexical form, index just past the closing delimiter). A long
    * form's content may end in up to two quotes (longest match). */
  def scanString(s: String, start: Int): (String, Int) = {
    val quote = s(start)
    val long = s.startsWith(quote.toString * 3, start)
    var i = start + (if (long) 3 else 1)
    val sb = new StringBuilder
    while (i < s.length) {
      if (long && s.startsWith(quote.toString * 3, i) &&
          !(i + 3 < s.length && s(i + 3) == quote))
        return (sb.toString, i + 3)
      if (!long && s(i) == quote) return (sb.toString, i + 1)
      if (s(i) == '\\' && i + 1 < s.length) i = unescapeAt(s, i, sb)
      else {
        require(long || (s(i) != '\n' && s(i) != '\r'),
          s"unterminated string literal at $start")
        sb += s(i); i += 1
      }
    }
    sys.error(s"unterminated string literal at $start")
  }

  // ---- hash ids ------------------------------------------------------

  private def tid(c: Column) = xxhash64(c)

  /** (s,p,o) → (sid, pid, oid) — map-only, no dictionary build. */
  def encode(triples: DataFrame): DataFrame =
    triples.select(tid(col("s")).as("sid"), tid(col("p")).as("pid"),
                   tid(col("o")).as("oid"))

  /** id → term table for the terms occurring in `triples`. */
  def dictionary(triples: DataFrame): DataFrame =
    triples.select(col("s").as("term"))
      .unionAll(triples.select(col("p")))
      .unionAll(triples.select(col("o")))
      .distinct()
      .select(tid(col("term")).as("id"), col("term"))

  /** Decode an encoded triple table with a dictionary (three broadcast
    * joins when the dictionary is small; shuffle joins otherwise). */
  def decode(encoded: DataFrame, dict: DataFrame): DataFrame =
    encoded
      .join(dict.select(col("id").as("sid"), col("term").as("s")), "sid")
      .join(dict.select(col("id").as("pid"), col("term").as("p")), "pid")
      .join(dict.select(col("id").as("oid"), col("term").as("o")), "oid")
      .select("s", "p", "o")
}
