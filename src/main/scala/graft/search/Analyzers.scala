package graft.search

import org.apache.spark.sql.Column

import graft.functions.{AnalyzeText, Tokenize}

/** Pluggable full-text analyzers — the seam the reference exposes as
  * per-namespace analyzer configuration
  * (bigdata-core/bigdata/src/java/com/bigdata/search/
  * ConfigurableAnalyzerFactory.java:110, DefaultAnalyzerFactory.java:69):
  * Blazegraph picks a Lucene analyzer per language tag, with
  * configurable stopwords, so `bds:search` works on non-Latin corpora.
  *
  * Every analyzer here is ONE native codegen expression
  * ([[graft.functions.AnalyzeText]]) over the text column — the
  * per-token work runs as plain JVM code inside the generated
  * consume(), so the tokenize stage keeps its WholeStageCodegen span
  * (the previous transform/flatten higher-order-function formulation
  * was CodegenFallback: an interpreted lambda tree per row — measured
  * on a 10x CJK-heavy index build, recorded in `BENCH_r10_evidence.json`:
  * HOF ~1.99 s vs native ~1.36 s, 1.45x, with 0 parity mismatches over
  * 2.66M (doc, term) postings). The SAME
  * JVM tokenizer body serves [[Analyzer.tokenizeLocal]], so index-time
  * and query-time tokenization cannot drift.
  *
  * [[Analyzer.Latin]] is the default (lowercased alnum runs — exactly
  * the tokenization every existing oracle replays). [[Analyzer.Cjk]]
  * emits overlapping character bigrams over Han/Kana/Hangul runs (the
  * Lucene CJKAnalyzer strategy — CJK scripts have no word delimiters,
  * so a [a-z0-9]+ tokenizer silently returns nothing) plus embedded
  * Latin words. [[Analyzer.Unicode]] tokenizes letter/digit runs of
  * EVERY script — Cyrillic, Arabic, Greek, Hebrew, Devanagari, Thai …
  * — closing the "non-CJK non-Latin text tokenizes to nothing" gap;
  * CJK segments still emit bigrams. [[Analyzer.En]] adds the Lucene
  * EnglishAnalyzer behavior: English stopwords + Porter stemming
  * ("databases" matches "database"), applied identically at index and
  * query time. All take a stopword set, applied post-tokenize (and
  * before stemming) like Lucene stop filters. [[Analyzer.forLanguage]]
  * is the per-language registry. */
trait Analyzer extends Serializable {
  /** text column → array<string> of index/query terms */
  def tokenize(c: Column): Column

  /** driver-side tokenization of a QUERY string — must agree with
    * [[tokenize]] so `bds:query "分布式数据库"` turns into the same
    * bigrams the index holds. Query strings are tiny; this never runs
    * on data. Both paths call the one [[graft.functions.Tokenize]]
    * body, so agreement is by construction. */
  def tokenizeLocal(s: String): Seq[String]

  /** True when every token this analyzer emits is a SUBSTRING of the
    * lowercased input text (pure segmentation, no rewriting). Scans
    * may then pre-filter candidate rows with a cheap `contains(
    * lower(text), term)` — a strict superset of the token match — so
    * a corpus-wide distinct/tokenize only sees candidates
    * (bds:searchInSearch relies on this over the full triple view).
    * Stemming analyzers REWRITE tokens (happy → happi is not a
    * substring) and keep the default false. */
  def substringSafe: Boolean = false
}

object Analyzer {

  private def native(c: Column, mode: Int, stemmer: String,
                     stops: Set[String]): Column =
    AnalyzeText.analyze_text(c, mode, stemmer, stops)

  /** Lowercased [a-z0-9]+ runs — the default analyzer (and exactly the
    * tokenization every existing oracle replays). */
  case class Latin(stopwords: Set[String] = Set.empty) extends Analyzer {
    override def substringSafe: Boolean = true
    def tokenize(c: Column): Column =
      native(c, Tokenize.LATIN, Tokenize.NoStem, stopwords)
    def tokenizeLocal(s: String): Seq[String] =
      Tokenize.tokenizeJava(Tokenize.LATIN, Tokenize.NoStem, stopwords, s).toSeq
  }

  /** CJK bigram analyzer: each maximal CJK-script run of length n
    * yields its n−1 overlapping bigrams (a length-1 run yields the
    * single character); Latin runs inside the same text tokenize as
    * [[Latin]] words. Overlapping bigrams make substring search work
    * without dictionaries: a query phrase tokenizes into bigrams that
    * all occur in any document containing the phrase. */
  case class Cjk(stopwords: Set[String] = Set.empty) extends Analyzer {
    override def substringSafe: Boolean = true
    def tokenize(c: Column): Column =
      native(c, Tokenize.CJK, Tokenize.NoStem, stopwords)
    def tokenizeLocal(s: String): Seq[String] =
      Tokenize.tokenizeJava(Tokenize.CJK, Tokenize.NoStem, stopwords, s).toSeq
  }

  /** Unicode-letter-run analyzer: lowercased runs of letters/digits in
    * ANY script (\\p{L}\\p{N} semantics), CJK segments as bigrams — the
    * one-stroke fallback that makes every alphabetic script searchable
    * instead of silently indexing zero terms. The analog of the
    * reference wiring per-language Lucene analyzers for ~30 languages
    * (ConfigurableAnalyzerFactory.java:110). */
  case class Unicode(stopwords: Set[String] = Set.empty) extends Analyzer {
    override def substringSafe: Boolean = true
    def tokenize(c: Column): Column =
      native(c, Tokenize.UNICODE, Tokenize.NoStem, stopwords)
    def tokenizeLocal(s: String): Seq[String] =
      Tokenize.tokenizeJava(Tokenize.UNICODE, Tokenize.NoStem, stopwords, s).toSeq
  }

  /** Lucene EnglishAnalyzer's default stop set (public, 33 words). */
  val EnglishStops: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  /** English analyzer = Unicode tokenize + English stopwords + Porter
    * stemming, the Lucene EnglishAnalyzer pipeline (tokenize →
    * lowercase → stop → stem, in that order). */
  case class En(stopwords: Set[String] = EnglishStops) extends Analyzer {
    def tokenize(c: Column): Column =
      native(c, Tokenize.UNICODE, Tokenize.Porter, stopwords)
    def tokenizeLocal(s: String): Seq[String] =
      Tokenize.tokenizeJava(Tokenize.UNICODE, Tokenize.Porter, stopwords, s).toSeq
  }

  /** Stemmed European-language analyzer: Unicode tokenize + a
    * language-keyed light stemmer ([[graft.functions.LightStemmer]] —
    * Savoy-style plural/case/gender stripping + diacritic folding,
    * the recall tier the reference's GermanAnalyzer/FrenchAnalyzer/
    * SpanishAnalyzer provide). Opt-in via [[byName]]("de-stem" etc.)
    * or an explicit instance; the plain language tags keep the
    * surface-form [[Unicode]] analyzer so existing indexes don't
    * change meaning. */
  case class Stemmed(stemmerLang: String,
                     stopwords: Set[String] = Set.empty) extends Analyzer {
    def tokenize(c: Column): Column =
      native(c, Tokenize.UNICODE, stemmerLang, stopwords)
    def tokenizeLocal(s: String): Seq[String] =
      Tokenize.tokenizeJava(Tokenize.UNICODE, stemmerLang, stopwords, s).toSeq
  }

  /** Thai analyzer — the Lucene ThaiAnalyzer analog, the reference's
    * DEFAULT for `tha`/`th` (ConfigurableAnalyzerFactory.java:149):
    * Thai script writes no word delimiters and carries vowels/tones as
    * combining marks, so letter-run tokenizers both fail to split
    * words and split INSIDE them; Thai-script runs are segmented with
    * the JDK's dictionary-based word BreakIterator (the same engine
    * Lucene's ThaiTokenizer wraps), other scripts tokenize like
    * [[Unicode]]. Pure segmentation → substring-safe. */
  case class Thai(stopwords: Set[String] = Set.empty) extends Analyzer {
    override def substringSafe: Boolean = true
    def tokenize(c: Column): Column =
      native(c, Tokenize.THAI, Tokenize.NoStem, stopwords)
    def tokenizeLocal(s: String): Seq[String] =
      Tokenize.tokenizeJava(Tokenize.THAI, Tokenize.NoStem, stopwords, s).toSeq
  }

  /** Whole-literal verbatim single term — the Lucene KeywordAnalyzer
    * analog (ConfigurableAnalyzerFactory.java:52): identifiers, codes
    * and enum-like literals index as ONE exact term — no lowercasing,
    * no splitting, stopwords ignored. Pure built-in column functions
    * (array of the value), so the index build stays codegen. */
  case class Keyword() extends Analyzer {
    import org.apache.spark.sql.functions._
    def tokenize(c: Column): Column =
      when(length(c) > 0, array(c)).otherwise(array().cast("array<string>"))
    def tokenizeLocal(s: String): Seq[String] =
      if (s == null || s.isEmpty) Seq.empty else Seq(s)
  }

  /** Term-completion analyzer — the TermCompletionAnalyzer analog
    * (TermCompletionAnalyzer.java, drop-down completion over technical
    * vocabularies): each whitespace word emits itself plus the suffix
    * after every `subWord` boundary, and (with `soft` given) the
    * soft-hyphen-discarded form — so prefix queries (`bds:search
    * "tim*"`) complete mid-word. Terms are verbatim (no lowercasing);
    * the reference pairs the INDEX side with a keyword-analyzer query
    * tag, and here the natural pairing is `prefixMatch = true` (or
    * `byName("keyword")` on the query string). */
  case class TermCompletion(subWord: String = "[-_]",
                            soft: Option[String] = None,
                            // the reference's wordBoundary parameter
                            // (TermCompletionAnalyzer ctor arg 1);
                            // reachable only through THIS config seam —
                            // the `termcompletion:…` NAME syntax pins
                            // whitespace words because its ':' slots
                            // are taken (and terms stay verbatim, so a
                            // default-boundary word keeps attached
                            // punctuation: "report." indexes with the
                            // dot — prefix queries tolerate it, exact
                            // keyword queries need a boundary like
                            // [\s\p{Punct}]+ set here)
                            wordBoundary: String = "\\s+") extends Analyzer {
    def tokenize(c: Column): Column =
      graft.functions.TermCompleteText.term_complete(c, subWord, soft, wordBoundary)
    def tokenizeLocal(s: String): Seq[String] =
      if (s == null) Seq.empty
      else graft.functions.TermComplete.terms(
        java.util.regex.Pattern.compile(wordBoundary),
        java.util.regex.Pattern.compile(subWord),
        soft.map(java.util.regex.Pattern.compile), s).toSeq
  }

  /** Regex-split analyzer — the Lucene PatternAnalyzer analog
    * (ConfigurableAnalyzerFactory.java:54): `regex` matches token
    * SEPARATORS; text lowercases, splits on the pattern, empty tokens
    * drop, then the stop filter applies. Column path and query path
    * share Java regex semantics (split with limit −1). */
  case class Pattern(regex: String,
                     stopwords: Set[String] = Set.empty) extends Analyzer {
    import org.apache.spark.sql.functions._
    // separator-split of the LOWERCASED text: every token is a
    // substring of lower(text), so the contains() scan prune applies
    override def substringSafe: Boolean = true
    def tokenize(c: Column): Column = {
      val toks = split(lower(c), regex, -1)
      filter(toks, t =>
        length(t) > 0 &&
          (if (stopwords.isEmpty) lit(true)
           else !t.isin(stopwords.toSeq: _*)))
    }
    def tokenizeLocal(s: String): Seq[String] =
      if (s == null) Seq.empty
      else s.toLowerCase(java.util.Locale.ROOT).split(regex, -1).toSeq
        .filter(t => t.nonEmpty && !stopwords(t))
  }

  /** Language-tag registry, the ConfigurableAnalyzerFactory analog:
    * CJK languages get the bigram analyzer; non-Latin-script and
    * diacritic-heavy languages get the Unicode analyzer; everything
    * else (including the default-analyzer contract for "en") stays
    * Latin. Stemmed English is opt-in via [[byName]]("english"). A
    * deployment overrides per namespace by passing an Analyzer
    * directly to [[FullText]]. */
  def forLanguage(lang: String, stopwords: Set[String] = Set.empty): Analyzer =
    lang.toLowerCase.takeWhile(_ != '-') match {
      case "zh" | "ja" | "ko" => Cjk(stopwords)
      // Thai gets dictionary segmentation by DEFAULT, matching the
      // reference's tha→ThaiAnalyzer mapping — a letter-run tokenizer
      // is wrong for Thai twice over (no delimiters; marks split words)
      case "th" => Thai(stopwords)
      case "ru" | "uk" | "bg" | "sr" | "mk" | "be" | // Cyrillic
           "ar" | "fa" | "ur" |                      // Arabic script
           "el" | "he" | "yi" |                      // Greek / Hebrew
           "hi" | "mr" | "ne" | "bn" | "pa" | "gu" | // Indic
           "ta" | "te" | "kn" | "ml" | "si" |
           "lo" | "my" | "km" |                      // SE-Asian
           "ka" | "hy" | "am" |                      // Caucasus / Ethiopic
           "de" | "fr" | "es" | "pt" | "it" | "nl" | // Latin + diacritics
           "sv" | "da" | "no" | "fi" | "pl" | "cs" |
           "tr" | "ro" | "hu" | "vi" =>
        Unicode(stopwords)
      case _ => Latin(stopwords)
    }

  /** `bds:analyzer` option values: an analyzer name, `keyword`,
    * `pattern:<regex>`, or a language tag. */
  def byName(name: String, stopwords: Set[String] = Set.empty): Analyzer = {
    val lc = name.toLowerCase
    // the regex after "pattern:" is passed VERBATIM (not lowercased)
    if (lc.startsWith("pattern:"))
      return Pattern(name.substring("pattern:".length), stopwords)
    // termcompletion[:<subWord regex>[:<soft-hyphen regex>]] — both
    // regexes verbatim; bare name defaults to [-_] subword boundaries.
    // The name must be EXACTLY 'termcompletion' or carry ':' right
    // after it — a typo like 'termcompletions' falls through to the
    // unknown-name path instead of silently becoming a subWord regex.
    // Because the first ':' splits name/subWord and the second splits
    // subWord/soft, the subWord regex cannot contain a literal ':'
    // at all (no escaping — pick another boundary class); the soft
    // regex, being last, may.
    if (lc == "termcompletion" || lc.startsWith("termcompletion:")) {
      val rest = name.substring("termcompletion".length).stripPrefix(":")
      val parts = if (rest.isEmpty) Array.empty[String]
                  else rest.split(":", 2)
      return TermCompletion(
        subWord = if (parts.length >= 1 && parts(0).nonEmpty) parts(0) else "[-_]",
        soft = if (parts.length >= 2 && parts(1).nonEmpty) Some(parts(1)) else None)
    }
    lc match {
      case "keyword"                       => Keyword()
      case "cjk"                           => Cjk(stopwords)
      case "latin"                         => Latin(stopwords)
      case "unicode"                       => Unicode(stopwords)
      // "english" always implies the Lucene stop set (matching
      // Lucene's EnglishAnalyzer no-arg constructor) — an empty set
      // here means "not provided". Stemmed English WITHOUT stopwords
      // is its own name, since Set.empty can't express it.
      case "english" | "en-stem" | "porter" =>
        if (stopwords.isEmpty) En() else En(stopwords)
      case "porter-nostop" | "english-nostop" => En(Set.empty)
      case "german" | "de-stem"     => Stemmed("de", stopwords)
      case "french" | "fr-stem"     => Stemmed("fr", stopwords)
      case "spanish" | "es-stem"    => Stemmed("es", stopwords)
      case "russian" | "ru-stem"    => Stemmed("ru", stopwords)
      case "italian" | "it-stem"    => Stemmed("it", stopwords)
      case "portuguese" | "pt-stem" => Stemmed("pt", stopwords)
      case "dutch" | "nl-stem"      => Stemmed("nl", stopwords)
      case "swedish" | "sv-stem"    => Stemmed("sv", stopwords)
      case "norwegian" | "no-stem"  => Stemmed("no", stopwords)
      case "danish" | "da-stem"     => Stemmed("da", stopwords)
      case "finnish" | "fi-stem"    => Stemmed("fi", stopwords)
      case "czech" | "cs-stem"      => Stemmed("cs", stopwords)
      case "greek" | "el-stem"      => Stemmed("el", stopwords)
      // Arabic NORMALIZATION (folding only, no stemming — the Lucene
      // ArabicNormalizer tier): opt-in; the plain `ar` tag keeps
      // surface-form Unicode indexing by documented decision
      case "ar-norm"                => Stemmed("ar", stopwords)
      // opt-in like ar-norm: the plain `tr` tag keeps surface-form
      // Unicode indexing; tr-stem adds the ı→i casefold + light
      // agglutinative suffix tier
      case "turkish" | "tr-stem"    => Stemmed("tr", stopwords)
      case "thai"                   => Thai(stopwords)
      case lang                            => forLanguage(lang, stopwords)
    }
  }
}
