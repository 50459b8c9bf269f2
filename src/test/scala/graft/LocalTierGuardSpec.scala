package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Keeps five mechanisms ONE each. No `src/main` file other than
  * `graft/plans/LocalTier.scala` may read a `*.localBound` conf key or
  * declare its own `Local*Bound` constant — a new driver-side replay
  * takes its budget and probe from [[graft.plans.LocalTier]]. No
  * `src/main` or `src/test` file other than `graft/Harness.scala` may
  * build a Spark session or read the core-count variable — a new
  * entry point takes its session from [[graft.Harness]]. And no
  * `src/main` file other than `graft/plans/Fixpoint.scala` may run its
  * own round loop over DataFrames — a new distributed iteration runs
  * on [[graft.plans.Fixpoint]]. And no `src/main` file other than
  * `graft/rdf/Lexicon.scala` may spell the global-IRI schemes or strip
  * the engine base by hand — a new term rendering or interning calls
  * [[graft.rdf.Lexicon]]. And no `src/main` code outside the server's
  * `Request` reads an HTTP exchange's query string or body, or
  * URL-decodes — a new handler takes its parameters from the one
  * request reader. And no `src/main` file other than
  * `graft/plans/Jobs.scala` sets, clears or cancels a Spark job group
  * or description — a new scope labels its jobs, or makes them
  * cancellable, through [[graft.plans.Jobs]]. */
class LocalTierGuardSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): List[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  /** Lines of `files` other than `owner` that match any pattern. */
  private def offenders(files: List[Path], owner: Path, patterns: Regex*): List[String] = {
    assert(files.contains(owner))
    for {
      f <- files if f != owner
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
      if patterns.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  test("only LocalTier owns a small-input bound") {
    val root = Paths.get("src", "main", "scala")
    val found = offenders(scalaFiles(root), root.resolve("graft/plans/LocalTier.scala"),
      """\.localBound\b""".r, """\b(val|var|def)\s+Local\w*Bound\b""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  /** `src` with comments and string and character literals blanked,
    * newlines kept, so braces, parens and words inside them are not
    * code. */
  private def blank(src: String): String = {
    val out = new StringBuilder(src)
    def clear(from: Int, to: Int): Unit =
      (from until (to min src.length)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def upTo(s: String, from: Int): Int = src.indexOf(s, from) match {
      case -1 => src.length
      case e => e + s.length
    }
    var i = 0
    while (i < src.length) {
      val next =
        if (src.startsWith("//", i)) upTo("\n", i)
        else if (src.startsWith("/*", i)) upTo("*/", i + 2)
        else if (src.startsWith("\"\"\"", i)) upTo("\"\"\"", i + 3)
        else if (src(i) == '"') {
          var e = i + 1
          while (e < src.length && src(e) != '"' && src(e) != '\n') e += (if (src(e) == '\\') 2 else 1)
          e + 1
        } else if (src(i) == '\'' && src.startsWith("'", i + 2)) i + 3
        else if (src.startsWith("'\\", i) && src.startsWith("'", i + 3)) i + 4
        else i + 1
      if (next > i + 1) clear(i, next)
      i = next
    }
    out.toString
  }

  /** Index of the bracket closing the one at `open`. */
  private def closing(code: String, open: Int): Int = {
    val (o, c) = (code(open), if (code(open) == '(') ')' else '}')
    var depth = 0
    var i = open
    while ({ if (code(i) == o) depth += 1 else if (code(i) == c) depth -= 1; depth > 0 }) i += 1
    i
  }

  /** `while` loops in `src` whose condition tests `!<x>.isEmpty`, or
    * whose body (brace-matched, else the one statement up to the end of
    * its line) calls `localCheckpoint` or `cp(`, as "line: loop head". */
  private def dataFrameLoops(src: String): List[String] = {
    val code = blank(src)
    """\bwhile\s*\(""".r.findAllMatchIn(code).toList.flatMap { m =>
      val condEnd = closing(code, m.end - 1)
      var b = condEnd + 1
      while (b < code.length && code(b).isWhitespace) b += 1
      val bodyEnd =
        if (b < code.length && code(b) == '{') closing(code, b)
        else code.indexOf('\n', b) match { case -1 => code.length; case e => e }
      val cond = code.substring(m.end, condEnd)
      val body = code.substring(b, bodyEnd)
      val tests = """![^&|;\n]*?\.isEmpty\b""".r.findFirstIn(cond).isDefined
      val materializes = """\blocalCheckpoint\b|\bcp\s*\(""".r.findFirstIn(body).isDefined
      if (tests || materializes)
        Some(s"${code.substring(0, m.start).count(_ == '\n') + 1}: ${code.substring(m.start, condEnd + 1)}")
      else None
    }
  }

  test("only Fixpoint runs a round loop over DataFrames") {
    // the detector itself: the skeletons it must catch, and the
    // driver-side replays it must let pass
    assert(dataFrameLoops("while (i < n && !frontier.isEmpty) {\n  i += 1\n}").nonEmpty)
    assert(dataFrameLoops("while (!done) {\n  x = cp(y.union(z))\n}").nonEmpty)
    assert(dataFrameLoops("while (more)\n  acc = acc.localCheckpoint()").nonEmpty)
    assert(dataFrameLoops(
      "while (frontier.nonEmpty) { // not: !frontier.isEmpty\n  f = \"cp(\" + '{' }").isEmpty)
    val root = Paths.get("src", "main", "scala")
    val owner = root.resolve("graft/plans/Fixpoint.scala")
    val files = scalaFiles(root)
    assert(files.contains(owner))
    val found = for {
      f <- files if f != owner
      loop <- dataFrameLoops(new String(Files.readAllBytes(f), "UTF-8"))
    } yield s"$f:$loop"
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only Harness builds a SparkSession or reads the core count") {
    val main = Paths.get("src", "main", "scala")
    val files = scalaFiles(main) ++ scalaFiles(Paths.get("src", "test", "scala"))
    val found = offenders(files, main.resolve("graft/Harness.scala"),
      """SparkSession\s*\.\s*builder\b""".r, """SPARK_GRAFT_CPU[S]""".r)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  /** Spellings of the term encoding outside its codec: the global-IRI
    * scheme list, and the engine base stripped by hand (`drop` or
    * `substring` by its length, `stripPrefix`, an anchored regex) or
    * aliased to a local name first (`Parser.Base` itself re-exports
    * it). */
  private val lexiconRules = Seq(
    """\(http\|https\|""".r,
    """\bBase\s*\.\s*length\b""".r,
    """stripPrefix\s*\(\s*([\w.]*\.)?Base\s*\)""".r,
    """"\^"\s*\+\s*([\w.]*\.)?Base\b""".r,
    """\b(val|var|def)\s+[a-z]\w*\s*=\s*([\w.]*\.)?(Parser|Lexicon)\.Base\b""".r)

  test("only Lexicon knows the term encoding") {
    def leaks(line: String) = lexiconRules.exists(_.findFirstIn(line).isDefined)
    // the detector itself: the copies it must catch, and the calls it
    // must let pass
    assert(leaks("""val globalScheme = "^(http|https|urn|file|mailto|did|tag):.*""""))
    assert(leaks("if (iri.startsWith(Parser.Base)) iri.drop(Parser.Base.length) else iri"))
    assert(leaks("value.stripPrefix(graft.sparql.Parser.Base)"))
    assert(leaks("""regexp_replace(c, "^" + Base, "")"""))
    assert(leaks("val base = graft.sparql.Parser.Base"))
    assert(!leaks("""s"<${Lexicon.iri(x)}>" + Lexicon.intern(iri) + Parser.Base"""))
    assert(!leaks("val Base = Lexicon.Base"))
    val root = Paths.get("src", "main", "scala")
    val found = offenders(scalaFiles(root), root.resolve("graft/rdf/Lexicon.scala"), lexiconRules: _*)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  /** Reads of an exchange's query string or body, and URL decodes, in
    * `src` outside any `class Request` / `object Request` body, as
    * "line: code". */
  private def exchangeReads(src: String): List[String] = {
    val code = blank(src)
    val owners = """\b(class|object)\s+Request\b""".r.findAllMatchIn(code).toList.map { m =>
      val open = code.indexOf('{', m.end)
      (open, closing(code, open))
    }
    located(src, code, """\bgetRequestBody\b|\bgetRawQuery\b|\bURLDecoder\s*\.\s*decode\b""".r
      .findAllMatchIn(code).toList
      .filterNot(m => owners.exists { case (a, b) => a < m.start && m.start < b }))
  }

  /** `matches` in `code` (`src` blanked) as "line: source line". */
  private def located(src: String, code: String, matches: List[Regex.Match]): List[String] = {
    val lines = src.split("\n", -1)
    matches.map { m =>
      val line = code.substring(0, m.start).count(_ == '\n')
      s"${line + 1}: ${lines(line).trim}"
    }
  }

  test("only the request reader reads the exchange") {
    // the detector itself: the reads it must catch, and the reader and
    // its callers it must let pass
    assert(exchangeReads("""val q = new String(ex.getRequestBody.readAllBytes(), "UTF-8")""").nonEmpty)
    assert(exchangeReads("def params(ex: HttpExchange) = ex.getRequestURI.getRawQuery").nonEmpty)
    assert(exchangeReads("""Some(java.net.URLDecoder.decode(v, "UTF-8"))""").nonEmpty)
    assert(exchangeReads(
      "final class Request(val ex: HttpExchange) {\n  lazy val body = ex.getRequestBody.readAllBytes()\n}\n" +
        "object Request { def decode(s: String) = URLDecoder.decode(s, UTF_8) }").isEmpty)
    assert(exchangeReads(
      "val q = r.param(\"query\") // not ex.getRawQuery\nval t = \"getRequestBody\"; Request.decode(v)").isEmpty)
    val root = Paths.get("src", "main", "scala")
    val files = scalaFiles(root)
    assert(files.contains(root.resolve("graft/server/SparqlServer.scala")))
    val found = for {
      f <- files
      read <- exchangeReads(new String(Files.readAllBytes(f), "UTF-8"))
    } yield s"$f:$read"
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  /** Calls in `src` that set, clear or cancel a Spark job group or
    * description, as "line: code". */
  private def jobPropertySets(src: String): List[String] = {
    val code = blank(src)
    located(src, code, ("""\b(setJobGroup|clearJobGroup|setJobDescription|cancelJobGroup\w*|""" +
      """setInterruptOnCancel)\b""").r.findAllMatchIn(code).toList)
  }

  test("only the operation seam sets Spark job properties") {
    // the detector itself: the calls it must catch, and the comments,
    // strings and scope calls it must let pass
    assert(jobPropertySets("sc.setJobGroup(id, s\"sparql:$ns\", interruptOnCancel = true)").nonEmpty)
    assert(jobPropertySets("try body finally spark.sparkContext.clearJobGroup()").nonEmpty)
    assert(jobPropertySets("s.sparkContext.setJobDescription(s\"stage: $tag\")").nonEmpty)
    assert(jobPropertySets("sc.cancelJobGroup(id)\nsc.cancelJobGroupAndFutureJobs(id)").size == 2)
    assert(jobPropertySets("sc.setInterruptOnCancel(true)").nonEmpty)
    assert(jobPropertySets(
      "// not sc.setJobGroup(id, d)\nval s = \"clearJobGroup\"; Jobs.group(id)(Jobs.span(l)(b))").isEmpty)
    val root = Paths.get("src", "main", "scala")
    val owner = root.resolve("graft/plans/Jobs.scala")
    val files = scalaFiles(root)
    assert(files.contains(owner))
    val found = for {
      f <- files if f != owner
      set <- jobPropertySets(new String(Files.readAllBytes(f), "UTF-8"))
    } yield s"$f:$set"
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
