package graft.sparql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.rdf.Lexicon

/** Recursive-descent parser for a practical subset of SPARQL 1.1,
  * producing [[Algebra]] (which Compiler turns into a DataFrame plan).
  *
  * Covers the grammar Blazegraph's openrdf-based parser feeds into its
  * AST (bigdata-core/.../sparql/ast/ASTBase hierarchy; grammar in
  * /root/reference/sparql-grammar/):
  *  - PREFIX declarations, `<iri>` and `pfx:local` terms
  *  - SELECT [DISTINCT] with plain vars and `(AGG(?x) AS ?alias)`
  *    aggregate projections; GROUP BY / HAVING (GroupByNode,
  *    HavingNode); COUNT/SUM/AVG/MIN/MAX/GROUP_CONCAT/SAMPLE with
  *    DISTINCT and `COUNT(*)`
  *  - ASK / CONSTRUCT { template } / DESCRIBE <term> query forms
  *  - triple blocks, FILTER (comparisons, &&, ||, !, regex/contains/
  *    strstarts), OPTIONAL, UNION, MINUS, FILTER [NOT] EXISTS,
  *    BIND(expr AS ?v), VALUES inline data, GRAPH g { … } /
  *    GRAPH ?g { … }
  *  - property paths in predicate position: `/` `|` `^` `+` `*` `?`
  *    `!(p1|…)` with parentheses (PathNode grammar)
  *  - ORDER BY [ASC|DESC], LIMIT/OFFSET
  *
  * Terms: `?var`, `"string literal"`, numbers, bare symbols (`nation`,
  * `c:42`), `<iri>`, and declared-prefix names. IRIs inside the
  * engine's base (`urn:graft:`) normalize to their local name — the
  * lexicon-internalization step of a real store (LexiconRelation maps
  * IRI ↔ internal id; here the internal id of a base-vocabulary term
  * IS its local name, so `<urn:graft:nation>` ≡ `nation`).
  */
object Parser {

  /** The engine vocabulary base IRI and the rdf:type IRI
    * ([[graft.rdf.Lexicon]] owns the term encoding). */
  val Base = Lexicon.Base
  val RdfTypeIri = Lexicon.RdfTypeIri

  /** The reference's magic-service namespace IRIs → the engine's
    * prefix-name spellings (SearchServiceFactory's BDS namespace,
    * the external-fulltext FTS namespace, the GAS service namespace —
    * bigdata-core .../store/BDS.java, .../fts/FTS.java,
    * rdf/graph/impl/bd/GASService.java). Interning these at parse
    * time makes full-IRI and prefix-name spellings ONE vocabulary. */
  private[sparql] val NsAliases = Seq(
    "http://www.bigdata.com/rdf/search#" -> "bds:",
    "http://www.bigdata.com/rdf/fts#" -> "fts:",
    "http://www.bigdata.com/rdf/gas#" -> "gas:")

  def parse(query: String): Algebra = new Parser(tokenize(query)).parseQuery()

  /** Parse a SPARQL UPDATE request (INSERT DATA / DELETE DATA /
    * DELETE {} INSERT {} WHERE {}). */
  def parseUpdate(update: String): UpdateOp =
    new Parser(tokenize(update)).parseUpdateTop()

  /** Parse a full UPDATE request: ';'-separated operation sequence
    * (SPARQL 1.1 Update grammar [29] Update). */
  def parseUpdates(update: String): Seq[UpdateOp] =
    new Parser(tokenize(update)).parseUpdateSeq()

  // ---- tokenizer ----
  private val symbolChars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_:#-.".toSet

  private[sparql] def tokenize(q: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < q.length) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '#') {
        // comment to end of line (grammar: COMMENT token). Only a
        // token-START '#' comments — '#' INSIDE a symbol token (an IRI
        // fragment in a bare lexicon term) stays part of that token.
        while (i < q.length && q(i) != '\n') i += 1
      }
      else if (c == '"' || c == '\'') {
        // string literal: double- or single-quoted, short or long
        // (grammar [156-159]), backslash escapes decoded. Emitted
        // normalized as a double-quoted token so every downstream
        // consumer sees ONE form.
        val (lex, after) = Lexicon.scanString(q, i)
        var j = after
        val sb = new StringBuilder("\"").append(lex).append('"')
        if (j < q.length && q(j) == '@') {
          sb += '@'; j += 1
          while (j < q.length && (q(j).isLetterOrDigit || q(j) == '-')) { sb += q(j); j += 1 }
        } else if (j + 1 < q.length && q(j) == '^' && q(j + 1) == '^') {
          sb ++= "^^"; j += 2
          if (j < q.length && q(j) == '<') {
            val gt = q.indexOf('>', j)
            require(gt > 0, s"unterminated datatype IRI at $j")
            sb ++= q.substring(j, gt + 1); j = gt + 1
          } else {
            val st = j
            while (j < q.length && symbolChars(q(j))) j += 1
            var dt = q.substring(st, j)
            if (dt.endsWith(".")) { dt = dt.dropRight(1); j -= 1 }
            sb ++= dt
          }
        }
        out += sb.toString; i = j
      }
      else if (c == '$') {
        // $var is the alternate variable sigil (grammar [166] VAR2) —
        // normalized to the ?var token form
        val start = i; i += 1
        while (i < q.length && (q(i).isLetterOrDigit || q(i) == '_')) i += 1
        require(i > start + 1, s"bare '$$' at $start")
        out += "?" + q.substring(start + 1, i)
      }
      else if (c == '?') {
        val start = i; i += 1
        while (i < q.length && (q(i).isLetterOrDigit || q(i) == '_')) i += 1
        // bare '?' (no name) is the zero-or-one path modifier
        out += (if (i == start + 1) "?" else q.substring(start, i))
      } else if (c == '%') {
        // named-solution-set name `%set` (Blazegraph WITH … AS %set)
        val start = i; i += 1
        while (i < q.length && (q(i).isLetterOrDigit || q(i) == '_')) i += 1
        out += q.substring(start, i)
      } else if (c == '<' && i + 1 < q.length && q(i + 1) == '<') {
        // RDF* embedded-triple opener
        out += "<<"; i += 2
      } else if (c == '<') {
        // '<' opens an IRI iff a '>' closes it before any whitespace
        var j = i + 1
        while (j < q.length && !q(j).isWhitespace && q(j) != '>') j += 1
        if (j < q.length && q(j) == '>') { out += q.substring(i, j + 1); i = j + 1 }
        else {
          val two = q.substring(i, math.min(i + 2, q.length))
          if (two == "<=") { out += two; i += 2 } else { out += "<"; i += 1 }
        }
      } else if (c == '>' && i + 1 < q.length && q(i + 1) == '>') {
        // RDF* embedded-triple closer
        out += ">>"; i += 2
      } else if (c == '|' && i + 1 < q.length && q(i + 1) == '|') { out += "||"; i += 2 }
      else if ("{}().,;/|^+*[]".contains(c)) { out += c.toString; i += 1 }
      else if (">=!&|".contains(c)) {
        val two = q.substring(i, math.min(i + 2, q.length))
        if (Set(">=", "!=", "&&", "||").contains(two)) { out += two; i += 2 }
        else { out += c.toString; i += 1 }
      } else if (symbolChars(c)) {
        val start = i
        while (i < q.length && symbolChars(q(i))) i += 1
        val tok = q.substring(start, i)
        // a trailing '.' is the statement terminator unless the token is
        // a decimal number
        if (tok.length > 1 && tok.endsWith(".") && !tok.matches("""[-+]?\d*\.\d+""")) {
          out += tok.dropRight(1); out += "."
        } else out += tok
      } else sys.error(s"unexpected character '$c' at $i")
    }
    out.result()
  }

  private class Parser(tokens: Vector[String]) {
    private var pos = 0
    // the W3C core prefixes are PRE-BOUND (a PREFIX declaration always
    // wins) — matching the loaders' seeding, so a query spelling
    // rdf:type without the boilerplate declaration still denotes the
    // canonical term
    private var prefixes = Map(
      "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
      "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
      "owl" -> "http://www.w3.org/2002/07/owl#",
      "xsd" -> "http://www.w3.org/2001/XMLSchema#")
    private var synth = 0
    private def peek: String = if (pos < tokens.length) tokens(pos) else "<eof>"
    private def peekAt(k: Int): String = if (pos + k < tokens.length) tokens(pos + k) else "<eof>"
    private def next(): String = {
      // consuming past the end is ALWAYS a syntax error (an unclosed
      // group would otherwise spin on the <eof> sentinel)
      require(pos < tokens.length, "unexpected end of input")
      val t = peek; pos += 1; t
    }
    private def expect(t: String): Unit = {
      val got = next()
      require(got.equalsIgnoreCase(t), s"expected '$t', got '$got'")
    }
    private def peekIs(t: String): Boolean = peek.equalsIgnoreCase(t)
    private def fresh(tag: String): String = { synth += 1; s"_${tag}$synth" }

    def parseQuery(): Algebra = {
      while (peekIs("PREFIX") || peekIs("BASE")) {
        if (peekIs("BASE")) { next(); next() } // accept and ignore explicit BASE
        else {
          next()
          val name = next() // "pfx:" or ":"
          require(name.endsWith(":"), s"bad prefix name '$name'")
          val iri = next()
          require(iri.startsWith("<") && iri.endsWith(">"), s"bad prefix IRI '$iri'")
          prefixes += (name.dropRight(1) -> iri.drop(1).dropRight(1))
        }
      }
      val a =
        if (peekIs("ASK")) parseAsk()
        else if (peekIs("CONSTRUCT")) parseConstruct()
        else if (peekIs("DESCRIBE")) parseDescribe()
        else parseSelect()
      // a trailing clause the grammar didn't consume is a syntax
      // error, not ignorable text (silently dropping a solution
      // modifier would change results)
      require(pos >= tokens.length,
        s"unconsumed input after query: '${tokens.drop(pos).take(5).mkString(" ")}'")
      a
    }

    def parseUpdateSeq(): Seq[UpdateOp] = {
      val out = Vector.newBuilder[UpdateOp]
      out += parseUpdateTop()
      while (peekIs(";")) {
        next()
        if (peek != "<eof>") out += parseUpdateTop() // trailing ';' ok
      }
      require(peek == "<eof>", s"trailing tokens after update sequence: '$peek'")
      out.result()
    }

    /** GRAPH <g> | DEFAULT | <g> — None = the default graph. */
    private def graphOrDefault(): Option[String] =
      if (peekIs("DEFAULT")) { next(); None }
      else { if (peekIs("GRAPH")) next(); Some(constValue(next())) }

    private def silentFlag(): Boolean =
      if (peekIs("SILENT")) { next(); true } else false

    def parseUpdateTop(): UpdateOp = {
      while (peekIs("PREFIX") || peekIs("BASE")) {
        if (peekIs("BASE")) { next(); next() }
        else {
          next()
          val name = next(); val iri = next()
          prefixes += (name.dropRight(1) -> iri.drop(1).dropRight(1))
        }
      }
      if (peekIs("LOAD")) {
        next()
        val silent = silentFlag()
        val src = constValue(next())
        val g = if (peekIs("INTO")) { next(); expect("GRAPH"); Some(constValue(next())) }
                else None
        Load(src, g, silent)
      } else if (peekIs("CREATE")) {
        next()
        val silent = silentFlag()
        if (peekIs("SOLUTIONS")) {
          // bigdata extension: CREATE [SILENT] SOLUTIONS %name
          // (sparql.jj SolutionsRef; ast/CreateGraph with a solutions
          // target, AST2BOpUpdate convertCreateGraph)
          next()
          val nm = next()
          require(nm.startsWith("%"), s"CREATE SOLUTIONS expects %name, got '$nm'")
          CreateSolutions(nm.drop(1), silent)
        } else {
          expect("GRAPH")
          CreateGraph(constValue(next()), silent)
        }
      } else if (peekIs("CLEAR") || peekIs("DROP")) {
        val kw = next()
        val silent = silentFlag()
        val isDrop = kw.equalsIgnoreCase("DROP")
        if (peekIs("ALL")) { next(); ClearAll }
        else if (peekIs("SOLUTIONS")) {
          // bigdata extension: DROP/CLEAR [SILENT] SOLUTIONS [%name]
          next()
          val nm = if (peek.startsWith("%")) Some(next().drop(1)) else None
          if (isDrop) DropSolutions(nm, silent) else ClearSolutions(nm, silent)
        } else if (peekIs("GRAPHS")) {
          // bigdata extension: all NAMED graphs (GraphRefAll GRAPHS)
          next()
          DropGraphs(silent)
        } else {
          val g = graphOrDefault()
          if (isDrop) DropGraph(g, silent)
          else ClearGraph(g, silent)
        }
      } else if (peekIs("COPY") || peekIs("MOVE") || peekIs("ADD")) {
        val kw = next()
        val silent = silentFlag()
        val from = graphOrDefault()
        expect("TO")
        val to = graphOrDefault()
        kw.toUpperCase match {
          case "COPY" => CopyGraph(from, to, silent)
          case "MOVE" => MoveGraph(from, to, silent)
          case _      => AddGraph(from, to, silent)
        }
      } else if (peekIs("WITH")) {
        next()
        val g = constValue(next())
        val inner = parseUpdateTop()
        inner match {
          case op: DeleteInsertWhere => WithGraph(g, op)
          case other => sys.error(s"WITH <g> requires DELETE/INSERT WHERE, got $other")
        }
      } else if (peekIs("INSERT")) {
        next()
        if (peekIs("DATA")) { next(); InsertData(parseDataBlock()) }
        else if (peekIs("INTO")) {
          // bigdata extension: INSERT INTO %set SELECT … (grammar
          // InsertClause `<INSERT> <INTO> t=<VAR3> Select()`) — the
          // SELECT's solutions append to the named solution set
          next()
          val nm = next()
          require(nm.startsWith("%"), s"INSERT INTO expects %name, got '$nm'")
          InsertIntoSolutions(nm.drop(1), parseSelect())
        }
        else { // INSERT { t | GRAPH g { t } } [USING …] WHERE { p }
          val ins = parseTemplateBlock()
          val (ud, un) = parseUsing()
          expect("WHERE")
          mkTemplateOp(Nil, ins, ud, un, parseGroup())
        }
      } else {
        expect("DELETE")
        if (peekIs("DATA")) { next(); DeleteData(parseDataBlock()) }
        else if (peekIs("FROM")) {
          // bigdata extension: DELETE FROM %set SELECT … (grammar
          // DeleteClause `<DELETE> <FROM> t=<VAR3> Select()`)
          next()
          val nm = next()
          require(nm.startsWith("%"), s"DELETE FROM expects %name, got '$nm'")
          DeleteFromSolutions(nm.drop(1), parseSelect())
        }
        else if (peekIs("WHERE")) { // DELETE WHERE { p }: pattern is template
          next()
          if (peekAt(1).equalsIgnoreCase("GRAPH")) {
            // DELETE WHERE { GRAPH <g> { P } } — the graph-scoped
            // shorthand (§3.1.3): pattern is template, both scoped to g
            expect("{"); expect("GRAPH")
            val g = constValue(next())
            val saved = pos
            val tmpl = parseTriplesBlock()
            pos = saved
            val grp = parseGroup()
            expect("}")
            WithGraph(g, DeleteInsertWhere(tmpl, Nil, grp))
          } else {
            val saved = pos
            val tmpl = parseTriplesBlock()
            pos = saved
            DeleteInsertWhere(tmpl, Nil, parseGroup())
          }
        } else {
          val del = parseTemplateBlock()
          val ins = if (peekIs("INSERT")) { next(); parseTemplateBlock() } else Nil
          val (ud, un) = parseUsing()
          expect("WHERE")
          mkTemplateOp(del, ins, ud, un, parseGroup())
        }
      }
    }

    /** Plain templates stay [[DeleteInsertWhere]] (the common case and
      * every pre-r10 behavior); a GRAPH block in either template
      * yields [[QuadsTemplateWhere]]. USING composes with BOTH (grammar
      * [41] Modify; reference AST2BOpUpdate accepts the combination):
      * the WHERE reads the USING dataset, templates address their own
      * graphs. */
    private def mkTemplateOp(del: Seq[(Option[Term], TriplePattern)],
                             ins: Seq[(Option[Term], TriplePattern)],
                             ud: Seq[String], un: Seq[String],
                             where: Algebra): UpdateOp =
      if (del.forall(_._1.isEmpty) && ins.forall(_._1.isEmpty))
        wrapUsing(ud, un, DeleteInsertWhere(del.map(_._2), ins.map(_._2), where))
      else wrapUsing(ud, un, QuadsTemplateWhere(del, ins, where))

    /** USING <g> / USING NAMED <g> clauses (update-side dataset,
      * SPARQL 1.1 Update §3.1.3). */
    private def parseUsing(): (Seq[String], Seq[String]) = {
      val d = Vector.newBuilder[String]; val n = Vector.newBuilder[String]
      while (peekIs("USING")) {
        next()
        if (peekIs("NAMED")) { next(); n += constValue(next()) }
        else d += constValue(next())
      }
      (d.result(), n.result())
    }

    private def wrapUsing(d: Seq[String], n: Seq[String],
                          op: TemplateWhereOp): UpdateOp =
      if (d.isEmpty && n.isEmpty) op else UsingClause(d, n, op)

    /** One subject's triples with `;` predicate-object lists and `,`
      * object lists (grammar [75] TriplesSameSubject), fed to `sink`. */
    private def sameSubjectTriples(sink: TriplePattern => Unit): Unit = {
      val s = dataTerm()
      def predObjs(): Unit = {
        val p = predTerm()
        var objs = true
        while (objs) {
          sink(TriplePattern(s, p, dataTerm()))
          if (peekIs(",")) next() else objs = false
        }
      }
      predObjs()
      while (peekIs(";")) {
        next()
        if (!peekIs(".") && !peekIs("}") && !peekIs(";")) predObjs()
      }
      if (peekIs(".")) next()
    }

    /** { t . GRAPH g { t . t } . t … } — ground data with optional
      * named-graph blocks. */
    private def parseDataBlock(): Seq[(Option[String], TriplePattern)] = {
      expect("{")
      val out = Vector.newBuilder[(Option[String], TriplePattern)]
      while (!peekIs("}")) {
        if (peekIs(".")) next()
        else if (peekIs("GRAPH")) {
          next()
          val g = constValue(next())
          expect("{")
          while (!peekIs("}")) {
            if (peekIs(".")) next()
            else sameSubjectTriples(tp => out += (Some(g) -> tp))
          }
          expect("}")
        } else sameSubjectTriples(tp => out += (None -> tp))
      }
      expect("}")
      out.result()
    }

    /** { t . GRAPH g { t … } . t … } — an update TEMPLATE (grammar [49]
      * QuadPattern): triples with variables allowed, each optionally
      * scoped to a graph term (IRI or ?var). */
    private def parseTemplateBlock(): Seq[(Option[Term], TriplePattern)] = {
      expect("{")
      val out = Vector.newBuilder[(Option[Term], TriplePattern)]
      while (!peekIs("}")) {
        if (peekIs(".")) next()
        else if (peekIs("GRAPH")) {
          next()
          val g = dataTerm()
          expect("{")
          while (!peekIs("}")) {
            if (peekIs(".")) next()
            else sameSubjectTriples(tp => out += (Some(g) -> tp))
          }
          expect("}")
        } else sameSubjectTriples(tp => out += (None -> tp))
      }
      expect("}")
      out.result()
    }

    /** { t1 . t2 . … } of plain triples. */
    private def parseTriplesBlock(): Seq[TriplePattern] = {
      expect("{")
      val out = Vector.newBuilder[TriplePattern]
      while (!peekIs("}")) {
        if (peekIs(".")) next()
        else sameSubjectTriples(out += _)
      }
      expect("}")
      out.result()
    }

    private def parseAsk(): Algebra = {
      expect("ASK")
      if (peekIs("WHERE")) next()
      // grammar [12]: AskQuery carries a full SolutionModifier —
      // GROUP BY/ORDER BY/LIMIT apply to the solution sequence whose
      // (non-)emptiness ASK reports
      Ask(constructModifiers(parseGroup()))
    }

    private def parseConstruct(): Algebra = {
      expect("CONSTRUCT")
      // CONSTRUCT WHERE { pattern } shorthand: pattern is the template
      if (peekIs("WHERE")) {
        next()
        val saved = pos
        val tmpl = parseTriplesBlock()
        pos = saved
        return Construct(tmpl, constructModifiers(parseGroup()))
      }
      val template = parseTriplesBlock()
      expect("WHERE")
      Construct(template, constructModifiers(parseGroup()))
    }

    /** CONSTRUCT solution modifiers (§16.2: modifiers apply to the
      * solution sequence BEFORE templating): ORDER BY + LIMIT/OFFSET
      * wrap the WHERE child. */
    private def constructModifiers(child0: Algebra): Algebra = {
      var child = child0
      // grammar [10]: ConstructQuery carries a full SolutionModifier —
      // GROUP BY groups the solution sequence before templating, and
      // aggregates in ORDER conditions become hidden aggregate columns
      val orderAggs = Vector.newBuilder[(String, Column)]
      var groupKeys = Vector.empty[String]
      if (peekIs("GROUP")) {
        next(); expect("BY")
        while (peek.startsWith("?")) groupKeys :+= next().drop(1)
      }
      if (groupKeys.nonEmpty) {
        val sink: Option[Column => Column] = Some(a => {
          val n = fresh("ok")
          orderAggs += (n -> a)
          col(n)
        })
        var orderKeys = Vector.empty[Column]
        if (peekIs("ORDER")) {
          next(); expect("BY")
          while (peekIs("ASC") || peekIs("DESC") || peek.startsWith("?") || peek == "(" ||
                 (valueFns.contains(peek.toUpperCase) && peekAt(1) == "(") ||
                 (aggNames.contains(peek.toUpperCase) && peekAt(1) == "(")) {
            if (peekIs("ASC")) { next(); orderKeys :+= parseBracketedExpr(sink).asc }
            else if (peekIs("DESC")) { next(); orderKeys :+= parseBracketedExpr(sink).desc }
            else if (!peek.startsWith("?")) orderKeys :+= parseExpr(sink).asc
            else orderKeys :+= col(next().drop(1)).asc
          }
        }
        var g: Algebra = Group(child, groupKeys, orderAggs.result())
        if (orderKeys.nonEmpty) g = OrderBy(g, orderKeys)
        var offset = 0L; var limit = -1L
        while (peekIs("LIMIT") || peekIs("OFFSET")) {
          if (peekIs("LIMIT")) { next(); limit = next().toLong }
          else { next(); offset = next().toLong }
        }
        if (limit >= 0 || offset > 0)
          g = Slice(g, offset, if (limit >= 0) limit else Long.MaxValue)
        return g
      }
      if (peekIs("ORDER")) {
        next(); expect("BY")
        val keys = Vector.newBuilder[Column]
        while (peekIs("ASC") || peekIs("DESC") || peek.startsWith("?") ||
               (valueFns.contains(peek.toUpperCase) && peekAt(1) == "(")) {
          if (peekIs("ASC")) { next(); keys += parseBracketedExpr().asc }
          else if (peekIs("DESC")) { next(); keys += parseBracketedExpr().desc }
          // bare expression order condition (grammar [24] OrderCondition
          // admits a constraint/function call without ASC/DESC)
          else if (!peek.startsWith("?")) keys += parseExpr().asc
          else keys += col(next().drop(1)).asc
        }
        child = OrderBy(child, keys.result())
      }
      var offset = 0L; var limit = -1L
      while (peekIs("LIMIT") || peekIs("OFFSET")) {
        if (peekIs("LIMIT")) { next(); limit = next().toLong }
        else { next(); offset = next().toLong }
      }
      if (limit >= 0 || offset > 0)
        child = Slice(child, offset, if (limit >= 0) limit else Long.MaxValue)
      child
    }

    private def parseDescribe(): Algebra = {
      expect("DESCRIBE")
      term(next()) match {
        case Const(v) =>
          // DESCRIBE <t1> <t2> … — the merged (set-union) description
          // of every term (grammar [11]: VarOrIri+)
          var alg: Algebra = Describe(v)
          var multi = false
          while (peek != "<eof>" && !peekIs("WHERE")) {
            alg = Union(alg, Describe(constValue(next())))
            multi = true
          }
          if (multi) Distinct(alg) else alg
        case Var(v) =>
          expect("WHERE")
          DescribeWhere(v, parseGroup())
      }
    }

    /** One SELECT projection item. */
    private sealed trait SelItem
    private case class SelVar(name: String) extends SelItem
    private case class SelAgg(alias: String, agg: Column) extends SelItem
    private case class SelExpr(alias: String, expr: Column) extends SelItem

    private val aggNames = Set("COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE")

    /** AGG( [DISTINCT] ?x | * [; separator="…"] ) → Column.
      * Numeric aggregates treat operands as xsd:decimal money strings
      * (decimal(18,2) both engines — SURVEY §4 float policy). */
    private def parseAggregate(): Column = {
      val fn = next().toUpperCase
      expect("(")
      val distinct = if (peekIs("DISTINCT")) { next(); true } else false
      // the argument is a full value expression (SUM(?a * ?b) etc.).
      // COUNT(*) counts rows (a constant under count); COUNT(DISTINCT *)
      // counts DISTINCT solutions — the whole row as one struct key
      val c =
        if (peek == "*") { next(); if (distinct) struct(col("*")) else lit(1) }
        else parseExpr()
      var sep = " "
      if (peekIs(";")) { next() } // tolerated; separator handled below
      if (peek.toUpperCase.startsWith("SEPARATOR")) {
        next(); expect("=")
        sep = next().stripPrefix("\"").stripSuffix("\"")
      }
      expect(")")
      fn match {
        case "COUNT" => if (distinct) countDistinct(c) else count(c)
        case "SUM"   =>
          // a non-numeric operand ANYWHERE in the group is a type
          // error, and an aggregate over an error is an error ->
          // UNBOUND (sparql11-sum-04: one bnode poisons its group);
          // numeric terms sum by VALUE (typed forms unwrap)
          val n = RdfLiteral.numOf(c)
          val errs = sum(when(n.isNull, 1).otherwise(0))
          val d = n.cast("decimal(18,2)")
          val s0 = (if (distinct) sum_distinct(d) else sum(d)).cast("double")
          when(errs === 0, s0).otherwise(lit(null).cast("double"))
        case "AVG"   => avg(c.cast("decimal(18,2)")).cast("double")
        case "MIN"   => min(c)
        case "MAX"   => max(c)
        case "GROUP_CONCAT" =>
          // deterministic rendering: sorted concat (GROUP_CONCAT is
          // unordered in the spec; a fixed order keeps oracles exact)
          val base = if (distinct) collect_set(c) else collect_list(c)
          array_join(array_sort(base), sep)
        case "SAMPLE" => min(c) // deterministic choice
        case other    => sys.error(s"unsupported aggregate $other")
      }
    }

    private def parseSelect(): Algebra = {
      expect("SELECT")
      // REDUCED permits ANY duplicate reduction between none and full
      // (§15.3.1) — evaluating it as DISTINCT is a conforming choice
      // and keeps results deterministic for the oracle
      val distinct =
        if (peekIs("DISTINCT") || peekIs("REDUCED")) { next(); true } else false
      val items = Vector.newBuilder[SelItem]
      var star = false
      // the projection ends at WHERE/FROM/WITH or at the group itself —
      // the WHERE keyword is optional (grammar [17] WhereClause)
      while (!peekIs("WHERE") && !peekIs("FROM") && !peekIs("WITH") && !peekIs("{")) {
        if (peekIs("(")) {
          next()
          val e =
            if (aggNames.contains(peek.toUpperCase)) Left(parseAggregate())
            else Right(parseExpr())
          expect("AS")
          val alias = next().drop(1)
          expect(")")
          items += (e match {
            case Left(a)  => SelAgg(alias, a)
            case Right(x) => SelExpr(alias, x)
          })
        } else {
          val t = next()
          if (t == "*") star = true
          else {
            require(t.startsWith("?"), s"bad projection '$t'")
            require(!t.startsWith("?_"),
              s"variable names starting with '_' are reserved ('$t')")
            items += SelVar(t.drop(1))
          }
        }
      }
      // dataset clauses: FROM <g> / FROM NAMED <g>
      val fromDefaults = Vector.newBuilder[String]
      val fromNamed = Vector.newBuilder[String]
      val fromVirtual = Vector.newBuilder[String]
      val fromVirtualNamed = Vector.newBuilder[String]
      while (peekIs("FROM")) {
        next()
        val named = if (peekIs("NAMED")) { next(); true } else false
        if (peekIs("VIRTUAL")) {
          // FROM [NAMED] VIRTUAL GRAPH <vg> — reference dataset
          // extension (membership via bd:virtualGraph statements)
          next(); expect("GRAPH")
          val vg = constValue(next())
          if (named) fromVirtualNamed += vg else fromVirtual += vg
        }
        else if (named) fromNamed += constValue(next())
        else fromDefaults += constValue(next())
      }
      // Blazegraph named subqueries: WITH { SELECT … } AS %set, each
      // evaluated once and INCLUDE-able from any group below
      // (ast/NamedSubqueryRoot.java)
      val namedSubs = Vector.newBuilder[(String, Algebra)]
      while (peekIs("WITH")) {
        next(); expect("{")
        val sub = parseSelect()
        expect("}"); expect("AS")
        val nm = next()
        require(nm.startsWith("%"), s"named subquery name must be %name, got '$nm'")
        namedSubs += (nm.drop(1) -> sub)
      }
      if (peekIs("WHERE")) next()
      var alg = parseGroup()
      val its = items.result()

      // ---- collect every tail clause BEFORE applying anything: the
      // trailing VALUES clause is textually LAST but semantically
      // joins the WHERE pattern before select expressions and
      // solution modifiers (§18.2.4.3) ----
      var groupKeys = Vector.empty[String]
      var groupExprs = Vector.empty[(String, Column)]
      var having: Option[Column] = None
      val extraAggs = Vector.newBuilder[(String, Column)]
      if (peekIs("GROUP")) {
        next(); expect("BY")
        // grammar [20] GroupCondition: Var | '(' Expression ('AS' Var)? ')'
        // | BuiltInCall — expression conditions pre-extend the child
        while (peek.startsWith("?") || peek == "(" ||
               (valueFns.contains(peek.toUpperCase) && peekAt(1) == "(")) {
          if (peek == "(") {
            next()
            val e = parseExpr()
            val alias =
              if (peekIs("AS")) { next(); next().drop(1) } else fresh("gk")
            expect(")")
            groupExprs :+= (alias -> e)
            groupKeys :+= alias
          } else if (!peek.startsWith("?")) {
            val alias = fresh("gk")
            groupExprs :+= (alias -> parseExpr())
            groupKeys :+= alias
          } else groupKeys :+= next().drop(1)
        }
      }
      if (peekIs("HAVING")) {
        next()
        expect("(")
        having = Some(parseExpr(aggSink = Some(a => {
          val n = fresh("h")
          extraAggs += (n -> a)
          col(n)
        })))
        expect(")")
      }
      var orderKeys: Option[Seq[Column]] = None
      if (peekIs("ORDER")) {
        next(); expect("BY")
        // an aggregate in an order condition (ORDER BY DESC(COUNT(?x)))
        // computes as an extra (hidden) aggregate column, like HAVING
        val sink: Option[Column => Column] = Some(a => {
          val n = fresh("ok")
          extraAggs += (n -> a)
          col(n)
        })
        val keys = Vector.newBuilder[Column]
        while (peekIs("ASC") || peekIs("DESC") || peek.startsWith("?") || peek == "(" ||
               (valueFns.contains(peek.toUpperCase) && peekAt(1) == "(") ||
               (aggNames.contains(peek.toUpperCase) && peekAt(1) == "(")) {
          // ASC/DESC take a full bracketed expression, not just a var;
          // a bare function call or bracketed expression is also a
          // legal OrderCondition ([24])
          if (peekIs("ASC")) { next(); keys += parseBracketedExpr(sink).asc }
          else if (peekIs("DESC")) { next(); keys += parseBracketedExpr(sink).desc }
          else if (!peek.startsWith("?")) keys += parseExpr(sink).asc
          else keys += col(next().drop(1)).asc
        }
        orderKeys = Some(keys.result())
      }
      var offset = 0L; var limit = -1L
      while (peekIs("LIMIT") || peekIs("OFFSET")) {
        if (peekIs("LIMIT")) { next(); limit = next().toLong }
        else { next(); offset = next().toLong }
      }
      // trailing VALUES clause (grammar [28] ValuesClause)
      val trailingValues =
        if (peekIs("VALUES")) Some((parseValues(), false))
        // BINDINGS: the SPARQL 1.1 DRAFT clause, still accepted by the
        // reference's grammar — with the draft's INITIAL-bindings
        // semantics (seed = true)
        else if (peekIs("BINDINGS")) Some((parseBindings(), true))
        else None

      // ---- assemble in algebra order ----
      trailingValues.foreach {
        case (v, seed) if seed =>
          // draft BINDINGS = INITIAL bindings (the 2009 semantics the
          // reference keeps): the rows pre-bind evaluation, so an
          // OPTIONAL evaluates UNDER each binding instead of being
          // joined afterwards — push the seed down the left spine
          def push(a: Algebra): Algebra = a match {
            case LeftJoin(lft, r) => LeftJoin(push(lft), r)
            case _                => Join(v, a)
          }
          alg = push(alg)
        case (v, _) => alg = Join(alg, v)
      }
      // named subqueries enclose the pattern but sit INSIDE the
      // dataset wrapper, so INCLUDEd sets see FROM / FROM NAMED
      alg = namedSubs.result().foldRight(alg) { case ((n, sub), a) => NamedSubquery(n, sub, a) }
      val (fd, fn) = (fromDefaults.result(), fromNamed.result())
      if (fd.nonEmpty || fn.nonEmpty) alg = DatasetClause(fd, fn, alg)
      val (vd, vn) = (fromVirtual.result(), fromVirtualNamed.result())
      if (vd.nonEmpty || vn.nonEmpty) alg = VirtualGraphClause(vd, vn, alg)

      val aggItems = its.collect { case a: SelAgg => a }
      if (aggItems.nonEmpty || groupKeys.nonEmpty) {
        groupExprs.foreach { case (n, e) => alg = Extend(alg, n, e) }
        val aggs = aggItems.map(a => a.alias -> a.agg) ++ extraAggs.result()
        alg = Group(alg, groupKeys, aggs)
        having.foreach(h => alg = Filter(alg, h))
        // a select EXPRESSION in an aggregate query computes over the
        // GROUPED solution (its refs are group keys / aggregate
        // aliases — §18.2.4.1 extends after grouping)
        its.collect { case e: SelExpr => e }.foreach(e => alg = Extend(alg, e.alias, e.expr))
        // ORDER BY may reference HIDDEN aggregate keys (ORDER BY
        // DESC(COUNT(?x))) — sort BEFORE the projection drops them
        orderKeys.foreach(ks => alg = OrderBy(alg, ks))
        val visible = its.collect {
          case SelVar(n)     => n
          case SelAgg(n, _)  => n
          case SelExpr(n, _) => n
        }
        if (visible.nonEmpty) alg = Project(alg, visible: _*)
      } else {
        its.collect { case e: SelExpr => e }.foreach(e => alg = Extend(alg, e.alias, e.expr))
        val vs = its.collect { case SelVar(n) => n; case SelExpr(n, _) => n }
        if (star) alg = StarProject(alg) // drops synthesized (`_`-prefixed) vars
        else if (vs.nonEmpty) alg = Project(alg, vs: _*)
      }
      if (distinct) alg = Distinct(alg)
      if (aggItems.isEmpty && groupKeys.isEmpty)
        orderKeys.foreach(ks => alg = OrderBy(alg, ks))
      if (limit >= 0 || offset > 0) alg = Slice(alg, offset, if (limit >= 0) limit else Long.MaxValue)
      alg
    }

    /** GroupGraphPattern: { ... } */
    /** The classic (no-SERVICE) magic-predicate search lift — the
      * ASTSearchOptimizer analog: each search variable's bds:*
      * patterns become one [[SearchService]] whose subject variable
      * binds the matched literal, joined into the group like any
      * operand. `?lit bds:search "q" . ?lit bds:relevance ?sc .
      * ?s ?p ?lit` is the reference's primary documented search
      * syntax; without the lift those patterns would silently match
      * nothing. Unknown bds: predicates error like the reference
      * ("Unknown search predicate"); bds:searchTimeout is consumed
      * (the server job-group seam owns cancellation);
      * bds:subjectSearch (the subject-centric index) is rejected
      * loud. A '*' in the query string switches prefix match, the
      * reference behavior. No bds:limit exists in the classic form —
      * the hit set is bounded by bds:maxRank or not at all, so the
      * lift passes limit = MaxValue (= no top-k cut, no global sort). */
    private def liftSearchGroups(magic: Seq[TriplePattern]): Seq[Algebra] = {
      if (magic.isEmpty) return Nil
      val known = Set("bds:search", "bds:relevance", "bds:rank",
        "bds:maxRank", "bds:minRank", "bds:maxRelevance", "bds:minRelevance",
        "bds:matchAllTerms", "bds:matchExact", "bds:searchTimeout",
        "bds:matchRegex", "bds:rangeCount", "bds:analyzer")
      magic.foreach {
        case TriplePattern(_, Const("bds:subjectSearch"), _) => sys.error(
          "bds:subjectSearch (the subject-centric text index) is not supported")
        case TriplePattern(_, Const(p), _) if known(p) => ()
        case TriplePattern(_, p, _) => sys.error(s"Unknown search predicate: $p")
      }
      magic.groupBy(_.s).toSeq.sortBy(_._1.toString).map { case (subj, ps) =>
        val v = subj match {
          case Var(n) => n
          case other  => sys.error(s"search subject must be a variable, got $other")
        }
        // the reference's validateSearch rejects a repeated search
        // predicate on one search variable — first-wins would be a
        // silent surprise
        ps.groupBy(_.p).foreach { case (p, dup) =>
          if (dup.size > 1) sys.error(
            s"Search predicate appears multiple times for search variable ?$v: $p")
        }
        // object-KIND validation, the reference's validateSearch
        // contract (SearchServiceFactory: "Object is not literal" for
        // a value option given a variable, "Object must be variable"
        // for an output predicate given a constant) — without it
        // '?lit bds:minRelevance ?x' silently ignores the option
        val valueOpts = Set("bds:search", "bds:minRelevance",
          "bds:maxRelevance", "bds:minRank", "bds:maxRank",
          "bds:matchAllTerms", "bds:matchExact", "bds:matchRegex",
          "bds:analyzer", "bds:searchTimeout")
        val outputOpts = Set("bds:relevance", "bds:rank", "bds:rangeCount")
        ps.foreach {
          case TriplePattern(_, Const(p), o) if valueOpts(p) => o match {
            case Const(_) => ()
            case other => sys.error(
              s"$p object is not a literal (got $other) for search variable ?$v")
          }
          case TriplePattern(_, Const(p), o) if outputOpts(p) => o match {
            case Var(_) => ()
            case other => sys.error(
              s"$p object must be a variable (got $other) for search variable ?$v")
          }
          case _ => () // predicate set already validated above
        }
        def cOpt(name: String): Option[String] = ps.collectFirst {
          case TriplePattern(_, Const(p), Const(o)) if p == name =>
            // numeric/boolean options may arrive as TYPED literal term
            // forms ("0"^^xsd:double) — unwrap to the lexical form
            if (o.startsWith("\"")) o.substring(1, o.lastIndexOf('"')) else o
        }
        def vOpt(name: String): Option[String] = ps.collectFirst {
          case TriplePattern(_, Const(p), Var(o)) if p == name => o
        }
        val query = cOpt("bds:search").getOrElse(sys.error(
          s"magic search group for ?$v needs '?$v bds:search \"query\"'"))
        val prefix = query.contains("*")
        SearchService(Seq(if (prefix) query.replace("*", "") else query),
          limit = Int.MaxValue,
          prefixMatch = prefix,
          matchAll = cOpt("bds:matchAllTerms").exists(_.toBoolean),
          outDoc = v,
          // '_'-prefixed = parser-synthesized, excluded from SELECT *
          outScore = vOpt("bds:relevance").getOrElse("_sc_" + v),
          regex = cOpt("bds:matchRegex"),
          minScore = cOpt("bds:minRelevance").map(_.toDouble),
          maxRank = cOpt("bds:maxRank").map(_.toInt),
          analyzer = cOpt("bds:analyzer"),
          maxScore = cOpt("bds:maxRelevance").map(_.toDouble),
          minRank = cOpt("bds:minRank").map(_.toInt),
          matchExact = cOpt("bds:matchExact").exists(_.toBoolean),
          outRank = vOpt("bds:rank"),
          rangeCountVar = vOpt("bds:rangeCount"))
      }
    }

    def parseGroup(liftMagic: Boolean = true): Algebra = {
      expect("{")
      // grammar [53]: GroupGraphPattern ::= '{' (SubSelect |
      // GroupGraphPatternSub) '}' — a direct sub-SELECT needs no
      // second brace pair
      if (peekIs("SELECT")) {
        val sub = parseSelect()
        expect("}")
        return sub
      }
      var alg: Algebra = null
      def add(a: Algebra): Unit = alg = if (alg == null) a else Join(alg, a)
      val patterns = scala.collection.mutable.ArrayBuffer[TriplePattern]()
      // hint:Query hint:optimizer "None" pins BGP join order to the
      // textual pattern order (QueryHintRegistry / QueryOptimizerEnum)
      var fixedOrder = false
      // hint:Prior hint:runFirst/runLast "true" pins ONE pattern's
      // position (index → 1 = lead, 2 = trail) within its group
      val pins = scala.collection.mutable.Map[Int, Int]()
      def flush(): Unit = {
        val ps0 = patterns.toVector
        val tags = ps0.indices.map(i => pins.getOrElse(i, 0))
        if (ps0.nonEmpty) {
          // the classic magic-predicate search syntax: bds:* patterns
          // INSIDE an ordinary group (no SERVICE) lift into a
          // SearchService per search variable — the reference's
          // ASTSearchOptimizer (ast/eval/ASTSearchOptimizer.java:69
          // URI set). Disabled inside SERVICE groups (liftMagic=false):
          // there the named handler owns its magic predicates.
          def pred(p: TriplePattern, pfx: String): Boolean = p.p match {
            case Const(c) => c.startsWith(pfx)
            case _        => false
          }
          val tagged0 = ps0.zip(tags)
          val (magicT, rest0) =
            if (liftMagic) tagged0.partition(t => pred(t._1, "bds:"))
            else (Vector.empty[(TriplePattern, Int)], tagged0)
          // the EXTERNAL-fulltext magic form (fts:*) lifts the same
          // way — the reference's ASTFulltextSearchOptimizer (in the
          // default optimizer list, DefaultOptimizerList.java:308):
          // each search variable's fts:* patterns become one
          // SERVICE fts:search group, validated by the handler
          val (ftsT, psT) =
            if (liftMagic) rest0.partition(t => pred(t._1, "fts:"))
            else (Vector.empty[(TriplePattern, Int)], rest0)
          val ps = psT.map(_._1)
          liftSearchGroups(magicT.map(_._1)).foreach(add)
          ftsT.map(_._1).groupBy(_.s).toSeq.sortBy(_._1.toString).foreach {
            case (_, group) => add(ServiceCall("fts:search", Bgp(group: _*),
              silent = false, srcText = None))
          }
          if (ps.nonEmpty) add(
            if (fixedOrder) BgpFixed(ps)
            else if (psT.exists(_._2 != 0)) BgpPinned(
              psT.collect { case (p, 1) => p },
              psT.collect { case (p, 0) => p },
              psT.collect { case (p, 2) => p })
            else Bgp(ps: _*))
          patterns.clear(); pins.clear()
        }
      }
      while (!peekIs("}")) {
        if (peek.startsWith("hint:")) {
          // query-hint triple (reference magic predicates, scope subject
          // hint:Query|hint:Group|hint:Prior): consumed, never matched
          // against data. Only the optimizer hint changes compilation —
          // Catalyst/AQE own the hints Blazegraph spells out by hand
          // (analytic mode, chunkSize, hash-join variants).
          next() // scope
          val hname = next().stripPrefix("hint:")
          val hval = constValue(next())
          if (peekIs(".")) next()
          if (hname.equalsIgnoreCase("optimizer") && hval.equalsIgnoreCase("None"))
            fixedOrder = true
          // hint:runFirst/runLast pin the textually PRIOR pattern to
          // the head/tail of its group's join order (the reference's
          // hint:Prior scope; QueryHintRegistry RunFirst/RunLast);
          // with no prior pattern in the group they consume silently
          // like every other accepted-and-ignored hint
          else if (hname.equalsIgnoreCase("runFirst") &&
                   hval.equalsIgnoreCase("true") && patterns.nonEmpty)
            pins(patterns.size - 1) = 1
          else if (hname.equalsIgnoreCase("runLast") &&
                   hval.equalsIgnoreCase("true") && patterns.nonEmpty)
            pins(patterns.size - 1) = 2
          else if (hname.equalsIgnoreCase("runLast") &&
                   hval.equalsIgnoreCase("true")) alg match {
            // the textually prior node is a SERVICE group (patterns
            // were flushed when it was parsed): RunLast on a SERVICE
            // defers it after the rest of its group, licensing
            // binding injection into a variable fts:search term
            case Join(l, sc: ServiceCall) => alg = Join(l, sc.copy(runLast = true))
            case sc: ServiceCall          => alg = sc.copy(runLast = true)
            case _                        => ()
          }
        } else if (peekIs("INCLUDE")) {
          // INCLUDE %set: join the named solution set on shared vars
          next()
          val nm = next()
          require(nm.startsWith("%"), s"INCLUDE expects %name, got '$nm'")
          if (peekIs(".")) next()
          flush(); add(NamedInclude(nm.drop(1)))
        } else if (peekIs("FILTER")) {
          next()
          if (peekIs("EXISTS")) { next(); flush(); val g = parseGroup(liftMagic); alg = Exists(orUnit(alg), g) }
          else if (peekIs("NOT")) { next(); expect("EXISTS"); flush(); val g = parseGroup(liftMagic); alg = NotExists(orUnit(alg), g) }
          else if (!peekIs("(")) {
            // FILTER BuiltInCall / FunctionCall without brackets
            // (grammar [68] Constraint admits all three forms)
            val c = parseExpr(); flush(); alg = Filter(orUnit(alg), c)
          }
          else if (bracketContainsExists()) {
            // FILTER(expr && EXISTS {…} && …): each top-level conjunct
            // is either a value expression (ANDed into one Filter) or
            // an EXISTS/NOT EXISTS group (a semi/anti join)
            val (cond, exs) = parseFilterParts(liftMagic)
            flush()
            cond.foreach(c => alg = Filter(orUnit(alg), c))
            exs.foreach {
              case (true, g)  => alg = Exists(orUnit(alg), g)
              case (false, g) => alg = NotExists(orUnit(alg), g)
            }
          } else { val c = parseBracketedExpr(); flush(); alg = Filter(orUnit(alg), c) }
        } else if (peekIs("OPTIONAL")) {
          next(); flush(); val g = parseGroup(liftMagic); alg = LeftJoin(orUnit(alg), g)
        } else if (peekIs("MINUS")) {
          next(); flush(); val g = parseGroup(liftMagic); alg = Minus(orUnit(alg), g)
        } else if (peekIs("BIND")) {
          next(); expect("(")
          val e = parseExpr()
          expect("AS"); val v = next(); expect(")")
          flush(); alg = Extend(orUnit(alg), v.drop(1), e)
        } else if (peekIs("LET")) {
          // LET (?v := expr) — the reference's grammar extension for
          // BIND (sparql-grammar AssignmentNode; same algebra)
          next(); expect("(")
          val v = next()
          expect(":"); expect("=")
          val e = parseExpr()
          expect(")")
          if (peekIs(".")) next()
          flush(); alg = Extend(orUnit(alg), v.drop(1), e)
        } else if (peekIs("VALUES")) {
          flush(); add(parseValues())
        } else if (peekIs("GRAPH")) {
          next()
          val g = term(next())
          flush(); add(GraphPattern(g, parseGroup(liftMagic)))
        } else if (peekIs("SERVICE")) {
          next()
          val silent = if (peekIs("SILENT")) { next(); true } else false
          val svc0 = next()
          // normalize full-IRI spellings of the magic namespaces to
          // the engine's registry names before dispatch (vars keep
          // their sigil)
          val svc = if (svc0.startsWith("?")) svc0 else constValue(svc0)
          // first-class algebra services (the reference's built-in
          // AST-rewritten factories) keep their dedicated parse; every
          // OTHER service — <iri> endpoints AND named magic services
          // like bds:searchInSearch / bd:slice / bd:sample — routes
          // through ServiceCall to the registry, its inner group
          // parsed as ordinary algebra (the magic predicates are just
          // constant-predicate patterns the handler interprets)
          val algebraService =
            Set("gas:service", "bds:search", "geo:search").contains(svc)
          if (!algebraService) {
            // SERVICE [SILENT] <endpoint-or-name> { group }: federation
            // to a registered endpoint (ServiceRegistry.java:67); the
            // inner group is ordinary algebra, evaluated by the
            // handler. The group's token span rides along as srcText —
            // what a remote handler POSTs (RemoteServiceCallImpl
            // serializes the service group back to SPARQL the same way)
            flush()
            val t0 = pos
            // no magic-search lift inside a SERVICE group — the named
            // handler owns its own magic predicates (searchInSearch's
            // bds:* options would otherwise be hijacked)
            val g = parseGroup(liftMagic = false)
            val text = tokens.slice(t0, pos).mkString(" ")
            if (svc.startsWith("?"))
              // SERVICE ?endpoint { … }: dispatch per enclosing-group
              // binding of the endpoint variable (ServiceCallJoin's
              // IVariableOrConstant serviceRef)
              add(ServiceCallVar(svc.drop(1), g, silent, Some(text)))
            else {
              // constValue interns <full-IRI> spellings of the magic
              // namespaces to their registry names (NsAliases)
              val key = constValue(svc)
              add(ServiceCall(key, g, silent, Some(text)))
            }
          } else {
          expect("{")
          val config = Vector.newBuilder[(String, String)]
          var outNode = "node"; var outVal = "value"
          var outLat = "lat"; var outLon = "lon"; var outDist = "dist_km"
          var outT = "t"
          while (!peekIs("}")) {
            if (peekIs(".")) next()
            else {
              val subjTok = next() // service subject (hit var for bds:search)
              // option predicate: normalize through constValue so a
              // full-IRI or aliased-prefix spelling names the same key
              val keyTok = next()
              val key = {
                val c = if (keyTok.startsWith("?")) keyTok else constValue(keyTok)
                c.substring(c.lastIndexOf(':') + 1).dropWhile(_ == '#')
              }
              val v = next()
              if (svc == "bds:search") {
                // the reference's SERVICE search syntax
                // (SearchServiceFactory): the SUBJECT variable binds
                // the matched literal, bds:search carries the query,
                // bds:relevance / bds:rank name OUTPUT variables
                if (subjTok.startsWith("?")) outNode = subjTok.drop(1)
                key match {
                  case "search"            => config += ("query" -> constValue(v))
                  case "relevance" | "rank" if v.startsWith("?") =>
                    outVal = v.drop(1)
                  // the engine's explicit output-naming spellings keep
                  // working alongside the reference's subject-var form
                  case "out"               => outNode = v.drop(1)
                  case "outVal"            => outVal = v.drop(1)
                  case _                   => config += (key -> constValue(v))
                }
              }
              else if (key == "out") outNode = v.drop(1)
              else if (key == "outVal") outVal = v.drop(1)
              else if (key == "outLat") outLat = v.drop(1)
              else if (key == "outLon") outLon = v.drop(1)
              else if (key == "outDist") outDist = v.drop(1)
              else if (key == "outTime") outT = v.drop(1)
              else config += (key -> constValue(v))
              if (peekIs(".")) next()
            }
          }
          expect("}")
          // option values may arrive as TYPED literal term forms
          // ("0"^^xsd:double) — numeric/boolean option reads unwrap to
          // the lexical form first (the facet is for the lexicon, not
          // for Integer.parseInt)
          def lex(v: String): String =
            if (v.startsWith("\"")) v.substring(1, v.lastIndexOf('\"')) else v
          val conf = config.result().groupBy(_._1).view
            .mapValues(_.map(x => lex(x._2))).toMap
          flush()
          svc match {
            case "gas:service" => add(GasService(config.result(), outNode, outVal))
            case "bds:search" =>
              // reference magic-predicate search service
              // (SearchServiceFactory; options at FullTextIndex.java:1004)
              // the query string goes to the ANALYZER unsplit — every
              // tokenizing analyzer splits on whitespace itself, and
              // keyword/pattern analyzers need the whole string (a
              // pattern term may legitimately contain spaces)
              val terms = conf.get("query").toSeq.map(_.head)
                .filter(_.nonEmpty)
              require(terms.nonEmpty || conf.contains("regex"),
                "bds:search needs bds:query or bds:regex")
              add(SearchService(terms,
                // a rank window must not compose with the implicit
                // top-20: the reference's slice() returns the full
                // [minRank, maxRank] window (FullTextIndex.slice) —
                // with a window and no EXPLICIT bds:limit, the window
                // alone bounds the hit set
                conf.get("limit").map(_.head.toInt).getOrElse(
                  if (conf.contains("minRank") || conf.contains("maxRank"))
                    Int.MaxValue
                  else 20),
                conf.get("prefixMatch").exists(_.head.toBoolean),
                conf.get("matchAllTerms").exists(_.head.toBoolean),
                outNode, outVal,
                conf.get("regex").map(_.head),
                conf.get("minRelevance").map(_.head.toDouble),
                conf.get("maxRank").map(_.head.toInt),
                // bds:analyzer: analyzer name ("cjk") or language tag
                // ("zh") — the ConfigurableAnalyzerFactory per-namespace
                // seam surfaced as a per-query option
                conf.get("analyzer").map(_.head),
                // the rest of FullTextQuery's option surface:
                // relevance/rank WINDOWS and verbatim-phrase exact
                // match (bds:searchTimeout parses and is consumed by
                // the compiler — cancellation is the server job-group
                // seam's job, documented there)
                conf.get("maxRelevance").map(_.head.toDouble),
                conf.get("minRank").map(_.head.toInt),
                conf.get("matchExact").exists(_.head.toBoolean)))
            case "geo:search" =>
              // reference geospatial service: inRectangle mode, or
              // inCircle when a center+radius is given
              // (ast/eval/GeoSpatialServiceFactory.java:133,
              // GeoSpatial.java pointDistance predicates)
              def d(key: String, dflt: Double) =
                conf.get(key).map(_.head.toDouble).getOrElse(dflt)
              if (conf.contains("radiusKm"))
                add(GeoCircle(d("lat", 0), d("lon", 0), d("radiusKm", 0),
                  outNode, outLat, outLon, outDist))
              else {
                // geo:timeStart/geo:timeEnd switch the search onto the
                // reference's default lat-lon-TIME datatype
                val time =
                  if (conf.contains("timeStart") || conf.contains("timeEnd"))
                    // toDouble.toLong: accept decimal lexical forms
                    // ("100.0") like every other geo:search parameter
                    Some((conf.get("timeStart").map(_.head.toDouble.toLong).getOrElse(Long.MinValue),
                      conf.get("timeEnd").map(_.head.toDouble.toLong).getOrElse(Long.MaxValue)))
                  else None
                add(GeoService(d("latMin", -90), d("latMax", 90),
                  d("lonMin", -180), d("lonMax", 180), outNode, outLat, outLon,
                  time, outT))
              }
            case other => sys.error(s"unsupported SERVICE '$other'")
          }
          }
        } else if (peekIs("{") && peekAt(1).equalsIgnoreCase("SELECT")) {
          // sub-SELECT: compiled independently, joined on shared vars
          next()
          val sub = parseSelect()
          expect("}")
          flush(); add(sub)
        } else if (peekIs("{")) {
          flush()
          // nested groups inherit the enclosing lift mode: a '{ … }'
          // inside a SERVICE group must NOT hijack bds:* patterns the
          // named handler (or remote endpoint) owns
          var g = parseGroup(liftMagic)
          while (peekIs("UNION")) { next(); g = Union(g, parseGroup(liftMagic)) }
          add(g)
        } else if (peekIs(".")) next()
        else {
          // RDF* embedded triple `<<s p o>>` in subject/object position
          // (sids mode, AbstractTripleStore.Options.STATEMENT_IDENTIFIERS):
          // ground → folds to its sid constant; with variables → the
          // base pattern is added and a synthesized variable carries
          // the map-side sid computation into the enclosing pattern
          var embedded = false
          def patternTerm(): Term =
            if (peekIs("[")) bnodePropList()
            else if (!peekIs("<<")) term(next())
            else {
              next()
              val (es, ep, eo) = (term(next()), term(next()), term(next()))
              expect(">>")
              (es, ep, eo) match {
                case (Const(a), Const(b), Const(c)) =>
                  Const(graft.rdf.Rdr.sidOf(a, b, c))
                case _ =>
                  def tc(t: Term): Column =
                    t match { case Var(v) => col(v); case Const(v) => lit(v) }
                  val sv = fresh("sid")
                  patterns += TriplePattern(es, ep, eo)
                  flush()
                  alg = Extend(orUnit(alg), sv,
                    graft.rdf.Rdr.sid(tc(es), tc(ep), tc(eo)))
                  embedded = true
                  Var(sv)
              }
            }
          // one predicate (var or path) + its ','-separated objects
          // for subject `s` (grammar [77] PropertyListNotEmpty /
          // [79] ObjectList)
          def predObjList(s: Term): Unit = {
            if (peek.startsWith("?") && peek != "?") {
              // variable predicate → plain pattern
              val p = term(next())
              var objs = true
              while (objs) {
                val o = patternTerm()
                patterns += TriplePattern(s, p, o)
                if (peekIs(",")) next() else objs = false
              }
            } else {
              val pe = parsePath()
              var objs = true
              while (objs) {
                val o = patternTerm()
                pe match {
                  case PathPred(p) => patterns += TriplePattern(s, Const(p), o)
                  case path =>
                    val sv = s match { case Var(v) => v; case _ => fresh("ps") }
                    val ov = o match { case Var(v) => v; case _ => fresh("po") }
                    flush(); add(Path(s, path, o, sv, ov))
                }
                if (peekIs(",")) next() else objs = false
              }
            }
          }
          def propertyList(s: Term): Unit = {
            predObjList(s)
            while (peekIs(";")) {
              next()
              if (!peekIs(".") && !peekIs("}") && !peekIs("]") && !peekIs(";"))
                predObjList(s)
            }
          }
          // `[ p1 o1 ; p2 o2 ]` — blank-node property list (grammar
          // [99]): an anonymous subject/object = a fresh variable that
          // is never projected
          def bnodePropList(): Term = {
            expect("[")
            val v = Var(fresh("bn"))
            if (!peekIs("]")) propertyList(v)
            expect("]")
            v
          }
          // triple pattern, possibly with a property path predicate;
          // supports predicate-object lists `s p1 o1 ; p2 o2` and
          // object lists `s p o1 , o2`
          val startedWithBracket = peekIs("[")
          val s = patternTerm()
          // `[ p o ] .` is a complete statement on its own; any other
          // subject (incl. `[ … ] p o`) is followed by a property list
          if (!(startedWithBracket && (peekIs(".") || peekIs("}"))))
            propertyList(s)
          // a statement carrying an embedded rewrite joins the
          // sid-Extend side NOW, so later unrelated patterns never end
          // up cartesian-joined with it inside one Bgp
          if (embedded) flush()
          if (peekIs(".")) next()
        }
      }
      expect("}")
      flush()
      orUnit(alg)
    }

    /** VALUES ?v { "a" "b" } | VALUES (?a ?b) { ("x" "y") (UNDEF "z") } */
    private def parseValues(): Algebra = {
      expect("VALUES")
      val vars = Vector.newBuilder[String]
      if (peekIs("(")) {
        next()
        while (!peekIs(")")) vars += next().drop(1)
        expect(")")
      } else vars += next().drop(1)
      val vs = vars.result()
      expect("{")
      val rows = Vector.newBuilder[Seq[Option[String]]]
      def cell(): Option[String] = {
        val t = next()
        if (t.equalsIgnoreCase("UNDEF")) None
        else Some(constValue(t))
      }
      while (!peekIs("}")) {
        // a single-var VALUES may STILL parenthesize its rows (the
        // grammar's DataBlock always allows the full-row form)
        if (vs.size == 1 && !peekIs("(")) rows += Seq(cell())
        else {
          expect("(")
          val row = Vector.newBuilder[Option[String]]
          while (!peekIs(")")) row += cell()
          expect(")")
          rows += row.result()
        }
      }
      expect("}")
      Values(vs, rows.result())
    }

    /** BINDINGS ?v1 ?v2 { (row)… } — the SPARQL 1.1 draft form of the
      * trailing VALUES clause (vars listed bare, every row
      * parenthesized, UNDEF spelled the same). */
    private def parseBindings(): Algebra = {
      expect("BINDINGS")
      val vars = Vector.newBuilder[String]
      while (peek.startsWith("?")) vars += next().drop(1)
      val vs = vars.result()
      expect("{")
      val rows = Vector.newBuilder[Seq[Option[String]]]
      while (!peekIs("}")) {
        expect("(")
        val row = Vector.newBuilder[Option[String]]
        while (!peekIs(")")) {
          val t = next()
          row += (if (t.equalsIgnoreCase("UNDEF")) None else Some(constValue(t)))
        }
        expect(")")
        rows += row.result()
      }
      expect("}")
      Values(vs, rows.result())
    }

    // ---- property paths ----
    /** path := seq ('|' seq)* */
    private def parsePath(): PathExpr = {
      var e = parsePathSeq()
      while (peek == "|") { next(); e = PathAlt(e, parsePathSeq()) }
      e
    }
    private def parsePathSeq(): PathExpr = {
      var e = parsePathElt()
      while (peek == "/") { next(); e = PathSeq(e, parsePathElt()) }
      e
    }
    private def parsePathElt(): PathExpr = {
      if (peek == "^") { next(); return PathInverse(parsePathElt()) }
      var prim: PathExpr =
        if (peek == "!") {
          // !(p|^q|…) or !p / !^p — forward and inverse elements split
          // into their own sets (grammar [94-96], §18.2.2.3)
          next()
          val fwd = Vector.newBuilder[String]
          val rev = Vector.newBuilder[String]
          def elem(): Unit =
            if (peek == "^") { next(); rev += constValue(next()) }
            else fwd += constValue(next())
          if (peek == "(") {
            next()
            elem()
            while (peek == "|") { next(); elem() }
            expect(")")
          } else elem()
          PathNeg(fwd.result(), rev.result())
        } else if (peek == "(") {
          next()
          val e = parsePath()
          expect(")")
          e
        } else {
          // `a` in predicate position abbreviates rdf:type (grammar
          // [106] VerbSimple) — the engine's type predicate
          val t = next()
          PathPred(if (t == "a") "type" else constValue(t))
        }
      peek match {
        case "+" => next(); prim = PathPlusE(prim)
        case "*" => next(); prim = PathStar(prim)
        case "?" => next(); prim = PathOpt(prim)
        case "{" =>
          // bounded quantifier {n}, {n,}, {n,m}, {,m} — Blazegraph
          // grammar extension (ArbitraryLengthPathNode bounds)
          next()
          val lo = if (peek == ",") 0 else next().toInt
          val hi =
            if (peek == ",") {
              next()
              if (peek == "}") None else Some(next().toInt)
            } else Some(lo)
          expect("}")
          hi.foreach(h => require(h >= lo, s"path bound {$lo,$h} is empty"))
          prim = PathBounded(prim, lo, hi)
        case _   => ()
      }
      prim
    }

    /** An empty group `{}` is the unit table — ONE solution binding
      * nothing (SPARQL §18.3: Join(X, {μ0}) = X, the identity). */
    /** Value equality for two TERM operands (§17.4.1.7 RDFterm-equal
      * + operator extensibility): numeric values compare numerically
      * ("04"^^xsd:int = 4); two DIFFERENT literals where either
      * side's value is undefined (unknown datatype / ill-typed
      * lexical) are an ERROR, not false; terms of decidable kinds
      * (IRIs, bnodes, language-tagged forms) compare as terms. */
    private def valEq(a0: Column, b0: Column): Column = {
      // operands may arrive as non-string Columns (a numeric literal
      // in the query text) — the term comparisons below are string
      // comparisons over lexicon forms
      val a = a0.cast("string")
      val b = b0.cast("string")
      val (na, nb) = (RdfLiteral.numOf(a), RdfLiteral.numOf(b))
      val indeterminate =
        (RdfLiteral.illComparable(a) || RdfLiteral.illComparable(b)) &&
          !RdfLiteral.isTagged(a) && !RdfLiteral.isTagged(b) &&
          Lexicon.isLiteral(a) && Lexicon.isLiteral(b)
      when(a === b, lit(true))
        .when(na.isNotNull && nb.isNotNull, na === nb)
        .when(indeterminate, lit(null).cast("boolean"))
        .otherwise(a === b)
    }

    private def orUnit(a: Algebra): Algebra =
      if (a == null) Values(Nil, Seq(Nil)) else a

    /** Does the upcoming bracketed filter body contain a top-level
      * EXISTS? (token scan to the matching close paren). */
    private def bracketContainsExists(): Boolean = {
      var i = pos
      var depth = 0
      while (i < tokens.length) {
        tokens(i) match {
          case "(" | "{" => depth += 1
          case ")" | "}" =>
            depth -= 1
            if (depth == 0) return false
          case t if t.equalsIgnoreCase("EXISTS") => return true
          case _ => ()
        }
        i += 1
      }
      false
    }

    /** FILTER body with EXISTS conjuncts: `( c1 && EXISTS {…} && c2 )`.
      * Conjuncts split at top-level `&&`; plain conjuncts AND into one
      * condition (each conjunct may use `||` internally). */
    private def parseFilterParts(liftMagic: Boolean = true): (Option[Column], Seq[(Boolean, Algebra)]) = {
      expect("(")
      var cond: Option[Column] = None
      val exs = Vector.newBuilder[(Boolean, Algebra)]
      var done = false
      while (!done) {
        if (peekIs("EXISTS")) { next(); exs += ((true, parseGroup(liftMagic))) }
        else if (peekIs("NOT") && peekAt(1).equalsIgnoreCase("EXISTS")) {
          next(); next(); exs += ((false, parseGroup(liftMagic)))
        } else {
          var c = parseRel(None)
          while (peek == "||") { next(); c = c || parseRel(None) }
          cond = Some(cond.map(_ && c).getOrElse(c))
        }
        if (peek == "&&") next() else done = true
      }
      expect(")")
      (cond, exs.result())
    }

    /** Stored term form of a literal token: plain `"abc"` → bare
      * lexical form (the untagged string lexicon, unchanged);
      * `"chat"@fr` → the tagged form verbatim; `"5"^^xsd:int` → the
      * typed form with the datatype IRI prefix-expanded
      * ([[RdfLiteral]]). */
    private def literalValue(t: String): String = {
      val close = t.lastIndexOf('"')
      val lex = t.substring(1, close)
      val tail = t.substring(close + 1)
      if (tail.isEmpty) lex
      else if (tail.startsWith("@")) "\"" + lex + "\"" + tail
      else {
        val dt = constValue(tail.drop(2))
        // dateTime constants canonicalize to UTC exactly like the
        // loaders' lexicon boundary (one term, chronological string
        // order) — graft.rdf.Turtle.canonicalDateTime
        val lex2 =
          if (dt == "http://www.w3.org/2001/XMLSchema#dateTime")
            graft.rdf.Turtle.canonicalDateTime(lex)
          else lex
        RdfLiteral.typed(lex2, dt)
      }
    }

    /** Constant-term value of a token (IRI/prefix normalization). */
    private def constValue(t: String): String =
      if (t.startsWith("\"")) literalValue(t)
      else if (t.startsWith("<") && t.endsWith(">")) internIri(t.drop(1).dropRight(1))
      else {
        val i = t.indexOf(':')
        // i == 0 is the EMPTY prefix (`:local`, grammar [140] PNAME_NS)
        if (i >= 0 && prefixes.contains(t.substring(0, i)))
          internIri(prefixes(t.substring(0, i)) + t.substring(i + 1))
        else t
      }

    /** [[Lexicon.intern]], plus a query-only rule: the reference's
      * magic-service namespaces intern to the engine's prefix names,
      * so `PREFIX bd: <…/rdf/search#>` queries hit the same
      * lift/registry paths as the `bds:`-spelled ones. */
    private def internIri(iri: String): String =
      Parser.NsAliases.collectFirst {
        case (ns, pfx) if iri.startsWith(ns) => pfx + iri.drop(ns.length)
      }.getOrElse(Lexicon.intern(iri))

    private def term(t: String): Term =
      if (t.startsWith("?")) {
        // '_'-prefixed names are reserved for parser-synthesized
        // columns (anonymous bnodes, path endpoints, sids) which
        // SELECT * excludes — a user variable sharing the prefix would
        // silently vanish from results, so reject loud instead
        require(!t.startsWith("?_"),
          s"variable names starting with '_' are reserved ('$t')")
        Var(t.drop(1))
      } else Const(constValue(t))

    /** RDF* embedded triple `<<s p o>>` in data/template position:
      * must be ground, folds to its statement-id constant (sids mode,
      * AbstractTripleStore.Options.STATEMENT_IDENTIFIERS). Assumes the
      * leading `<<` is already consumed. */
    private def groundSid(): Term = {
      val (s, p, o) = (term(next()), term(next()), term(next()))
      expect(">>")
      (s, p, o) match {
        case (Const(a), Const(b), Const(c)) => Const(graft.rdf.Rdr.sidOf(a, b, c))
        case other => sys.error(s"embedded triple in data/template must be ground, got $other")
      }
    }

    private def dataTerm(): Term =
      if (peekIs("<<")) { next(); groundSid() } else term(next())

    /** Predicate position in data/template triples: `a` ≡ type. */
    private def predTerm(): Term = {
      val t = next()
      if (t == "a") Const("type") else term(t)
    }

    /** FILTER ( expr ) */
    private def parseBracketedExpr(
        aggSink: Option[Column => Column] = None): Column = {
      expect("(")
      val e = parseExpr(aggSink)
      expect(")")
      e
    }

    /** expr := andExpr (|| andExpr)*; `aggSink` turns aggregate calls
      * inside the expr (HAVING position) into synthetic agg columns. */
    private def parseExpr(aggSink: Option[Column => Column] = None): Column = {
      var e = parseAnd(aggSink)
      while (peek == "||") { next(); e = e || parseAnd(aggSink) }
      e
    }
    private def parseAnd(aggSink: Option[Column => Column]): Column = {
      var e = parseRel(aggSink)
      while (peek == "&&") { next(); e = e && parseRel(aggSink) }
      e
    }
    private def parseRel(aggSink: Option[Column => Column]): Column = {
      if (peek == "!") { next(); return !parseRel(aggSink) }
      // the test shortcuts match on the LEXICAL form (tag-transparent;
      // pass-through for plain terms)
      if (peekIs("regex")) {
        next(); expect("("); val v = parsePrimary(); expect(",")
        val re = next()
        // optional flags argument (§17.4.3.14 / XPath fn:matches):
        // translated to an inline-modifier prefix
        val flags =
          if (peekIs(",")) { next(); next().drop(1).dropRight(1) } else ""
        expect(")")
        val pat = (if (flags.nonEmpty) s"(?$flags)" else "") + re.drop(1).dropRight(1)
        return RdfLiteral.strOf(v).rlike(pat)
      }
      if (peekIs("contains")) {
        next(); expect("("); val v = parsePrimary(); expect(",")
        val s = next(); expect(")")
        return RdfLiteral.strOf(v).contains(s.drop(1).dropRight(1))
      }
      if (peekIs("strstarts")) {
        next(); expect("("); val v = parsePrimary(); expect(",")
        val s = next(); expect(")")
        return RdfLiteral.strOf(v).startsWith(s.drop(1).dropRight(1))
      }
      val (l, lNum) = parseAdditive(aggSink)
      if (peekIs("IN") || (peekIs("NOT") && peekAt(1).equalsIgnoreCase("IN"))) {
        val negated = peekIs("NOT")
        if (negated) next()
        next(); expect("(")
        // IN is sugar for a disjunction of `=` comparisons (§17.4.1.9)
        // over full expressions — variables included — each with the
        // RDFterm-equal value semantics
        val vals = Vector.newBuilder[Column]
        if (!peekIs(")")) {
          vals += parseExpr(aggSink)
          while (peekIs(",")) { next(); vals += parseExpr(aggSink) }
        }
        expect(")")
        val items = vals.result()
        val c =
          if (items.isEmpty) lit(false)
          else items.map(v => valEq(l, v)).reduce(_ || _)
        return if (negated) !c else c
      }
      peek match {
        case ">" | "<" | ">=" | "<=" | "=" | "!=" =>
          val op = next(); val (r0, rNum) = parseAdditive(aggSink)
          // string-typed solution terms compare numerically against a
          // numeric literal (xsd numeric comparison semantics); the
          // strOf unwrap makes a TYPED numeric literal ("5"^^xsd:int)
          // compare by value — for plain terms it is a first-char
          // regex miss, not a hot-path cost
          val (lc, rc) =
            if (rNum && !lNum) (RdfLiteral.numOf(l), r0)
            else if (lNum && !rNum) (l, RdfLiteral.numOf(r0))
            else (l, r0)
          op match {
            case ">" => lc > rc; case "<" => lc < rc
            case ">=" => lc >= rc; case "<=" => lc <= rc
            case "=" => if (!lNum && !rNum) valEq(lc, rc) else lc === rc
            case "!=" => if (!lNum && !rNum) !valEq(lc, rc) else lc =!= rc
          }
        case _ => l
      }
    }

    /** additive := mult (('+'|'-') mult)*; SPARQL numeric operators —
      * string terms entering arithmetic cast to double (xsd:decimal
      * promotion). Returns (column, isNumeric). */
    private def parseAdditive(aggSink: Option[Column => Column]): (Column, Boolean) = {
      def num(cb: (Column, Boolean)): Column = if (cb._2) cb._1 else RdfLiteral.numOf(cb._1)
      var cur = parseMult(aggSink)
      while (peek == "+" || peek == "-") {
        val op = next()
        val r = parseMult(aggSink)
        cur = (if (op == "+") num(cur) + num(r) else num(cur) - num(r), true)
      }
      cur
    }
    private def parseMult(aggSink: Option[Column => Column]): (Column, Boolean) = {
      def num(cb: (Column, Boolean)): Column = if (cb._2) cb._1 else RdfLiteral.numOf(cb._1)
      var cur = parsePrimary2(aggSink)
      while (peek == "*" || peek == "/") {
        val op = next()
        val r = parsePrimary2(aggSink)
        cur = (if (op == "*") num(cur) * num(r) else num(cur) / num(r), true)
      }
      cur
    }
    /** SPARQL value-function names accepted in expressions (the text
      * face of FunctionRegistry; numeric ones operate on xsd-numeric
      * string terms via a double cast). */
    private val numericFns = Set("STRLEN", "ABS", "CEIL", "FLOOR", "ROUND", "YEAR", "MONTH", "DAY",
      "HOURS", "MINUTES", "SECONDS", "RAND")
    private val valueFns = numericFns ++
      Set("UCASE", "LCASE", "STR", "SUBSTR", "CONCAT", "REPLACE", "IF", "COALESCE", "BOUND",
        "STRSTARTS", "STRENDS", "CONTAINS", "STRBEFORE", "STRAFTER", "SAMETERM",
        "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
        "ISIRI", "ISURI", "ISLITERAL", "ISNUMERIC", "ISBLANK",
        "LANG", "LANGMATCHES", "DATATYPE", "STRLANG", "STRDT",
        "ENCODE_FOR_URI", "IRI", "URI", "BNODE", "TZ", "TIMEZONE",
        "NOW", "UUID", "STRUUID")

    /** fn(args…) → Column. */
    private def parseCall(aggSink: Option[Column => Column]): (Column, Boolean) = {
      val name = next().toUpperCase
      expect("(")
      val args = Vector.newBuilder[Column]
      if (!peekIs(")")) {
        args += parseExpr(aggSink)
        while (peekIs(",")) { next(); args += parseExpr(aggSink) }
      }
      expect(")")
      val a = args.result()
      // §17.4.3 argument rule: string ops act on the LEXICAL form and
      // preserve a language tag on the result (tag-transparent)
      def lexOp(f: Column => Column): Column = RdfLiteral.mapLexPreserveTag(a(0))(f)
      val c = name match {
        case "STRLEN"   => length(RdfLiteral.strOf(a(0)))
        case "UCASE"    => lexOp(upper)
        case "LCASE"    => lexOp(lower)
        // §17.4.2.5: the lexical form — strips a lang/datatype facet
        case "STR"      => RdfLiteral.strOf(a(0).cast("string"))
        case "ABS"      => abs(RdfLiteral.strOf(a(0)).cast("double"))
        case "CEIL"     => ceil(RdfLiteral.strOf(a(0)).cast("double")).cast("long")
        case "FLOOR"    => floor(RdfLiteral.strOf(a(0)).cast("double")).cast("long")
        // §17.4.4.3 fn:round rounds ties toward POSITIVE infinity
        // (-2.5 → -2), not away from zero — floor(x + 0.5) is exact
        case "ROUND"    =>
          floor(RdfLiteral.strOf(a(0)).cast("double") + lit(0.5)).cast("long")
        case "SUBSTR"   =>
          if (a.size >= 3) lexOp(_.substr(a(1).cast("int"), a(2).cast("int")))
          else lexOp(_.substr(a(1).cast("int"), lit(Int.MaxValue)))
        // §17.4.3.2 CONCAT: lexical forms concatenate; when EVERY
        // argument carries the same language tag the result keeps it,
        // otherwise a simple literal
        case "CONCAT"   => RdfLiteral.concatTerms(a)
        case "REPLACE"  => lexOp(regexp_replace(_, a(1), a(2)))
        case "IF"       => when(a(0), a(1)).otherwise(a(2))
        case "COALESCE" => coalesce(a: _*)
        case "BOUND"    => a(0).isNotNull
        case "YEAR"     => year(to_date(RdfLiteral.strOf(a(0))))
        case "MONTH"    => month(to_date(RdfLiteral.strOf(a(0))))
        case "DAY"      => dayofmonth(to_date(RdfLiteral.strOf(a(0))))
        // SPARQL §17.4.4.{12-16} hash functions (FunctionRegistry
        // MD5/SHA1/…); lowercase hex in both engines
        // SPARQL §17.4.2 term-testing functions over the engine's
        // string-term lexicon: an IRI is an id-shaped term (`c:42`,
        // `urn:…` — scheme-prefixed; the same term-type rule the
        // object-bound access path uses to prune literal branches);
        // everything else is a literal. The model has no blank nodes.
        case "ISIRI" | "ISURI" => Lexicon.isIri(a(0))
        case "ISLITERAL"       => Lexicon.isLiteral(a(0))
        // numeric lexical form, plain or numerically-typed (a tagged
        // literal is rdf:langString, never numeric)
        case "ISNUMERIC" =>
          RdfLiteral.strOf(a(0)).rlike("^[-+]?[0-9]+(\\.[0-9]+)?$") &&
            !RdfLiteral.isTagged(a(0))
        case "ISBLANK"         => Lexicon.isBnode(a(0))
        // §17.4.2.{6-9} + §17.4.3.1: lang/datatype facet introspection
        // over the tagged-literal term forms (RdfLiteral)
        case "LANG"        => RdfLiteral.langOf(a(0))
        case "LANGMATCHES" => RdfLiteral.langMatches(a(0), a(1))
        case "DATATYPE"    => RdfLiteral.datatypeOf(a(0))
        case "STRLANG"     => RdfLiteral.strLang(a(0), a(1))
        case "STRDT"       => RdfLiteral.strDt(a(0), a(1))
        // §17.4.2.8 IRI(str): strips any literal facet; base-relative
        // IRIs intern to local names (the lexicon-internalization rule)
        case "IRI" | "URI" => Lexicon.intern(RdfLiteral.strOf(a(0).cast("string")))
        // §17.4.2.9 BNODE(str): deterministic label per lexical form
        case "BNODE" => concat(lit("_:"), a(0))
        // §17.4.6 ENCODE_FOR_URI: percent-encode everything outside
        // RFC 3986 unreserved. url_encode is form-encoding — repair
        // the three divergences (space→'+', '*' kept, '~' escaped)
        case "ENCODE_FOR_URI" =>
          regexp_replace(regexp_replace(regexp_replace(
            url_encode(a(0)), "\\+", "%20"), "\\*", "%2A"), "%7E", "~")
        // §17.4.5 time accessors over xsd:dateTime-shaped terms
        case "HOURS"   => hour(to_timestamp(RdfLiteral.strOf(a(0))))
        case "MINUTES" => minute(to_timestamp(RdfLiteral.strOf(a(0))))
        case "SECONDS" => second(to_timestamp(RdfLiteral.strOf(a(0))))
        // TZ: the literal's timezone designator, '' when absent
        case "TZ" => regexp_extract(RdfLiteral.strOf(a(0)), "(Z|[-+][0-9]{2}:[0-9]{2})$", 1)
        // §17.4.5.7 TIMEZONE: the designator as an xsd:dayTimeDuration
        // typed term ("-05:00" → "-PT5H", Z/+00:00 → "PT0S"); error
        // (unbound) when the literal carries no timezone
        case "TIMEZONE" =>
          val tz = regexp_extract(RdfLiteral.strOf(a(0)), "(Z|[-+][0-9]{2}:[0-9]{2})$", 1)
          val h = substring(tz, 2, 2).cast("int")
          val m = substring(tz, 5, 2).cast("int")
          val dur = when(tz === "Z" || (h === 0 && m === 0), lit("PT0S"))
            .otherwise(concat(
              when(tz.startsWith("-"), lit("-")).otherwise(lit("")), lit("PT"),
              h.cast("string"), lit("H"),
              when(m > 0, concat(m.cast("string"), lit("M"))).otherwise(lit(""))))
          when(tz === "", lit(null)).otherwise(
            RdfLiteral.strDt(dur, lit("http://www.w3.org/2001/XMLSchema#dayTimeDuration")))
        // nondeterministic builtins (§17.4.1.3, §17.4.5.2, §17.4.2.10-11):
        // real values, excluded from the deterministic oracle set
        case "NOW"     => date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        case "UUID"    => concat(lit("urn:uuid:"), uuid())
        case "STRUUID" => uuid()
        case "RAND"    => rand()
        case "MD5"    => md5(a(0))
        case "SHA1"   => sha1(a(0))
        case "SHA256" => sha2(a(0), 256)
        case "SHA384" => sha2(a(0), 384)
        case "SHA512" => sha2(a(0), 512)
        // tests compare lexical forms (tag-transparent)
        case "STRSTARTS" => RdfLiteral.strOf(a(0)).startsWith(RdfLiteral.strOf(a(1)))
        case "STRENDS"   => RdfLiteral.strOf(a(0)).endsWith(RdfLiteral.strOf(a(1)))
        case "CONTAINS"  => RdfLiteral.strOf(a(0)).contains(RdfLiteral.strOf(a(1)))
        // term identity, facets included (§17.4.1.8)
        case "SAMETERM"  => a(0) === a(1)
        // SPARQL §17.4.3.{3,4}: empty string when the needle is absent;
        // a found result keeps the first argument's language tag
        case "STRBEFORE" => lexOp { lex =>
          val needle = RdfLiteral.strOf(a(1))
          when(instr(lex, needle) > 0,
            substring(lex, lit(1), instr(lex, needle) - 1)).otherwise("")
        }
        case "STRAFTER" => lexOp { lex =>
          val needle = RdfLiteral.strOf(a(1))
          when(instr(lex, needle) > 0,
            lex.substr(instr(lex, needle) + length(needle), length(lex))).otherwise("")
        }
      }
      (c, numericFns.contains(name))
    }

    /** primary := ?var | number | "string" | fn(...) | AGG(...) in
      * HAVING. Boolean = "behaves numerically". */
    private def parsePrimary2(aggSink: Option[Column => Column] = None): (Column, Boolean) = {
      if (aggSink.isDefined && aggNames.contains(peek.toUpperCase) && peekAt(1) == "(") {
        return (aggSink.get(parseAggregate()), true)
      }
      if (valueFns.contains(peek.toUpperCase) && peekAt(1) == "(") {
        return parseCall(aggSink)
      }
      if (peek == "(") {
        // parenthesized sub-expression inside a primary position
        // (grammar [120] BrackettedExpression nests anywhere)
        next()
        val e = parseExpr(aggSink)
        expect(")")
        return (e, false)
      }
      val t = next()
      if (t.startsWith("?")) (col(t.drop(1)), false)
      else if (t.startsWith("\"")) (lit(literalValue(t)), false)
      else if (t.matches("""[-+]?\d+""")) (lit(t.toDouble), true)
      else if (t.matches("""[-+]?\d*\.\d+""")) (lit(t.toDouble), true)
      else if (peek == "(") {
        // IRI-named FunctionCall (grammar [70] / [128]): resolved
        // through the custom-function registry, loud when unknown
        // (the reference's FunctionRegistry.toVE contract)
        val name = constValue(t)
        next()
        val args = Vector.newBuilder[Column]
        if (!peekIs(")")) {
          args += parseExpr(aggSink)
          while (peekIs(",")) { next(); args += parseExpr(aggSink) }
        }
        expect(")")
        val f = FunctionRegistry.lookup(name).getOrElse(
          sys.error(s"unknown function <$name> (register it via " +
            "graft.sparql.FunctionRegistry.add)"))
        (f(args.result()), false)
      }
      else (lit(constValue(t)), false)
    }
    private def parsePrimary(): Column = parsePrimary2()._1
  }
}
