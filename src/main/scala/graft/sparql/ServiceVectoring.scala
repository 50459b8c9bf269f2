package graft.sparql

import org.apache.spark.sql.{DataFrame, functions => F}

/** Vectored federated SERVICE evaluation — the reference's
  * ServiceCallJoin chunking (bigdata-core/.../sparql/ast/eval/
  * ServiceCallJoin.java: upstream solutions flow INTO the service
  * call in chunks rather than the endpoint shipping its whole result
  * set; openrdf federation does the same with bound joins).
  *
  * When a remote SERVICE is joined against solutions already computed
  * in its group, the distinct bindings of the shared variables are
  * injected into the service query as a `VALUES` clause, chunked, so
  * the endpoint evaluates and RETURNS only join-compatible solutions.
  * Pure optimization: SPARQL's bottom-up SERVICE semantics evaluate
  * the group independently and join on shared variables afterwards —
  * constraining the remote evaluation to the keys some local solution
  * carries cannot change that join's result, and the local join still
  * runs (§ the compiler's joinOn), so over-approximate injection is
  * harmless.
  *
  * Scale honesty: the probe collects the DISTINCT shared-variable
  * keys to the driver (capped — `graft.service.vectorMaxKeys`,
  * default 1000, one bounded job). Past the cap, or when a key row
  * carries an unbound/blank-node term a `VALUES` row cannot express,
  * evaluation falls back to the plain unconstrained fetch — exactly
  * the previous behavior. Chunk size (`graft.service.vectorSize`,
  * default 50) bounds each request's `VALUES` block like the
  * reference's vector size.
  */
object ServiceVectoring {

  /** Engine term → one standard SPARQL token (its N-Triples token).
    * None for unbound and blank nodes (illegal in VALUES — and
    * label-scoped, so they cannot transfer anyway). */
  def sparqlToken(t: String): Option[String] =
    Option(t).filterNot(graft.rdf.Lexicon.isBnode).map(graft.rdf.Lexicon.token)

  /** `VALUES (?a ?b) { (ta tb) … }` over pre-rendered token rows. */
  def valuesClause(vars: Seq[String], rows: Seq[Seq[String]]): String =
    vars.map("?" + _).mkString("VALUES (", " ", ") { ") +
      rows.map(_.mkString("(", " ", ")")).mkString(" ") + " }"

  /** Inject a clause at the top of the service group's source text. */
  def inject(groupText: String, clause: String): String = {
    val i = groupText.indexOf('{')
    require(i >= 0, s"service group text without '{': ${groupText.take(40)}")
    groupText.substring(0, i + 1) + " " + clause + " " + groupText.substring(i + 1)
  }

  /** Candidate shared variables = the group text's `?var` tokens (the
    * service's in-scope names; an over-match from a var-shaped string
    * inside a literal only widens the injection, never narrows it). */
  def textVars(groupText: String): Set[String] =
    "\\?([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(groupText).map(_.group(1)).toSet

  /** Variables CERTAINLY bound in every solution of `a` — the sound
    * injection set. A `VALUES ?k { … }` restriction joined at the top
    * of the service group commutes with every group operator whose
    * MANDATORY side binds ?k (LeftJoin/Minus/(Not)Exists restrict
    * through their left input; Filter/Extend see the same ?k value
    * either way; Union needs both branches), so restricting injection
    * to this set removes every scope hazard in one rule:
    *  - OPTIONAL cannot manufacture a (key, unbound) solution — the
    *    key is bound by the mandatory patterns before the OPTIONAL;
    *  - MINUS/EXISTS domain sharing is unchanged — the injected var
    *    was already in the left domain;
    *  - a FILTER referencing a shared var bound only LOCALLY (i.e.
    *    NOT certainly bound remotely) blocks injection of that var,
    *    so the unbound-var-error semantics the bottom-up evaluation
    *    gives it are preserved;
    *  - a BIND target is never certainly bound (its expression may
    *    error to unbound), so injection can never collide with a
    *    BIND'd variable — the strict-endpoint syntax hazard.
    * Conservative by construction: anything unrecognized contributes
    * nothing, and a missing var only means less constraint shipped. */
  def certainlyBound(a: Algebra): Set[String] = a match {
    case Bgp(ps @ _*)       => ps.flatMap(tpVars).toSet
    case BgpFixed(ps)       => ps.flatMap(tpVars).toSet
    case BgpPinned(f, m, l) => (f ++ m ++ l).flatMap(tpVars).toSet
    case Join(l, r)         => certainlyBound(l) ++ certainlyBound(r)
    case SubQuery(l, sub)   => certainlyBound(l) ++ certainlyBound(sub)
    case LeftJoin(l, _)     => certainlyBound(l)
    case Minus(l, _)        => certainlyBound(l)
    case Exists(l, _)       => certainlyBound(l)
    case NotExists(l, _)    => certainlyBound(l)
    case Union(l, r)        => certainlyBound(l) intersect certainlyBound(r)
    case Filter(c, _)       => certainlyBound(c)
    case Extend(c, _, _)    => certainlyBound(c)
    case Values(vars, rows) =>
      vars.zipWithIndex.collect {
        case (v, i) if rows.forall(_(i).isDefined) => v }.toSet
    case Project(c, vs @ _*) => certainlyBound(c) intersect vs.toSet
    case StarProject(c)     => certainlyBound(c).filterNot(_.startsWith("_"))
    case Distinct(c)        => certainlyBound(c)
    case OrderBy(c, _)      => certainlyBound(c)
    case Slice(c, _, _)     => certainlyBound(c)
    case Group(c, keys, _)  => certainlyBound(c) intersect keys.toSet
    case GraphPattern(g, c) =>
      certainlyBound(c) ++ (g match { case Var(n) => Set(n); case _ => Set.empty })
    case PathPlus(_, _, _, sVar, oVar) => Set(sVar, oVar)
    case Path(_, _, _, sVar, oVar)     => Set(sVar, oVar)
    case _ => Set.empty
  }

  private def tpVars(tp: TriplePattern): Seq[String] =
    Seq(tp.s, tp.p, tp.o).collect { case Var(n) => n }

  /** Vectoring applies to a JOINED remote service with source text:
    * never to local registry handlers (they see the store directly). */
  def applies(sc: ServiceCall): Boolean =
    sc.srcText.isDefined &&
      ServiceRegistry.lookup(sc.endpoint).isEmpty &&
      ServiceRegistry.lookupRemote(sc.endpoint).isDefined

  /** Evaluate `left ⋈ SERVICE` with bindings injection; falls back to
    * the unconstrained fetch wherever vectoring cannot apply. SILENT
    * keeps its all-or-nothing contract: any failure (any chunk) →
    * the unit solution, the enclosing join unchanged. */
  def joinVectored(left: DataFrame, sc: ServiceCall,
                   join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = left.sparkSession
    // whitelist policy is checked at every resolution seam — the
    // vectored path dispatches the remote without going through the
    // compiler's ServiceCall case
    ServiceRegistry.checkAllowed(sc.endpoint)
    val remote = ServiceRegistry.lookupRemote(sc.endpoint).get
    val srcText = sc.srcText.get
    def unit = spark.range(1).select()
    // SILENT failure = joining the UNIT solution (the pre-vectoring
    // contract): the enclosing join keeps the left rows unchanged.
    // Only the service evaluation is attempted — never the home join.
    def attempt(f: => DataFrame): DataFrame =
      if (!sc.silent) f
      else try f catch { case scala.util.control.NonFatal(_) => unit }

    // injected vars = shared with the computed side AND certainly
    // bound by the service group's own mandatory patterns (see
    // [[certainlyBound]] — the one rule that covers the OPTIONAL/
    // MINUS/EXISTS scope hazards and the FILTER/BIND locally-bound
    // hazards alike). A subset injection is always sound: it only
    // constrains less, and the home join still runs.
    val sharedVars = left.columns.toSeq.filter(textVars(srcText))
      .filter(certainlyBound(sc.inner))
    if (sharedVars.isEmpty)
      return join(left, attempt(remote(srcText)))

    val maxKeys = spark.conf.getOption("graft.service.vectorMaxKeys")
      .map(_.toInt).getOrElse(1000)
    val chunkSize = spark.conf.getOption("graft.service.vectorSize")
      .map(_.toInt).getOrElse(50)

    // the left side feeds BOTH the key probe and the home join — one
    // materialization, not two evaluations (an expensive upstream
    // would pay twice, and a nondeterministic one could produce keys
    // the joined rows no longer carry)
    val leftM = left.localCheckpoint()
    val service = attempt {
      // ONE bounded probe job: the distinct shared keys (the remote
      // round-trips this replaces cost far more than the probe)
      val keyRows = leftM.select(sharedVars.map(F.col): _*)
        .distinct().limit(maxKeys + 1).collect()
      val tokens: Seq[Option[Seq[String]]] = keyRows.toSeq.map { r =>
        val ts = sharedVars.indices.map(i =>
          sparqlToken(if (r.isNullAt(i)) null else r.get(i).toString))
        if (ts.forall(_.isDefined)) Some(ts.map(_.get)) else None
      }
      if (keyRows.isEmpty) {
        // no local solutions: the join result is empty for inner
        // semantics regardless of the remote — an empty VALUES block
        // makes the endpoint's evaluation trivial too
        remote(inject(srcText, valuesClause(sharedVars, Nil)))
      } else if (keyRows.length > maxKeys || tokens.exists(_.isEmpty)) {
        // too many keys, or an unbound/bnode key VALUES can't say
        remote(srcText)
      } else {
        tokens.flatten.grouped(chunkSize).map { chunk =>
          remote(inject(srcText, valuesClause(sharedVars, chunk)))
        }.reduce(_ unionAll _)
      }
    }
    join(leftM, service)
  }
}
