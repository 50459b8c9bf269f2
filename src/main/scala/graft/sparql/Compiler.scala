package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.plans.{Fixpoint, LocalTier}

/** Compiles the SPARQL algebra to a DataFrame plan.
  *
  * Blazegraph evaluates its AST with a hand-scheduled vectored pipeline
  * (bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/sparql/ast/eval/AST2BOpUtility.java
  * + com.bigdata.bop.join.* hash/pipeline joins, plus ~70 rewrite passes
  * in ast/optimizers/). Here each algebra node maps onto the equivalent
  * *declarative* DataFrame operator and Catalyst does the optimizing:
  * join reorder/CBO ≈ ASTJoinOrderByTypeOptimizer, filter placement ≈
  * ASTAttachJoinFiltersOptimizer, broadcast vs shuffle hash join ≈ the
  * analytic-mode hash join selection.
  */
object Compiler {

  /** Named solution sets in scope during compilation (NamedSubqueryRoot
    * materializations; INCLUDE resolves here). Scoped dynamically so
    * nested compiles see their enclosing query's sets. Entries are
    * memoizing THUNKS: a WITH definition may INCLUDE a sibling defined
    * later in the text (the reference's ASTNamedSubqueryOptimizer
    * orders definitions by dependency), so resolution is lazy and each
    * set still materializes exactly once. */
  private val namedSets =
    new scala.util.DynamicVariable[Map[String, () => DataFrame]](Map.empty)

  /** Run `f` with EXTERNALLY-supplied named solution sets in scope —
    * the reference's SolutionSetManager seam (a named set persisted by
    * `INSERT INTO SOLUTIONS` or created by the harness is visible to
    * `INCLUDE %name` without a WITH definition in the query). */
  def withNamedSolutionSets[T](sets: Map[String, DataFrame])(f: => T): T =
    namedSets.withValue(
      namedSets.value ++ sets.map { case (k, v) => k -> (() => v) })(f)

  /** Variables an algebra CAN bind (approximate, bottom-up; unknown
    * nodes report empty — they are treated as always-bound, which
    * preserves plain equi-join compilation for them). */
  private def varsOf(a: Algebra): Set[String] = a match {
    case Bgp(ps @ _*)        => ps.flatMap(tpVars).toSet
    case BgpFixed(ps)        => ps.flatMap(tpVars).toSet
    case BgpPinned(f, m, l)  => (f ++ m ++ l).flatMap(tpVars).toSet
    case Join(l, r)          => varsOf(l) ++ varsOf(r)
    case LeftJoin(l, r)      => varsOf(l) ++ varsOf(r)
    case Union(l, r)         => varsOf(l) ++ varsOf(r)
    case Minus(l, _)         => varsOf(l)
    case Exists(l, _)        => varsOf(l)
    case NotExists(l, _)     => varsOf(l)
    case Filter(c, _)        => varsOf(c)
    case Extend(c, v, _)     => varsOf(c) + v
    case Values(vs, _)       => vs.toSet
    case Project(_, vs @ _*) => vs.toSet
    case StarProject(c)      => varsOf(c)
    case Distinct(c)         => varsOf(c)
    case OrderBy(c, _)       => varsOf(c)
    case Slice(c, _, _)      => varsOf(c)
    case Group(c, keys, aggs) => keys.toSet ++ aggs.map(_._1)
    case SubQuery(l, sub)    => varsOf(l) ++ varsOf(sub)
    case GraphPattern(g, c)  => varsOf(c) ++ (g match { case Var(v) => Set(v); case _ => Set.empty[String] })
    case DatasetClause(_, _, c) => varsOf(c)
    case VirtualGraphClause(_, _, c) => varsOf(c)
    case NamedSubquery(_, _, c) => varsOf(c)
    case Path(ss, _, oo, sv, ov) =>
      (ss match { case Var(_) => Set(sv); case _ => Set.empty[String] }) ++
        (oo match { case Var(_) => Set(ov); case _ => Set.empty[String] })
    case PathPlus(ss, _, oo, sv, ov) =>
      (ss match { case Var(_) => Set(sv); case _ => Set.empty[String] }) ++
        (oo match { case Var(_) => Set(ov); case _ => Set.empty[String] })
    case _ => Set.empty
  }

  private def tpVars(tp: TriplePattern): Seq[String] =
    Seq(tp.s, tp.p, tp.o).collect { case Var(v) => v }

  /** Variables an algebra may leave UNBOUND in some solution — the
    * constructs that introduce unboundness are OPTIONAL (right-side
    * vars), UNION (branch-asymmetric vars), VALUES UNDEF cells, BIND
    * (an erroring expression yields unbound) and a projection of a
    * never-bound var. Everything else forwards its child's set.
    * Unknown nodes report empty (always-bound), so plans over
    * services/includes keep their existing equi joins. */
  private def maybeUnbound(a: Algebra): Set[String] = a match {
    case LeftJoin(l, r)      => maybeUnbound(l) ++ (varsOf(r) -- varsOf(l)) ++ maybeUnbound(r)
    case Union(l, r)         =>
      maybeUnbound(l) ++ maybeUnbound(r) ++
        ((varsOf(l) union varsOf(r)) -- (varsOf(l) intersect varsOf(r)))
    case Values(vs, rows)    =>
      vs.zipWithIndex.collect { case (v, i) if rows.exists(r => r(i).isEmpty) => v }.toSet
    case Extend(c, v, _)     => maybeUnbound(c) + v
    case Project(c, vs @ _*) => (maybeUnbound(c) ++ (vs.toSet -- varsOf(c))) intersect vs.toSet
    case Join(l, r)          => maybeUnbound(l) ++ maybeUnbound(r)
    case Filter(c, _)        => maybeUnbound(c)
    case StarProject(c)      => maybeUnbound(c)
    case Distinct(c)         => maybeUnbound(c)
    case OrderBy(c, _)       => maybeUnbound(c)
    case Slice(c, _, _)      => maybeUnbound(c)
    case Minus(l, _)         => maybeUnbound(l)
    case Exists(l, _)        => maybeUnbound(l)
    case NotExists(l, _)     => maybeUnbound(l)
    case Group(c, keys, _)   => maybeUnbound(c) intersect keys.toSet
    case SubQuery(l, sub)    => maybeUnbound(l) ++ maybeUnbound(sub)
    case GraphPattern(_, c)  => maybeUnbound(c)
    case DatasetClause(_, _, c) => maybeUnbound(c)
    case VirtualGraphClause(_, _, c) => maybeUnbound(c)
    case NamedSubquery(_, _, c) => maybeUnbound(c)
    case _ => Set.empty
  }

  /** Columns of a MATERIALIZED relation that actually contain a null
    * (= an unbound slot): the exact §8.3-unsafe set for solution
    * relations whose shape is only known at runtime — INCLUDE'd named
    * solution sets and user-registered/remote SERVICE results (both
    * return BINDING SETS; the reference's mock factories do return
    * partial solutions). One aggregate job over an
    * already-materialized (localCheckpoint'd / handler-built, usually
    * driver-sized) relation; all-bound columns — the overwhelmingly
    * common case — keep the plain hash-equi-join hot path, columns
    * with a genuine unbound slot move into the compatibility join. */
  private def nullableCols(df: DataFrame): Set[String] = {
    if (df.columns.isEmpty) return Set.empty
    val probes = df.columns.map(c =>
      max(when(col(c).isNull, 1).otherwise(0)).as(c))
    val row = df.agg(probes.head, probes.tail: _*).head()
    df.columns.zipWithIndex.collect {
      case (c, i) if !row.isNullAt(i) && row.getInt(i) == 1 => c
    }.toSet
  }

  /** Inner join under SPARQL §8.3 COMPATIBILITY: a shared variable
    * that is possibly UNBOUND on either side must not be compared
    * strictly — an unbound slot is compatible with anything and the
    * merged solution takes the bound side's value. Certain-bound
    * shared vars stay EQUI keys (hash-joinable); only the
    * possibly-null ones move into the join filter, and the output
    * coalesces them. With no possibly-null shared var this IS
    * joinOn(_, _, "inner") — the hot path pays nothing. */
  private def joinCompat(lc: DataFrame, rc: DataFrame,
                         unsafeVars: Set[String]): DataFrame = {
    val common = shared(lc, rc)
    val unsafe = common.filter(unsafeVars)
    if (unsafe.isEmpty) return joinOn(lc, rc, "inner")
    val strict = common.filterNot(unsafeVars)
    val rr = rc.columns.foldLeft(rc)((df, n) => df.withColumnRenamed(n, "_r_" + n))
    val conds = strict.map(n => col(n) === col("_r_" + n)) ++
      unsafe.map(n => col(n) === col("_r_" + n) || col(n).isNull || col("_r_" + n).isNull)
    val joined = lc.join(rr, conds.reduceOption(_ && _).getOrElse(lit(true)), "inner")
    val out = lc.columns.map { n =>
      if (unsafe.contains(n)) coalesce(col(n), col("_r_" + n)).as(n) else col(n)
    }.toSeq ++ rc.columns.filterNot(lc.columns.contains).map(n => col("_r_" + n).as(n))
    joined.select(out: _*)
  }

  /** Solution-compatibility join columns = shared variable names. */
  private def shared(l: DataFrame, r: DataFrame): Seq[String] =
    l.columns.toSeq.intersect(r.columns.toSeq)

  private def joinOn(l: DataFrame, r: DataFrame, how: String): DataFrame = {
    val common = shared(l, r)
    if (common.isEmpty) how match {
      case "inner"      => l.crossJoin(r)
      // OPTIONAL w/o shared vars: all right rows attach, but an EMPTY
      // right side must still preserve the left rows (unbound) — a
      // crossJoin would drop them
      case "left_outer" => l.join(r, lit(true), "left_outer")
      // EXISTS/NOT EXISTS with disjoint vars hinge on the right side
      // being (non-)empty — evaluated lazily via a 1-row semi/anti join
      case "left_semi"  => l.join(r.limit(1), lit(true), "left_semi")
      case "left_anti"  => l.join(r.limit(1), lit(true), "left_anti")
      case "minus"      => l // MINUS w/ disjoint domains removes nothing (§8.3)
    } else how match {
      case "minus" => l.join(r.select(common.map(col): _*), common, "left_anti")
      case "left_semi" | "left_anti" => l.join(r.select(common.map(col): _*), common, how)
      case _ => l.join(r, common, how)
    }
  }

  private def compilePattern(tp: TriplePattern, src: TripleSource): DataFrame = {
    val cols = Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o)
    // access-path selection (constant positions applied) is the source's
    val filtered = src.scan(tp)
    // same var twice in one pattern → equality constraint
    val varCols = cols.collect { case (c, Var(n)) => (c, n) }
    val eq = varCols.groupBy(_._2).values.filter(_.size > 1).foldLeft(filtered) {
      case (df, dups) => df.filter(col(dups.head._1) === col(dups(1)._1))
    }
    val proj = varCols.map(_._1).distinct.map { c =>
      col(c).as(varCols.find(_._1 == c).get._2)
    }
    eq.select(proj: _*)
  }

  /** Closure cap for the driver tier: a chain-heavy graph can blow the
    * O(V·reach) pair set past driver comfort even when the EDGE list
    * fit the tier budget — the tier bails to the distributed loop at this
    * many pairs (which owns the same blow-up with spill machinery). */
  private val LocalTcMaxPairs = 5000000

  /** Transitive closure of a binary step relation (from, to) by
    * frontier fixpoint: each iteration joins only the delta frontier
    * against the step edges (not closure × step), dedups against the
    * accumulated closure, and localCheckpoints to truncate lineage —
    * the iteration pattern that survives 100-TB edge sets (on a real
    * cluster, swap localCheckpoint for reliable checkpoint).
    * Semantics of ArbitraryLengthPathNode with lowerBound=1. */
  def transitiveClosure(stepIn: DataFrame, maxIters: Int = 64): DataFrame = {
    val step = stepIn.select("from", "to").distinct().localCheckpoint()
    // small-input tier ([[graft.plans.LocalTier]]): the fixpoint costs
    // ~4 driver-blocking jobs per round at any data size; below the
    // path budget the identical reachability set computes driver-side
    // (LocalTier.closure: one BFS per source over the distinct edge
    // set = exactly the converged closure) and lands as a LocalRelation.
    for (es <- LocalTier.strings(step, LocalTier.Path, 2)) {
      val pairs = LocalTier.closure(es.toSeq.map(e => (e(0), e(1))))
        .take(LocalTcMaxPairs + 1).toVector
      if (pairs.size <= LocalTcMaxPairs) {
        val spark = stepIn.sparkSession
        import spark.implicits._
        return pairs.toDF("from", "to")
      }
    }
    var closure = step
    var frontier = closure
    // depth ≤ LinearRounds runs the delta-cheap frontier∘step loop
    // (per-round cost keyed by the NEW pairs — the shape that survives
    // wide 100-TB edge sets); a graph still growing past that depth is
    // chain-like, and the loop SWITCHES to path DOUBLING
    // (closure∘closure: reachable path length doubles per round, so a
    // depth-D chain converges in ~log₂D more rounds instead of D —
    // a deep hierarchy asserted in one batch used to fail the cap).
    // Silent truncation would return a WRONG (partial) closure — the
    // semantics of `+`/transitive rules admit no iteration cap — so the
    // cap fails loudly.
    val LinearRounds = 16
    Fixpoint.converge("path.closure", maxIters) { i =>
      val grown =
        if (i <= LinearRounds)
          frontier.join(
              step.withColumnRenamed("from", "_m").withColumnRenamed("to", "_t"),
              frontier("to") === col("_m"))
            .select(col("from"), col("_t").as("to")).distinct()
        else
          closure.as("l").join(closure.as("r"), col("l.to") === col("r.from"))
            .select(col("l.from").as("from"), col("r.to").as("to")).distinct()
      val (delta, n) = Fixpoint.materialize(grown.join(closure, Seq("from", "to"), "left_anti"))
      // accumulator checkpointed every round: it feeds the next
      // round's anti-join (and doubling rounds read it three times),
      // so a lazy union is re-evaluated immediately — the r18
      // every-2nd-round variant measured the same job count
      if (n > 0) { closure = closure.unionAll(delta).localCheckpoint(); frontier = delta }
      n > 0
    }
    closure
  }

  /** Nodes reachable in ≥1 step from `seeds` (column `node`) — forward
    * along (from→to) when `forward`, else the nodes that REACH the
    * seeds. Same frontier-delta fixpoint as [[transitiveClosure]], but
    * the state is one node set, never the O(V²) closure: the plan for a
    * path query with a bound endpoint (ArbitraryLengthPathNode with a
    * constant term — reference ast/ArbitraryLengthPathNode.java
    * evaluates from the bound side for exactly this reason). */
  def reachFrom(stepIn: DataFrame, seeds: DataFrame, forward: Boolean): DataFrame = {
    val step = stepIn.select("from", "to").distinct().localCheckpoint()
    // driver tier (see transitiveClosure): state is one node set, so
    // no pair-count overflow is possible — the only bail-outs are the
    // edge and seed probes themselves
    for (es <- LocalTier.strings(step, LocalTier.Path, 2);
         seedRows <- LocalTier.probe(seeds.select("node"), LocalTier.Path)) {
      val (k, v) = if (forward) (0, 1) else (1, 0)
      val adj = es.groupBy(_(k)).map { case (n, vs) => n -> vs.toSeq.map(_(v)) }
      val spark = stepIn.sparkSession
      import spark.implicits._
      return LocalTier.reach(adj, seedRows.map(_.getString(0))).toSeq.toDF("node")
    }
    val (key, out) = if (forward) ("from", "to") else ("to", "from")
    var (visited, reached) = Fixpoint.materialize(step.join(seeds, step(key) === seeds("node"))
      .select(col(out).as("node")).distinct())
    var frontier = visited
    // no cap: the visited set only grows and is bounded by the node
    // count, so the walk ends on its own, as the driver tier's does
    if (reached > 0) Fixpoint.converge("path.reach", Int.MaxValue) { _ =>
      val grown = step.join(frontier, step(key) === frontier("node"))
        .select(col(out).as("node")).distinct()
      val (delta, n) = Fixpoint.materialize(grown.join(visited, Seq("node"), "left_anti"))
      if (n > 0) { visited = visited.unionAll(delta).localCheckpoint(); frontier = delta }
      n > 0
    }
    visited
  }

  def compile(a: Algebra, triples: DataFrame): DataFrame =
    compile(a, TripleSource.plain(triples))

  def compile(a: Algebra, src: TripleSource): DataFrame = a match {
    case Bgp(patterns @ _*) =>
      // range typing: a var used as the object of a reference predicate
      // can only be a subject of that predicate's target table
      val constraints: Map[String, Set[String]] = patterns
        .collect { case TriplePattern(_, Const(p), Var(v)) =>
          src.refTarget(p).map(t => v -> t)
        }.flatten
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // star fusion: group patterns by subject term; each fully-bound
      // group may compile to a single property-table scan
      val groups = patterns.groupBy(_.s).values.toSeq
        .sortBy(g => patterns.indexOf(g.head)) // deterministic join order
      val dfs = groups.flatMap { g =>
        val tables = g.head.s match {
          case Var(v) => constraints.get(v)
          case _      => None
        }
        src.fuseStar(g, tables) match {
          case Some(df) => Seq(df)
          case None     => g.map(compilePattern(_, src))
        }
      }
      // join order: connectivity-greedy — prefer an operand sharing a
      // variable with the accumulated solution; a cartesian product
      // only when the pattern graph is genuinely disconnected
      // (ASTJoinOrderByTypeOptimizer analog)
      val rem = scala.collection.mutable.ArrayBuffer(dfs: _*)
      var acc = rem.remove(0)
      var accCols = acc.columns.toSet
      while (rem.nonEmpty) {
        val i = rem.indexWhere(_.columns.exists(accCols.contains))
        val pick = rem.remove(math.max(i, 0))
        accCols ++= pick.columns
        acc = joinOn(acc, pick, "inner")
      }
      acc
    case BgpFixed(patterns) =>
      // hint:optimizer "None": join exactly in textual order — no
      // greedy reorder, no star fusion (QueryOptimizerEnum.None; the
      // reference likewise skips ASTJoinOrderByTypeOptimizer)
      patterns.map(compilePattern(_, src)).reduceLeft(joinOn(_, _, "inner"))
    case BgpPinned(first, mid, last) =>
      // hint:runFirst/runLast: the pinned patterns lead/trail in
      // textual order; the unhinted middle keeps the full Bgp
      // treatment (star fusion + greedy reorder) and joins as one
      // block between them
      val lead = first.map(compilePattern(_, src))
      val midDf = if (mid.isEmpty) Nil else Seq(compile(Bgp(mid: _*), src))
      val tail = last.map(compilePattern(_, src))
      (lead ++ midDf ++ tail).reduceLeft(joinOn(_, _, "inner"))
    case ns: NamedSubquery =>
      // the full consecutive WITH chain compiles as ONE scope, so a
      // definition can INCLUDE a sibling defined LATER in the text
      // (the reference's ASTNamedSubqueryOptimizer computes a
      // dependency order; ticket bg1763b is exactly this shape).
      // Each set still evaluates ONCE — lazily on first INCLUDE,
      // localCheckpoint-materialized so N INCLUDEs never re-run the
      // sub-plan (the reference builds a hash-indexed solution set
      // the same way; on a cluster this is a reliable checkpoint).
      // A circular INCLUDE chain fails loud instead of recursing.
      val defs = scala.collection.mutable.ListBuffer.empty[(String, Algebra)]
      var body: Algebra = ns
      while (body.isInstanceOf[NamedSubquery]) {
        val n = body.asInstanceOf[NamedSubquery]
        defs += ((n.name, n.sub)); body = n.child
      }
      val memo = scala.collection.mutable.Map.empty[String, DataFrame]
      val inProgress = scala.collection.mutable.Set.empty[String]
      lazy val env: Map[String, () => DataFrame] =
        namedSets.value ++ defs.map { case (n, sub) =>
          n -> (() => memo.getOrElseUpdate(n, {
            require(inProgress.add(n),
              s"INCLUDE %$n: circular named-subquery reference")
            try namedSets.withValue(env)(compile(sub, src).localCheckpoint())
            finally inProgress.remove(n)
          }))
        }
      namedSets.withValue(env)(compile(body, src))
    case NamedInclude(name) =>
      namedSets.value.getOrElse(name,
        sys.error(s"INCLUDE %$name: no such named subquery in scope"))()
    // SERVICE ?endpoint { … }: dispatch per distinct binding of the
    // endpoint variable from the computed side (ServiceCallJoin.java:227
    // — the serviceRef is an IVariableOrConstant, resolved per binding).
    // These MUST precede the Values fast-path cases: a `VALUES ?ep …
    // SERVICE ?ep { … }` group is Join(Values, ServiceCallVar), and the
    // Values case would compile the service side bare (= unbound-loud).
    case Join(l, sc: ServiceCallVar) => serviceVarJoin(compile(l, src), sc, src)
    case Join(sc: ServiceCallVar, r) => serviceVarJoin(compile(r, src), sc, src)
    // OPTIONAL { SERVICE ?ep { … } }: same per-binding dispatch, left
    // rows survive an endpoint with no solutions
    case LeftJoin(l, sc: ServiceCallVar) =>
      serviceVarJoin(compile(l, src), sc, src, "left_outer")
    case Join(l, v: Values) => valuesJoin(compile(l, src), v)
    case Join(v: Values, r) => valuesJoin(compile(r, src), v)
    // INCLUDE joined in its group: a named solution set is BINDING
    // SETS — a slot can be unbound (the reference's SolutionSetHash
    // JoinOp joins with compatibility). Set columns are only known at
    // runtime (the set is external or a WITH materialization), hence
    // the special case; [[nullableCols]] keeps all-bound columns —
    // the common case — on the hash-equi-join hot path.
    case Join(l, ni: NamedInclude) =>
      val set = compile(ni, src)
      joinCompat(compile(l, src), set, maybeUnbound(l) ++ nullableCols(set))
    case Join(ni: NamedInclude, r) =>
      val set = compile(ni, src)
      joinCompat(set, compile(r, src), maybeUnbound(r) ++ nullableCols(set))
    // `hint:Prior hint:runLast` on a SERVICE fts:search group whose
    // search term is a VARIABLE: the service evaluates AFTER the rest
    // of the group, once per distinct term binding (the reference's
    // FulltextSearchServiceFactory multi-request form — one external
    // request per solution). Without the hint the service compiles
    // standalone and the variable term stays a loud error, matching
    // the reference's evaluation order.
    case Join(l, sc: ServiceCall)
        if sc.runLast && FtsService.varSearchTerm(sc.inner).isDefined =>
      ftsInjectJoin(compile(l, src), sc, src)
    case Join(sc: ServiceCall, r)
        if sc.runLast && FtsService.varSearchTerm(sc.inner).isDefined =>
      ftsInjectJoin(compile(r, src), sc, src)
    // a REMOTE service joined in its group evaluates VECTORED: the
    // computed side's shared-variable keys inject into the service
    // query as chunked VALUES (ServiceCallJoin's bound join), so the
    // endpoint only returns join-compatible solutions; local-handler
    // services and keyless/overflow shapes keep the plain path
    case Join(l, sc: ServiceCall) if ServiceVectoring.applies(sc) =>
      ServiceVectoring.joinVectored(compile(l, src), sc, joinOn(_, _, "inner"))
    case Join(sc: ServiceCall, r) if ServiceVectoring.applies(sc) =>
      ServiceVectoring.joinVectored(compile(r, src), sc, joinOn(_, _, "inner"))
    // a USER-REGISTERED service joined in its group returns BINDING
    // SETS — a solution can leave a variable unbound (the reference's
    // OpenrdfNativeMockServiceFactory does exactly that), and an
    // unbound slot is §8.3-compatible with every join partner.
    // [[nullableCols]] probes the handler's (driver-built) result so
    // all-bound results — every built-in magic service and the common
    // user handler — keep the plain equi join.
    case Join(l, sc: ServiceCall) if !BuiltinServices.names(sc.endpoint) =>
      val svc = compile(sc, src)
      joinCompat(compile(l, src), svc, maybeUnbound(l) ++ nullableCols(svc))
    case Join(sc: ServiceCall, r) if !BuiltinServices.names(sc.endpoint) =>
      val svc = compile(sc, src)
      joinCompat(svc, compile(r, src), maybeUnbound(r) ++ nullableCols(svc))
    // JOIN distributes over UNION (relational identity): compiling
    // each branch's join separately keeps every join an EQUI join on
    // genuinely-bound vars — joining against the union's PADDED
    // schema would compare nulls strictly and drop solutions an
    // unbound var must stay compatible with (§8.3 compatibility)
    case Join(l, Union(a, b)) =>
      // the distributed side evaluates TWICE (once per branch) — pin
      // it so a nondeterministic subplan (LIMIT without ORDER) cannot
      // diverge between the branches
      val lc = compile(l, src).localCheckpoint()
      joinOn(lc, compile(a, src), "inner")
        .unionByName(joinOn(lc, compile(b, src), "inner"), allowMissingColumns = true)
    case Join(Union(a, b), r) =>
      val rc = compile(r, src).localCheckpoint()
      joinOn(compile(a, src), rc, "inner")
        .unionByName(joinOn(compile(b, src), rc, "inner"), allowMissingColumns = true)
    case Join(l, r) =>
      joinCompat(compile(l, src), compile(r, src), maybeUnbound(l) ++ maybeUnbound(r))
    case LeftJoin(l, Filter(r, cond)) =>
      // OPTIONAL { … FILTER(e) }: if e only sees the optional group's
      // vars it's an ordinary inner filter; if it references OUTER vars
      // it is part of the left-join CONDITION (SPARQL §6.2 LeftJoin
      // expression — ASTAttachJoinFiltersOptimizer analog)
      val lc = compile(l, src)
      val rc = compile(r, src)
      // vars in scope for the LeftJoin expression are left ∪ right
      // (§6.2); anything else is unbound → null (type error per row)
      val cond1 = nullifyMissing(lc.sparkSession,
        lc.columns.toSet ++ rc.columns.toSet, cond)
      val refs = attrNames(lc.sparkSession, cond1)
      if (refs.subsetOf(rc.columns.toSet))
        joinOn(lc, rc.filter(asCondition(rc, cond1)), "left_outer")
      else leftJoinWithCond(lc, rc, cond1)
    case LeftJoin(l, r)  => joinOn(compile(l, src), compile(r, src), "left_outer")
    case Exists(l, Filter(r, cond)) =>
      existsJoinWithCond(compile(l, src), compile(r, src), cond, src, anti = false)
    case NotExists(l, Filter(r, cond)) =>
      existsJoinWithCond(compile(l, src), compile(r, src), cond, src, anti = true)
    case Exists(l, r)    => joinOn(compile(l, src), compile(r, src), "left_semi")
    case NotExists(l, r) => joinOn(compile(l, src), compile(r, src), "left_anti")
    case Minus(l, r)     => joinOn(compile(l, src), compile(r, src), "minus")
    case Union(l, r) =>
      compile(l, src).unionByName(compile(r, src), allowMissingColumns = true)
    case Filter(c, cond) =>
      val d = compile(c, src)
      d.filter(asCondition(d, nullifyMissing(d.sparkSession, d.columns.toSet, cond)))
    case Extend(c, v, e) =>
      val d = compile(c, src)
      d.withColumn(v, nullifyMissing(d.sparkSession, d.columns.toSet, e))
    case Project(c, vars @ _*) =>
      // a projected variable no pattern binds is UNBOUND in every
      // solution (§18.2.4.4), not an analysis error
      val d = compile(c, src)
      val have = d.columns.toSet
      d.select(vars.map(v =>
        if (have(v)) col(v) else lit(null).cast("string").as(v)): _*)
    case StarProject(c) =>
      // SELECT *: named vars only — parser-synthesized `_`-prefixed
      // columns (anonymous bnodes, path endpoints, sids) are not
      // projectable solution variables
      val df = compile(c, src)
      val named = df.columns.filterNot(_.startsWith("_"))
      if (named.length == df.columns.length) df else df.select(named.map(col).toSeq: _*)
    case Distinct(c)          => compile(c, src).distinct()
    case OrderBy(c, keys) =>
      val d = compile(c, src)
      d.orderBy(keys.map(nullifyMissing(d.sparkSession, d.columns.toSet, _)): _*)
    case Slice(c, off, lim) =>
      val d = compile(c, src)
      val shifted = if (off > 0) d.offset(off.toInt) else d
      if (lim >= Int.MaxValue) shifted else shifted.limit(lim.toInt)
    case Group(c, keys, aggs) =>
      val d = compile(c, src)
      val aggCols = aggs.map { case (n, e) => e.as(n) }
      if (aggs.isEmpty) d.select(keys.map(col): _*).distinct()
      else if (keys.isEmpty) d.agg(aggCols.head, aggCols.tail: _*)
      else d.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    case SubQuery(l, sub) =>
      joinCompat(compile(l, src), compile(sub, src), maybeUnbound(l) ++ maybeUnbound(sub))
    case Values(vars, rows) =>
      val spark = src.triples.sparkSession
      val schema = StructType(vars.map(StructField(_, StringType, nullable = true)))
      val data = rows.map(r => org.apache.spark.sql.Row(r.map(_.orNull): _*))
      // LocalRelation (no RDD round-trip): inline data stays on the
      // driver plan side and broadcast-joins like a VALUES clause should
      spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    case PathPlus(s, preds, o, sVar, oVar) => // sugar for the general form
      compile(Path(s, PathPlusE(preds.map(PathPred).reduceLeft[PathExpr](PathAlt(_, _))),
        o, sVar, oVar), src)

    case Path(s, pe, o, sVar, oVar) => compilePath(s, pe, o, sVar, oVar, src)

    case Ask(child) =>
      val d = compile(child, src)
      // ASK is inherently eager: existence of ≥1 solution
      d.sparkSession.range(1).select(lit(!d.isEmpty).as("ask"))

    case Construct(template, child) =>
      val sol = compile(child, src)
      def t2c(t: Term, n: String): Column = t match {
        case Var(v)   => col(v).cast("string").as(n)
        case Const(v) => lit(v).as(n)
      }
      template.map { tp =>
        sol.select(t2c(tp.s, "s"), t2c(tp.p, "p"), t2c(tp.o, "o"))
          // a template triple with an unbound position is silently
          // skipped (SPARQL 1.1 §16.2.1)
          .na.drop()
      }.reduce(_ unionAll _).distinct()

    case Describe(t) =>
      src.scan(TriplePattern(Const(t), Var("p"), Var("o")))

    case DescribeWhere(v, child) =>
      val nodes = compile(child, src).select(col(v).as("s")).distinct()
      src.scanForSubjects(nodes)

    case GraphPattern(gTerm, child) => gTerm match {
      case Const(_) =>
        // constant graph: scope every pattern scan to that graph.
        // bds:search stays STORE-WIDE inside a GRAPH block (the
        // reference's text index is store-level — the same contract
        // the DatasetClause scoping below applies), so the search
        // corpus, its analyzer and its persisted index forward; the
        // LITERAL-space index does NOT (bds:searchInSearch's literal
        // space is the graph's own, pinned by spec).
        val scoped = new TripleSource {
          lazy val triples: DataFrame =
            src.quadScan(TriplePattern(Var("s"), Var("p"), Var("o")), gTerm)
              .select("s", "p", "o")
          override def scan(tp: TriplePattern): DataFrame =
            src.quadScan(tp, gTerm).select("s", "p", "o")
          override def searchCorpus: Option[DataFrame] = src.searchCorpus
          override def defaultAnalyzer: Option[String] = src.defaultAnalyzer
          override def searchIndex: Option[graft.search.SearchIndexView] =
            src.searchIndex
          // a NESTED GraphPattern re-scopes against the DATASET's
          // named graphs (§13.3), not the enclosing block
          override def quads: Option[DataFrame] = src.quads
          override def quadScan(tp: TriplePattern, g: Term): DataFrame =
            src.quadScan(tp, g)
          def fuseStar(patterns: Seq[TriplePattern],
                       subjectTables: Option[Set[String]]): Option[DataFrame] = None
        }
        // GRAPH <g> { } (an empty/graph-independent group) matches
        // only when the dataset HAS that named graph (§13.3 — the
        // pattern evaluates once per EXISTING named graph): solutions
        // semi-join the graph-name catalog
        val compiled = compile(child, scoped)
        if (child == Values(Nil, Seq(Nil))) {
          val g = gTerm.asInstanceOf[Const].value
          val q = src.quads.getOrElse(sys.error("GRAPH needs a quads source"))
          compiled.join(q.filter(col("g") === g).limit(1), lit(true), "left_semi")
        } else compiled
      case v: Var => compileGraphVar(v.name, child, src)
    }

    case VirtualGraphClause(vgDefaults, vgNamed, child) =>
      // membership is DATA (`<vg> bd:virtualGraph <g>`): resolve the
      // member lists (graph-catalog-sized by nature) and evaluate as
      // the expanded dataset clause
      val members: String => Seq[String] = vg =>
        src.triples
          .filter(col("s") === vg &&
            col("p") === "http://www.bigdata.com/rdf#virtualGraph")
          .select("o").collect().map(_.getString(0)).toSeq
      compile(DatasetClause(vgDefaults.flatMap(members),
        vgNamed.flatMap(members), child), src)
    case DatasetClause(defaults, named, child) =>
      // dataset scoping wraps the source: default-graph patterns scan
      // the FROM graphs' merge, GRAPH patterns see only FROM NAMED
      val scoped = new TripleSource {
        private def merged(tp: TriplePattern): DataFrame =
          defaults.map(g => src.quadScan(tp, Const(g)).select("s", "p", "o"))
            .reduceOption(_ unionAll _)
            .getOrElse(src.triples.limit(0)) // dataset given, no FROM → empty default graph
        lazy val triples: DataFrame = merged(TriplePattern(Var("s"), Var("p"), Var("o")))
        override def scan(tp: TriplePattern): DataFrame = merged(tp)
        // the named-graph VIEW is dataset-restricted exactly like
        // quadScan — graph-key catalogs (GRAPH ?g over a search, a
        // VALUES block, graph existence tests) must not see graphs
        // outside FROM NAMED
        override def quads: Option[DataFrame] = src.quads.map { q =>
          if (named.isEmpty) q.limit(0) else q.filter(col("g").isin(named: _*))
        }
        override def quadScan(tp: TriplePattern, g: Term): DataFrame = {
          // §13.2 (and Update §3.1.3 for USING): with a dataset clause
          // present, the named-graph set is EXACTLY the FROM NAMED /
          // USING NAMED graphs — when none are given it is EMPTY and
          // GRAPH patterns match nothing; they never fall back to all
          // graphs of the underlying store.
          val base = src.quadScan(tp, g)
          if (named.isEmpty) base.limit(0)
          else base.filter(col("g").isin(named: _*))
        }
        override def searchCorpus: Option[DataFrame] = src.searchCorpus
        override def defaultAnalyzer: Option[String] = src.defaultAnalyzer
        def fuseStar(patterns: Seq[TriplePattern],
                     subjectTables: Option[Set[String]]): Option[DataFrame] = None
      }
      compile(child, scoped)

    case GasService(config, outNode, outVal) =>
      val conf = config.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val preds = conf.getOrElse("linkType", Nil)
      require(preds.nonEmpty, "gas:service needs >=1 gas:linkType")
      val reverse = conf.get("traversalDirection").exists(_.head.equalsIgnoreCase("Reverse"))
      val e0 = preds
        .map(p => src.scan(TriplePattern(Var("s"), Const(p), Var("o"))))
        .reduce(_ unionAll _)
      val edges =
        if (reverse) e0.select(col("o").as("src"), col("s").as("dst"))
        else e0.select(col("s").as("src"), col("o").as("dst"))
      import graft.gas.Analytics
      // gas:maxIterations caps the fixpoint/iteration count
      // (GASService.java Options.MAX_ITERATIONS analog)
      val maxIt = conf.get("maxIterations").map(_.head.toInt)
      conf("gasClass").head.toLowerCase match {
        case "bfs" =>
          Analytics.bfs(edges, conf("in").head, maxIt.getOrElse(32))
            .select(col("node").as(outNode), col("depth").as(outVal))
        case "cc" =>
          Analytics.connectedComponents(edges, maxIt.getOrElse(64))
            .select(col("node").as(outNode), col("label").as(outVal))
        case "sssp" =>
          // WEIGHTED when gas:linkAttrType names the RDR statement-
          // annotation predicate carrying the link weight — the
          // reference's link-attribute seam (GASService Options
          // .LINK_ATTR_TYPE: SSSP over link weights reads the
          // attribute values of the link statements). In sids mode a
          // link's attributes hang off its statement id, so the edge
          // relation joins `<<s p o>> linkAttr ?w` on the computed
          // sid; only attributed links are traversable (the
          // reference's weighted SSSP visits link-attribute
          // statements, not bare links). Default stays unit weights.
          val edgesW = conf.get("linkAttrType").map(_.head) match {
            case Some(wp) =>
              val eP = preds
                .map(p => src.scan(TriplePattern(Var("s"), Const(p), Var("o")))
                  .select(col("s"), lit(p).as("p"), col("o")))
                .reduce(_ unionAll _)
              val ann = src.scan(TriplePattern(Var("x"), Const(wp), Var("w")))
                .select(col("s").as("_sid"),
                  RdfLiteral.strOf(col("o")).cast("double").as("weight"))
              val withW = eP
                .withColumn("_sid", graft.rdf.Rdr.sid(col("s"), col("p"), col("o")))
                .join(ann, "_sid")
              if (reverse) withW.select(col("o").as("src"), col("s").as("dst"), col("weight"))
              else withW.select(col("s").as("src"), col("o").as("dst"), col("weight"))
            case None => edges.withColumn("weight", lit(1.0))
          }
          Analytics.sssp(edgesW, conf("in").head, maxIt.getOrElse(64))
            .select(col("node").as(outNode), col("dist").as(outVal))
        case "pr" =>
          Analytics.pageRank(edges, maxIt.getOrElse(10))
            .select(col("node").as(outNode), col("rank").as(outVal))
        case other =>
          // any REGISTERED custom program is accepted, the IGASProgram
          // contract (GASService.java:153 instantiates whatever class
          // gas:gasClass names; graft.gas.GasPrograms is that registry)
          graft.gas.GasPrograms.lookup(other) match {
            case Some(prog) =>
              prog(edges, conf).select(col("node").as(outNode), col("value").as(outVal))
            case None => sys.error(s"unsupported gas:gasClass $other — " +
              "register a custom program with graft.gas.GasPrograms.register " +
              "(the reference's IGASProgram seam)")
          }
      }

    case SearchService(terms, limit, prefix, matchAll, outDoc, outScore,
                       regex, minScore, maxRank, analyzerName,
                       maxScore, minRank, matchExact, outRank, rangeCountVar) =>
      val az = analyzerName.orElse(src.defaultAnalyzer)
        .map(graft.search.Analyzer.byName(_))
        .getOrElse(graft.search.Analyzer.Latin())
      // the query string re-tokenizes through the SAME analyzer the
      // index uses (e.g. 数据库 → [数据, 据库]) — whitespace splitting
      // alone would never match a bigram index
      val qTerms = terms.flatMap(az.tokenizeLocal)
      // MATCH_EXACT tests EVERY original query string against the
      // doc text (BigdataValueCentricFullTextIndex.matchExact
      // contains() per query; with several bds:query literals each
      // must appear verbatim)
      val exact = if (matchExact) terms else Nil
      // persisted-index fast path (the reference's FullTextIndex IS a
      // persisted index): when the source keeps postings built with
      // THIS query's analyzer, the plan is an index scan + broadcast
      // semi-join — no corpus tokenize stage. An analyzer mismatch
      // (or matchExact over opaque doc ids, which needs the corpus
      // text) falls back to the corpus path rather than consulting
      // postings tokenized differently.
      val hits = src.searchIndex match {
        case Some(ix)
          if graft.search.Analyzer.byName(ix.analyzer) == az &&
            (exact.isEmpty || ix.termDocIds) =>
          graft.search.FullText.searchIndex(
            ix.postings, ix.nDocs, qTerms, limit, prefix, matchAll, regex,
            minScore, maxRank, maxScore, minRank, exact,
            exactTextOf = if (ix.termDocIds) Some(RdfLiteral.strOf) else None)
        case _ =>
          val corpus = src.searchCorpus
            .getOrElse(sys.error("this triple source has no search corpus"))
          graft.search.FullText
            .search(corpus, qTerms, limit, prefix, matchAll, regex, minScore,
              maxRank, az, maxScore, minRank, exact)
      }
      rangeCountVar match {
        // bds:rangeCount: ONE row binding the hit count INSTEAD of
        // hits (SearchServiceFactory.java:649) — an aggregate over
        // the same option-filtered hit relation
        case Some(rc) => hits.agg(count(lit(1)).as(rc))
        case None =>
          val base = hits
            .select(col("doc_id").as(outDoc), col("score").as(outScore))
          outRank.fold(base) { rv =>
            // bds:rank binds the hit's 1-based rank (score desc,
            // doc_id asc — the reference Hit rank order). The window
            // is unpartitioned BY DESIGN here: it runs over the
            // search's OWN output, which is either top-k-bounded or
            // a query-selective hit set — never a corpus-sized
            // relation
            import org.apache.spark.sql.expressions.Window
            base.withColumn(rv, row_number().over(
              Window.orderBy(col(outScore).desc, col(outDoc))))
          }
      }

    case ServiceCallVar(v, _, _, _) =>
      // bare variable-endpoint SERVICE (nothing in the group binds it)
      // — loud, like the reference: ServiceCallJoin throws when the
      // serviceRef variable is unbound in the incoming binding set
      sys.error(s"SERVICE ?$v: the endpoint variable is not bound by the " +
        "enclosing group; bind it (VALUES, a catalog pattern, …) before " +
        "the SERVICE group")

    case ServiceCall(endpoint, inner, silent, srcText, _) =>
      // SERVICE SILENT failure = the unit solution (§13.2): a single
      // empty binding, so the enclosing join is unchanged — covering
      // BOTH an unregistered endpoint and a handler that fails while
      // building its plan
      def unit = src.triples.sparkSession.range(1).select()
      def attempt(f: => DataFrame): DataFrame =
        if (!silent) f
        else try f catch { case scala.util.control.NonFatal(_) => unit }
      // policy check OUTSIDE attempt: a whitelist refusal stays loud
      // under SILENT (SILENT masks evaluation failures, not policy)
      ServiceRegistry.checkAllowed(endpoint)
      ServiceRegistry.lookup(endpoint) match {
        case Some(handler) => attempt(handler(inner, src))
        case None => ServiceRegistry.lookupRemote(endpoint) match {
          case Some(remote) => attempt(remote(srcText.getOrElse(
            sys.error("remote SERVICE needs the group's source text — " +
              "hand-built ASTs cannot be serialized to an endpoint"))))
          case None if silent => unit
          case None =>
            sys.error(s"no service registered for <$endpoint> " +
              "(a remote deployment registers a RemoteHandler here)")
        }
      }

    case GeoService(latMin, latMax, lonMin, lonMax, outK, outLat, outLon, None, _) =>
      val pts = src.geoCorpus
        .getOrElse(sys.error("this triple source has no geo corpus"))
      graft.operators.Geo.bboxSearch(pts, latMin, latMax, lonMin, lonMax)
        .select(col("k").as(outK), col("lat").as(outLat), col("lon").as(outLon))

    case GeoService(latMin, latMax, lonMin, lonMax, outK, outLat, outLon,
                    Some((t0, t1)), outT) =>
      // lat-lon-TIME datatype: 3D z-cells prune the (bbox × interval)
      // block, exact predicate verifies, time value bound as a var
      val (pts, tMin, tMax) = src.geoCorpusTime
        .getOrElse(sys.error("this triple source has no lat-lon-time geo corpus"))
      graft.operators.Geo
        .spatioTemporalSearch(pts, latMin, latMax, lonMin, lonMax, t0, t1, tMin, tMax)
        .select(col("k").as(outK), col("lat").as(outLat),
          col("lon").as(outLon), col("t").as(outT))

    case GeoCircle(lat, lon, radiusKm, outK, outLat, outLon, outDist) =>
      val pts = src.geoCorpus
        .getOrElse(sys.error("this triple source has no geo corpus"))
      graft.operators.Geo.circleSearch(pts, lat, lon, radiusKm)
        .select(col("k").as(outK), col("lat").as(outLat),
          col("lon").as(outLon), col("dist_km").as(outDist))
  }

  /** SERVICE ?endpoint { … } joined with its enclosing group: the
    * distinct endpoint values come off the computed side (a
    * driver-side collect BOUNDED by `graft.service.varEndpointMax` —
    * the endpoint set is catalog-sized by nature, VoID catalogs and
    * VALUES lists, so a corpus-sized set is a query bug refused
    * loudly, never one service call per solution row); each endpoint
    * evaluates through the SAME [[ServiceCall]] path as the constant
    * form (registry lookup, remote transport, SILENT-unit per
    * endpoint), the branches union tagged with the endpoint value,
    * and the join keys on the endpoint variable plus shared vars. */
  private def serviceVarJoin(lcIn: DataFrame, sc: ServiceCallVar,
                             src: TripleSource,
                             how: String = "inner"): DataFrame = {
    val v = sc.endpointVar
    require(lcIn.columns.contains(v),
      s"SERVICE ?$v: the endpoint variable is not bound by the enclosing " +
        "group (the reference's ServiceCallJoin throws on an unbound " +
        "serviceRef); bind it with VALUES or a catalog pattern")
    // one materialization: the left side feeds the endpoint probe,
    // every per-endpoint branch filter AND the unbound-row union — an
    // expensive upstream must not pay per endpoint, and a
    // nondeterministic one could otherwise dispatch to endpoints its
    // joined rows no longer carry (the joinVectored discipline)
    val lc = lcIn.localCheckpoint()
    val maxEp = lc.sparkSession.conf
      .get("graft.service.varEndpointMax", "64").toInt
    val eps = lc.select(col(v).cast("string")).filter(col(v).isNotNull)
      .distinct().limit(maxEp + 1).collect().map(_.getString(0)).toSeq
    require(eps.size <= maxEp,
      s"SERVICE ?$v: more than $maxEp distinct endpoint bindings — a " +
        "variable SERVICE dispatches one call per endpoint, so a " +
        "corpus-sized endpoint set is a query bug; raise " +
        "graft.service.varEndpointMax explicitly if intended")
    // the unbound-endpoint contract is LOUD under the joining form,
    // whether the column is absent (the require above) or present but
    // NULL on some row: an inner join would otherwise silently drop
    // exactly the rows the reference's ServiceCallJoin throws on.
    // OPTIONAL keeps null-endpoint rows (they match no dispatch; their
    // service vars stay unbound — the union below).
    if (how == "inner" && lc.filter(col(v).isNull).limit(1).count() > 0)
      sys.error(
        s"SERVICE ?$v: some solutions leave the endpoint variable " +
          "unbound (NULL) — the reference's ServiceCallJoin throws on " +
          "an unbound serviceRef; filter them out or use OPTIONAL")
    // empty endpoint set: the result must still CARRY the service
    // group's variables (as nulls / no rows) or a downstream SELECT of
    // a service var dies with an AnalysisException on a missing column
    def padServiceVars(df: DataFrame): DataFrame =
      ServiceVectoring.certainlyBound(sc.inner)
        .filterNot(df.columns.contains).toSeq.sorted
        .foldLeft(df)((d, n) => d.withColumn(n, lit(null).cast("string")))
    if (eps.isEmpty) {
      if (how == "inner") padServiceVars(lc.limit(0)) else padServiceVars(lc)
    }
    else {
      // dispatch AND join per endpoint: rows with v=e can only match
      // branch e's (tagged) solutions, so the per-endpoint join equals
      // the global one — and it lets each REMOTE branch run the
      // bound-join vectoring against ITS endpoint (the per-binding
      // ServiceCallJoin composed with its own chunked VALUES
      // injection; a local/failed branch keeps the plain path)
      def branch(e: String): DataFrame = {
        val scE = ServiceCall(e, sc.inner, sc.silent, sc.srcText)
        val lcE = lc.filter(col(v) === e)
        if (ServiceVectoring.applies(scE))
          ServiceVectoring.joinVectored(lcE, scE,
            (l, svc) => joinOn(l, svc.withColumn(v, lit(e)), how))
        else joinOn(lcE, compile(scE, src).withColumn(v, lit(e)), how)
      }
      // branches dispatch CONCURRENTLY (bounded pool): each remote
      // branch is an independent HTTP round-trip, so serial dispatch
      // against k slow endpoints pays Σ latencies where max suffices.
      // Pool size caps driver-side fan-out (the endpoint set is already
      // ≤ varEndpointMax); parallelism=1 restores serial dispatch.
      val par = math.min(
        lc.sparkSession.conf.get("graft.service.varDispatchParallelism", "8").toInt,
        eps.size)
      val branches: Seq[DataFrame] =
        if (par <= 1 || eps.size <= 1) eps.map(branch)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
          try {
            val futs = eps.map(e => pool.submit(
              new java.util.concurrent.Callable[DataFrame] {
                def call(): DataFrame = branch(e)
              }))
            // unwrap so the contract errors (whitelist refusal, loud
            // dead endpoint) keep their types for callers
            try futs.map(_.get())
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          } finally pool.shutdownNow()
        }
      val joined = branches.reduce(_.unionByName(_, allowMissingColumns = true))
      // OPTIONAL keeps left rows whose endpoint variable is unbound
      // (they can match no dispatch; their service vars stay unbound)
      if (how == "inner") joined
      else joined.unionByName(lc.filter(col(v).isNull), allowMissingColumns = true)
    }
  }

  /** `SERVICE fts:search { ?res fts:search ?term … }` under
    * `hint:Prior hint:runLast` — binding injection: the distinct term
    * values come off the computed side (driver-side collect BOUNDED by
    * `graft.service.ftsTermMax`: each distinct term is one external
    * HTTP request, the reference's multi-request form), the service
    * dials once per term, the branches union tagged with the term
    * value, and the join keys on the term variable. A NULL term is a
    * loud error — the reference's FulltextSearchException on an
    * unbound search string. */
  private def ftsInjectJoin(lcIn: DataFrame, sc: ServiceCall,
                            src: TripleSource): DataFrame = {
    val v = FtsService.varSearchTerm(sc.inner).get
    require(lcIn.columns.contains(v),
      s"SERVICE fts:search: the search-term variable ?$v is not bound by " +
        "the enclosing group (hint:runLast injects bindings computed " +
        "BEFORE the service — nothing here binds it)")
    // one materialization: the left feeds the term probe and the join
    val lc = lcIn.localCheckpoint()
    if (lc.filter(col(v).isNull).limit(1).count() > 0)
      sys.error(s"SERVICE fts:search: some solutions leave ?$v unbound " +
        "(NULL) — the reference throws on an unbound search string")
    val maxTerms = lc.sparkSession.conf
      .get("graft.service.ftsTermMax", "1024").toInt
    val terms = lc.select(col(v).cast("string")).distinct()
      .limit(maxTerms + 1).collect().map(_.getString(0)).toSeq
    require(terms.size <= maxTerms,
      s"SERVICE fts:search: more than $maxTerms distinct ?$v bindings — " +
        "each term is one external request; raise " +
        "graft.service.ftsTermMax explicitly if intended")
    if (terms.isEmpty) return lc.where(lit(false))
    val branches = terms.map { t =>
      FtsService.handler(FtsService.withConstSearch(sc.inner, v, t), src)
        .withColumn(v, lit(t))
    }
    joinOn(lc, branches.reduce(_.unionByName(_, allowMissingColumns = true)),
      "inner")
  }

  /** Rewrite references to variables the child does NOT bind to null
    * literals — SPARQL treats an out-of-scope variable in an
    * expression as UNBOUND (evaluation yields a type error for that
    * row, §17.2), never as a static analysis failure. */
  private def nullifyMissing(spark: org.apache.spark.sql.SparkSession,
                             cols: Set[String], c: Column): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.graftshim.Shim
    Shim.column(Shim.catalystExpression(spark, c).transform {
      case ua: UnresolvedAttribute if !cols(ua.name) =>
        org.apache.spark.sql.catalyst.expressions.Literal(null, StringType)
    })
  }

  /** Coerce a FILTER expression to its effective boolean value
    * (§17.2.2): an already-boolean condition passes through; a STRING
    * condition (a bare term — `FILTER(?flag)`, `FILTER("false")`) is
    * EBV-evaluated; a numeric one tests != 0. The result type comes
    * from a driver-side trial analysis (no execution). */
  private def asCondition(d: DataFrame, c: Column): Column = {
    import org.apache.spark.sql.types._
    scala.util.Try(d.select(c).schema.head.dataType).toOption match {
      case Some(BooleanType)    => c
      case Some(StringType)     => RdfLiteral.ebvOf(c)
      case Some(_: NumericType) => c =!= 0
      case Some(NullType)       => lit(false)
      case _                    => c
    }
  }

  /** Unresolved attribute names referenced by a Column. */
  private def attrNames(spark: org.apache.spark.sql.SparkSession, c: Column): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    org.apache.spark.sql.graftshim.Shim.catalystExpression(spark, c).collect {
      case ua: UnresolvedAttribute => ua.name
    }.toSet
  }

  /** LEFT JOIN whose condition mixes shared-var equality with a filter
    * expression over both sides' vars. The right side's columns are
    * prefixed to disambiguate, the condition's refs to right-side vars
    * rewritten, and the output restores the solution's column names. */
  private def leftJoinWithCond(lc: DataFrame, rc: DataFrame, cond: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.graftshim.Shim
    val common = lc.columns.toSeq.intersect(rc.columns.toSeq)
    val rightOnly = rc.columns.filterNot(lc.columns.contains).toSeq
    val rr = rc.columns.foldLeft(rc)((df, n) => df.withColumnRenamed(n, "_r_" + n))
    // vars the right side binds resolve against the (renamed) right
    // columns; on matching rows shared vars are equal, so either side
    // is the SPARQL-compatible value
    val rewritten = Shim.column(
      Shim.catalystExpression(lc.sparkSession, cond).transform {
        case ua: UnresolvedAttribute if rc.columns.contains(ua.name) =>
          UnresolvedAttribute("_r_" + ua.name)
      })
    val joinCond = (common.map(n => col(n) === col("_r_" + n)) :+ rewritten)
      .reduce(_ && _)
    lc.join(rr, joinCond, "left_outer")
      .select(lc.columns.map(col).toSeq ++ rightOnly.map(n => col("_r_" + n).as(n)): _*)
  }

  /** EXISTS / NOT EXISTS whose inner group ends in a FILTER that
    * references OUTER variables — §18.6 exists substitution: the
    * filter evaluates under the outer row's bindings, so it becomes
    * part of the semi/anti join CONDITION (the reference evaluates
    * EXISTS as a (Not)ExistsNode hash join with the filter attached).
    * A filter over inner-only vars stays an ordinary inner filter. */
  private def existsJoinWithCond(lc: DataFrame, rc: DataFrame, cond0: Column,
                                 src: TripleSource, anti: Boolean): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.graftshim.Shim
    val cond = nullifyMissing(lc.sparkSession,
      lc.columns.toSet ++ rc.columns.toSet, cond0)
    val refs = attrNames(lc.sparkSession, cond)
    val how = if (anti) "left_anti" else "left_semi"
    if (refs.subsetOf(rc.columns.toSet))
      return joinOn(lc, rc.filter(asCondition(rc, cond)), how)
    val common = lc.columns.toSeq.intersect(rc.columns.toSeq)
    val rr = rc.columns.foldLeft(rc)((df, n) => df.withColumnRenamed(n, "_r_" + n))
    val rewritten = Shim.column(
      Shim.catalystExpression(lc.sparkSession, cond).transform {
        case ua: UnresolvedAttribute if rc.columns.contains(ua.name) =>
          UnresolvedAttribute("_r_" + ua.name)
      })
    val joinCond = (common.map(n => col(n) === col("_r_" + n)) :+ rewritten)
      .reduce(_ && _)
    lc.join(rr, joinCond, how)
  }

  /** Join solutions against VALUES inline data with SPARQL
    * compatibility semantics: an UNDEF cell is compatible with ANY
    * binding (§10.2), so the join condition per shared var is
    * `equal OR value IS NULL` — a plain equality join would silently
    * drop every row a null should match. Vars only the VALUES side
    * binds are carried into the solution (null where UNDEF). */
  private def valuesJoin(lc: DataFrame, v: Values): DataFrame = {
    val spark = lc.sparkSession
    val schema = StructType(v.vars.map(n => StructField(s"_v_$n", StringType, nullable = true)))
    val data = v.rows.map(r => org.apache.spark.sql.Row(r.map(_.orNull): _*))
    val vdf = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    val common = v.vars.filter(lc.columns.contains)
    val joined =
      if (common.isEmpty) lc.crossJoin(vdf)
      else lc.join(vdf, common.map(n =>
        col(n) === col(s"_v_$n") || col(s"_v_$n").isNull || col(n).isNull)
        .reduce(_ && _))
    val carried = v.vars.filterNot(lc.columns.contains)
      .map(n => col(s"_v_$n").as(n))
    // merged solution: an UNBOUND slot takes the other side's value
    val kept = lc.columns.map { n =>
      if (common.contains(n)) coalesce(col(n), col(s"_v_$n")).as(n) else col(n)
    }.toSeq
    joined.select(kept ++ carried: _*)
  }

  /** GRAPH ?g — each pattern keeps g as a solution var, so patterns
    * join on the graph variable like any shared var. */
  private def compileGraphVar(gv: String, child: Algebra, src: TripleSource): DataFrame =
    child match {
      case Bgp(patterns @ _*) =>
        val dfs = patterns.map { tp =>
          val q = src.quadScan(tp, Var(gv))
          val varCols = Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o)
            .collect { case (c, Var(n)) => (c, n) } :+ ("g" -> gv)
          val eq = varCols.groupBy(_._2).values.filter(_.size > 1).foldLeft(q) {
            case (df, dups) => df.filter(col(dups.head._1) === col(dups(1)._1))
          }
          // one output column per VARIABLE (a var bound by several
          // positions — `?x ?p ?g` inside GRAPH ?g — projects once;
          // the equality filter above already pinned the duplicates)
          val proj = varCols.map(_._2).distinct.map { v =>
            col(varCols.find(_._2 == v).get._1).as(v)
          }
          eq.select(proj: _*)
        }
        dfs.reduce(joinOn(_, _, "inner"))
      // group operators inside a variable-graph block: the graph var
      // is one more solution column, so joins/filters/extends compose
      // exactly like the generic plans (same-graph co-occurrence falls
      // out of the natural join carrying `gv`) — §13.3 per-graph
      // evaluation is exactly "join on gv too"
      case Filter(inner, cond) => compileGraphVar(gv, inner, src).filter(cond)
      case Extend(inner, v, e) => compileGraphVar(gv, inner, src).withColumn(v, e)
      // VALUES joined inside the block keeps §10.2 UNDEF compatibility
      // (plain equality would drop every row an UNDEF should match)
      case Join(l, v: Values) => valuesJoin(compileGraphVar(gv, l, src), v)
      case Join(v: Values, r) => valuesJoin(compileGraphVar(gv, r, src), v)
      case Join(l, r) =>
        joinOn(compileGraphVar(gv, l, src), compileGraphVar(gv, r, src), "inner")
      case LeftJoin(l, Filter(r, cond)) =>
        // OPTIONAL { … FILTER(e) } — same condition-vs-filter split as
        // the generic plan, both sides carrying the graph var
        val lc = compileGraphVar(gv, l, src)
        val rc = compileGraphVar(gv, r, src)
        val refs = attrNames(lc.sparkSession, cond)
        if (refs.subsetOf(rc.columns.toSet)) joinOn(lc, rc.filter(cond), "left_outer")
        else leftJoinWithCond(lc, rc, cond)
      case LeftJoin(l, r) =>
        joinOn(compileGraphVar(gv, l, src), compileGraphVar(gv, r, src), "left_outer")
      case Minus(l, r) =>
        // §13.3: the operands evaluate per graph with ?g as CONTEXT,
        // not a solution var — so MINUS compatibility (§8.3) is judged
        // on the pattern variables only. Operands sharing no pattern
        // var remove nothing (the disjoint-domain rule; anti-joining
        // on the always-common ?g would wrongly empty the block),
        // while a genuine shared var anti-joins WITH ?g so right
        // solutions only remove same-graph left solutions.
        val lc = compileGraphVar(gv, l, src)
        val rc = compileGraphVar(gv, r, src)
        if ((lc.columns.toSet.intersect(rc.columns.toSet) - gv).isEmpty) lc
        else joinOn(lc, rc, "minus")
      case Exists(l, r) =>
        joinOn(compileGraphVar(gv, l, src), compileGraphVar(gv, r, src), "left_semi")
      case NotExists(l, r) =>
        joinOn(compileGraphVar(gv, l, src), compileGraphVar(gv, r, src), "left_anti")
      case Union(l, r) =>
        compileGraphVar(gv, l, src)
          .unionByName(compileGraphVar(gv, r, src), allowMissingColumns = true)
      // VALUES is graph-independent, so §13.3 per-graph iteration makes
      // its solutions hold in EVERY graph: join the graph keys in so
      // ?g is always bound (compiling it unscoped left a null ?g when
      // unioned with scoped branches)
      case v: Values =>
        val q = src.quads.getOrElse(sys.error(s"GRAPH ?$gv needs a quads source"))
        val keys = q.select(col("g").as(gv)).distinct()
        joinOn(compile(v, src), keys, "inner")
      case Path(s, pe, o, sVar, oVar) => compileGraphVarPath(gv, s, pe, o, sVar, oVar, src)
      // sub-SELECT inside GRAPH ?g (§13.3 + §18.2.2.3): the subquery
      // evaluates per named graph (its patterns graph-scoped, = carry
      // the graph var through), and the graph var joins the outer
      // group alongside the subquery's projection — the projection
      // hides everything else
      case Project(inner, vars @ _*) =>
        // §18.2.2.3 variable scope: a subquery's projection HIDES its
        // internal variables — an inner var merely SPELLED like the
        // outer graph var is a different variable. The subquery's
        // patterns scope per graph through a FRESH graph column;
        // afterwards it surfaces as the outer graph var — and when the
        // projection itself exports a var named gv, outer unification
        // means the two must be EQUAL (one variable in outer scope).
        val tmp = "_gvx_" + gv
        val d = compileGraphVar(tmp, inner, src)
        val have = d.columns.toSet
        val want = vars.distinct
        val base = d.select((want.map(v =>
          if (have(v)) col(v) else lit(null).cast("string").as(v)) :+ col(tmp)): _*)
        if (want.contains(gv)) base.filter(col(gv) === col(tmp)).drop(tmp)
        else base.withColumnRenamed(tmp, gv)
      case StarProject(inner) =>
        val d = compileGraphVar(gv, inner, src)
        val named = d.columns.filterNot(_.startsWith("_"))
        if (named.length == d.columns.length) d else d.select(named.map(col).toSeq: _*)
      case Distinct(inner) => compileGraphVar(gv, inner, src).distinct()
      case OrderBy(inner, keys) =>
        val d = compileGraphVar(gv, inner, src)
        d.orderBy(keys.map(nullifyMissing(d.sparkSession, d.columns.toSet, _)): _*)
      case Group(inner, keys, aggs) =>
        // per-graph aggregation: the graph var is one more group key
        // (a key no pattern binds groups as a single null — unbound)
        val d0 = compileGraphVar(gv, inner, src)
        val d = keys.filterNot(d0.columns.contains)
          .foldLeft(d0)((df, k) => df.withColumn(k, lit(null).cast("string")))
        val aggCols = aggs.map { case (n, e) => e.as(n) }
        if (aggs.isEmpty) d.select((keys :+ gv).distinct.map(col): _*).distinct()
        else d.groupBy((keys :+ gv).distinct.map(col): _*)
          .agg(aggCols.head, aggCols.tail: _*)
      case SubQuery(l, sub) =>
        joinOn(compileGraphVar(gv, l, src), compileGraphVar(gv, sub, src), "inner")
      // bds:search hits are STORE-wide literal matches (the
      // reference's FullTextIndex is namespace-global, not per-graph;
      // SearchServiceFactory); inside GRAPH ?g the hit relation is
      // graph-independent — the graph-scoped CO-patterns bind ?g and
      // the hits join on the shared hit variable. A search alone in
      // the block ranges ?g over the graph names like the Values case.
      case Join(l, sv: SearchService) =>
        joinOn(compileGraphVar(gv, l, src), compile(sv, src), "inner")
      case Join(sv: SearchService, r) =>
        joinOn(compileGraphVar(gv, r, src), compile(sv, src), "inner")
      case sv: SearchService =>
        // a hit binds ?g to the graphs the matched literal OCCURS in
        // (the reference's named-graph search tests pin this: FROM
        // NAMED restricts which graphs can produce hits)
        val q = src.quads.getOrElse(sys.error(s"GRAPH ?$gv needs a quads source"))
        val occ = q.select(col("o").as(sv.outDoc), col("g").as(gv)).distinct()
        joinOn(compile(sv, src), occ, "inner")
      // nested GRAPH: the same variable keeps the active scope (its
      // patterns already carry gv); a DIFFERENT graph term re-scopes
      // (§13.3 — the inner block is then independent of the outer
      // active graph, so gv ranges over every graph name, a
      // graph-keys join like the Values case)
      case GraphPattern(t, inner) if t == Var(gv) =>
        compileGraphVar(gv, inner, src)
      case GraphPattern(t, inner) =>
        val d = compile(GraphPattern(t, inner), src)
        val q = src.quads.getOrElse(sys.error(s"GRAPH ?$gv needs a quads source"))
        val keys = q.select(col("g").as(gv)).distinct()
        joinOn(d, keys, "inner")
      case other => sys.error(s"GRAPH ?$gv supports BGP/FILTER/BIND/JOIN/OPTIONAL/MINUS/EXISTS/UNION/VALUES/subquery/path groups, got $other")
    }

  /** Property path inside `GRAPH ?g` (§13.3 + §9.3: the path relation
    * is evaluated WITHIN each named graph separately). Implementation:
    * pack every node as a `(g, term)` struct at the leaf quad scans —
    * a step edge never leaves its graph, so the SHARED closure /
    * fixpoint machinery ([[transitiveClosure]]) computes all graphs'
    * path relations independently in ONE distributed pass (no
    * driver-side per-graph loop; at 100 TB the graph key just widens
    * the shuffle key). Reference: AST2BOpUtility's graph-context
    * propagation into ArbitraryLengthPathNode. */
  private def compileGraphVarPath(gv: String, s: Term, pe: PathExpr, o: Term,
                                  sVar: String, oVar: String,
                                  src: TripleSource): DataFrame = {
    def pack(df: DataFrame): DataFrame =
      df.select(
        struct(col("g").as("g"), col("s").as("n")).as("s"), col("p"),
        struct(col("g").as("g"), col("o").as("n")).as("o"))
    val packedSrc = new TripleSource {
      lazy val triples: DataFrame =
        pack(src.quadScan(TriplePattern(Var("s"), Var("p"), Var("o")), Var(gv)))
      override def scan(tp: TriplePattern): DataFrame = {
        // path leaves bind only the predicate (pathRel's contract);
        // endpoint constants are applied below, on the packed relation
        pack(src.quadScan(TriplePattern(Var("s"), tp.p, Var("o")), Var(gv)))
      }
      def fuseStar(patterns: Seq[TriplePattern],
                   subjectTables: Option[Set[String]]): Option[DataFrame] = None
    }
    // seeded evaluation when a closure endpoint is bound — the generic
    // path compiler's rule (never materialize the full closure). The
    // seed is the (g, const) packed node per GRAPH KEY for `p+` (a
    // seed without edges in its graph just reaches nothing), and per
    // graph MEMBERSHIP for the `p*` zero-length pairs (§9.3: a node
    // self-relates only in graphs it is a term of).
    def constNode(v: String): Column =
      struct(col("node").getField("g").as("g"), lit(v).as("n"))
    def graphKeySeed(v: String): DataFrame = {
      val q = src.quads.getOrElse(sys.error(s"GRAPH ?$gv needs a quads source"))
      q.select(col("g")).distinct()
        .select(struct(col("g").as("g"), lit(v).as("n")).as("node"))
    }
    def memberSeed(v: String): DataFrame =
      packedSrc.triples.select(col("s").as("node"))
        .unionAll(packedSrc.triples.select(col("o").as("node")))
        .filter(col("node").getField("n") === lit(v)).distinct()
    val rel = (pe, s, o) match { // (from, to) as (g, n) structs
      case (PathPlusE(x), Const(sv), _) =>
        reachFrom(pathRel(x, packedSrc), graphKeySeed(sv), forward = true)
          .select(constNode(sv).as("from"), col("node").as("to"))
      case (PathPlusE(x), _, Const(ov)) =>
        reachFrom(pathRel(x, packedSrc), graphKeySeed(ov), forward = false)
          .select(col("node").as("from"), constNode(ov).as("to"))
      case (PathStar(x), Const(sv), _) =>
        reachFrom(pathRel(x, packedSrc), graphKeySeed(sv), forward = true)
          .unionAll(memberSeed(sv)).distinct()
          .select(constNode(sv).as("from"), col("node").as("to"))
      case (PathStar(x), _, Const(ov)) =>
        reachFrom(pathRel(x, packedSrc), graphKeySeed(ov), forward = false)
          .unionAll(memberSeed(ov)).distinct()
          .select(col("node").as("from"), constNode(ov).as("to"))
      case _ => pathRel(pe, packedSrc)
    }
    val filt = Seq("from" -> s, "to" -> o).foldLeft(rel) {
      case (df, (c, Const(v))) => df.filter(col(c).getField("n") === lit(v))
      case (df, _)             => df
    }
    // both endpoints carry the same g by construction; bind ?g once.
    // A repeated endpoint var — including one colliding with the
    // graph var itself (`?s p+ ?g`) — is an equality constraint, never
    // a duplicate output column.
    val eq1 = if (sVar == oVar)
      filt.filter(col("from").getField("n") === col("to").getField("n")) else filt
    val eq2 = if (sVar == gv)
      eq1.filter(col("from").getField("n") === col("from").getField("g")) else eq1
    val eq3 = if (oVar == gv)
      eq2.filter(col("to").getField("n") === col("to").getField("g")) else eq2
    val cols = Seq(col("from").getField("g").as(gv)) ++
      (if (sVar != gv) Seq(col("from").getField("n").as(sVar)) else Nil) ++
      (if (oVar != gv && oVar != sVar) Seq(col("to").getField("n").as(oVar)) else Nil)
    eq3.select(cols: _*)
  }

  /** The binary relation a path expression denotes, as (from, to).
    * Atomic steps come from per-predicate access paths (narrow branch
    * scans); sequence is a join on the midpoint; closures are frontier
    * fixpoints. */
  private def pathRel(e: PathExpr, src: TripleSource): DataFrame = e match {
    case PathPred(p) =>
      src.scan(TriplePattern(Var("s"), Const(p), Var("o")))
        .select(col("s").as("from"), col("o").as("to"))
    case PathNeg(fwd, rev) =>
      // NPS(P) ∪ inv(NPS(R)) — each part only when its set is
      // non-empty (§18.2.2.3); `!(^q)` has NO forward component
      val parts = Seq(
        if (fwd.nonEmpty || rev.isEmpty)
          Some(src.triples.filter(!col("p").isin(fwd: _*))
            .select(col("s").as("from"), col("o").as("to")))
        else None,
        if (rev.nonEmpty)
          Some(src.triples.filter(!col("p").isin(rev: _*))
            .select(col("o").as("from"), col("s").as("to")))
        else None).flatten
      parts.reduce(_ unionAll _)
    case PathInverse(x) =>
      pathRel(x, src).select(col("to").as("from"), col("from").as("to"))
    case PathAlt(l, r) => pathRel(l, src).unionAll(pathRel(r, src))
    case PathSeq(l, r) =>
      val lr = pathRel(l, src).select(col("from"), col("to").as("_mid"))
      val rr = pathRel(r, src).select(col("from").as("_mid2"), col("to"))
      lr.join(rr, col("_mid") === col("_mid2")).select(col("from"), col("to"))
    case PathPlusE(x) => transitiveClosure(pathRel(x, src))
    case PathStar(x)  => transitiveClosure(pathRel(x, src)).unionAll(zeroLength(src)).distinct()
    case PathOpt(x)   => pathRel(x, src).unionAll(zeroLength(src)).distinct()
    case PathBounded(x, lo, hi) => boundedRel(pathRel(x, src), lo, hi, src)
  }

  /** `p{lo,hi}` as a relation: the union of exact-i-step compositions
    * for i in [lo, hi] (ArbitraryLengthPathNode lower/upper bounds).
    * An unbounded hi composes the lo-step relation with the 1+
    * transitive closure; lo = 0 adds the zero-length relation. */
  private def boundedRel(r0: DataFrame, lo: Int, hi: Option[Int],
                         src: TripleSource): DataFrame = {
    val r = r0.localCheckpoint()
    def step(acc: DataFrame): DataFrame = acc
      .select(col("from"), col("to").as("_m"))
      .join(r.select(col("from").as("_m"), col("to")), "_m")
      .select("from", "to").distinct()
    def pow(i: Int): DataFrame = (2 to i).foldLeft(r)((acc, _) => step(acc))
    hi match {
      case Some(h) =>
        // union of exact-i-step relations, i in [lo, h] (a pair kept
        // at step i has SOME path of length i — the quantifier's
        // semantics, not shortest-path)
        val start = math.max(lo, 1)
        val parts = Vector.newBuilder[DataFrame]
        if (lo == 0) parts += zeroLength(src)
        if (h >= start) {
          var cur = pow(start)
          parts += cur
          for (_ <- start + 1 to h) { cur = step(cur); parts += cur }
        }
        parts.result().reduce(_ unionAll _).distinct()
      case None =>
        // p{lo,} = p^lo ∘ p*  (zero further steps allowed)
        val cl = transitiveClosure(r)
        if (lo == 0) cl.unionAll(zeroLength(src)).distinct()
        else if (lo == 1) cl
        else {
          val base = pow(lo)
          base.unionAll(
            base.select(col("from"), col("to").as("_m"))
              .join(cl.select(col("from").as("_m"), col("to")), "_m")
              .select("from", "to")).distinct()
        }
    }
  }

  /** Zero-length path relation: every term of the graph relates to
    * itself (SPARQL 1.1 §9.3 / ZeroLengthPathNode). */
  private def zeroLength(src: TripleSource): DataFrame =
    src.triples.select(col("s").as("n"))
      .unionAll(src.triples.select(col("o").as("n")))
      .distinct()
      .select(col("n").as("from"), col("n").as("to"))

  /** Path pattern with endpoint binding. Closure paths with a bound
    * endpoint evaluate by seeded BFS — never the full closure
    * (reference: ArbitraryLengthPathNode bounded evaluation). */
  private def compilePath(s: Term, pe: PathExpr, o: Term,
                          sVar: String, oVar: String, src: TripleSource): DataFrame = {
    val spark = src.triples.sparkSession
    def seed(v: String): DataFrame = {
      import spark.implicits._
      Seq(v).toDF("node")
    }
    def bounded(rel: DataFrame): DataFrame = {
      val f = Seq("from" -> s, "to" -> o).foldLeft(rel) {
        case (df, (c, Const(v))) => df.filter(col(c) === lit(v))
        case (df, _)             => df
      }
      f.select(col("from").as(sVar), col("to").as(oVar))
    }
    // seeded closure from a bound endpoint, optionally with zero-length
    def seeded(x: PathExpr, v: String, forward: Boolean, zero: Boolean): DataFrame = {
      val reach = reachFrom(pathRel(x, src), seed(v), forward)
      val r = if (zero) reach.unionAll(seed(v)).distinct() else reach
      if (forward) r.select(lit(v).as(sVar), col("node").as(oVar))
      else r.select(col("node").as(sVar), lit(v).as(oVar))
    }
    // bounded-quantifier BFS from a bound endpoint: iterate the
    // frontier lo..hi times, keeping every frontier in range — the
    // relation powers are never materialized (ArbitraryLengthPathNode
    // bounded evaluation)
    def seededBounded(x: PathExpr, v: String, lo: Int, hi: Int,
                      forward: Boolean): DataFrame = {
      val rel0 = pathRel(x, src)
      val rel = (if (forward) rel0
                 else rel0.select(col("to").as("from"), col("from").as("to")))
        .localCheckpoint()
      var frontier = seed(v)
      val acc = Vector.newBuilder[DataFrame]
      if (lo == 0) acc += frontier
      for (d <- 1 to hi) {
        frontier = frontier.join(rel, col("node") === col("from"))
          .select(col("to").as("node")).distinct()
        if (d >= lo) acc += frontier
      }
      val r = acc.result().reduce(_ unionAll _).distinct()
      if (forward) r.select(lit(v).as(sVar), col("node").as(oVar))
      else r.select(col("node").as(sVar), lit(v).as(oVar))
    }
    // p{lo,} from a bound endpoint: walk exactly lo frontier steps
    // (F_lo = nodes with SOME length-lo path), then take everything
    // reachable from F_lo in ≥0 further steps — the full closure of
    // the whole relation is never materialized
    def seededUnbounded(x: PathExpr, v: String, lo: Int,
                        forward: Boolean): DataFrame = {
      val rel0 = pathRel(x, src)
      val rel = (if (forward) rel0
                 else rel0.select(col("to").as("from"), col("from").as("to")))
        .localCheckpoint()
      var frontier = seed(v)
      for (_ <- 1 to lo)
        frontier = frontier.join(rel, col("node") === col("from"))
          .select(col("to").as("node")).distinct()
      val r = frontier
        .unionAll(reachFrom(rel, frontier, forward = true))
        .distinct()
      if (forward) r.select(lit(v).as(sVar), col("node").as(oVar))
      else r.select(col("node").as(sVar), lit(v).as(oVar))
    }
    (pe, s, o) match {
      case (PathBounded(x, lo, Some(hi)), Const(sv), Var(_)) =>
        seededBounded(x, sv, lo, hi, forward = true)
      case (PathBounded(x, lo, Some(hi)), Var(_), Const(ov)) =>
        seededBounded(x, ov, lo, hi, forward = false)
      case (PathBounded(x, lo, None), Const(sv), Var(_)) =>
        seededUnbounded(x, sv, lo, forward = true)
      case (PathBounded(x, lo, None), Var(_), Const(ov)) =>
        seededUnbounded(x, ov, lo, forward = false)
      case (PathPlusE(x), Const(sv), Var(_)) => seeded(x, sv, forward = true, zero = false)
      case (PathStar(x), Const(sv), Var(_))  => seeded(x, sv, forward = true, zero = true)
      case (PathPlusE(x), Var(_), Const(ov)) => seeded(x, ov, forward = false, zero = false)
      case (PathStar(x), Var(_), Const(ov))  => seeded(x, ov, forward = false, zero = true)
      case (PathPlusE(x), Const(sv), Const(ov)) =>
        reachFrom(pathRel(x, src), seed(sv), forward = true)
          .filter(col("node") === lit(ov))
          .select(lit(sv).as(sVar), lit(ov).as(oVar))
      case (PathOpt(x), Const(sv), Var(_)) =>
        pathRel(x, src).filter(col("from") === lit(sv)).select(col("to").as("node"))
          .unionAll(seed(sv)).distinct()
          .select(lit(sv).as(sVar), col("node").as(oVar))
      case _ => bounded(pathRel(pe, src))
    }
  }
}
