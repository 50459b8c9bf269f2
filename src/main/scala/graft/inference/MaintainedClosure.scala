package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.LocalTier
import graft.rdf.Journal

/** Truth maintenance over the PERSISTENT store — the reference wires
  * TruthMaintenance (com.bigdata.rdf.inf.TruthMaintenance) into its
  * commit path: each assert/retract buffer updates the closed store's
  * indices, and every commit point therefore contains its own
  * entailments. Here the same contract rides two [[Journal]]s:
  *
  *  - `base/`   — the asserted statements, commit per mutation;
  *  - `closed/` — the MAINTAINED closure, whose commits carry exactly
  *    the entailment DELTA of the mutation (incremental closure on
  *    assert; DRed removed-set tombstones on retract — both
  *    |delta|-sized, never a store re-closure).
  *
  * So `closure(v)` time-travels the ENTAILED state: a historical read
  * sees the inferences that held at that commit point, exactly like a
  * read-only transaction against a reference commitTime. A retracted
  * statement that is still derivable from surviving statements stays
  * in the closure (DRed rederive) — the reference's TM semantics.
  *
  * ==The OWL program==
  *
  * With an [[Owl.Ontology]] the maintained program is the reference's
  * FullClosure analog (rules/FullClosure.java: RDFS + the owl:sameAs/
  * transitive/inverse/functional families; inf/TruthMaintenance runs
  * the store's full configured program): the closed store holds
  * `Rdfs.closure(Owl.closure(base))`. OWL entailment is NOT
  * delta-local — a sameAs merge rewrites every statement of the merged
  * ids, a new transitive edge splices existing paths — so maintenance
  * is tiered by what the commit touches:
  *
  *  - FAST — a commit with NO OWL-vocabulary statements whose ids
  *    touch no co-reference machinery keeps the delta-bounded RDFS
  *    path (RDFS rules are single-antecedent in instance data: the
  *    delta's entailments depend on the delta alone);
  *  - MID — a commit that adds STRUCTURAL edges (transitive /
  *    inverse / symmetric predicates) or mentions aliased ids but
  *    provably cannot change the canonical map (no sameAs, no
  *    functional-family statement) stays incremental: the delta
  *    normalizes under the CURRENT canon, mirrors locally, and each
  *    touched transitive predicate extends by [[Owl.incrementalTc]]
  *    against the closed store's own already-closed p-edges —
  *    delta-keyed joins (the new-edge side drives every compose),
  *    never a re-closure of the relation;
  *  - REDERIVE — a commit that can merge components (sameAs /
  *    functional statements) re-derives the OWL program on the new
  *    base and commits the DIFF — the closed-store LOG stays
  *    delta-sized (set semantics would tolerate a superset, but a
  *    full re-append per commit would bloat the log), while the
  *    computation pays the program re-derivation the way the
  *    reference's full-closure TM does on sameAs-touching updates.
  *    At production scale the re-derivation's inputs are
  *    predicate-pruned scans (sameAs / functional / transitive
  *    predicates — the POS layout's key ranges), not whole-store
  *    reads.
  *
  * Triples journal as quads under one fixed graph tag.
  */
final class MaintainedClosure private (spark: SparkSession,
                                       ont: Rdfs.Ontology,
                                       owl: Option[Owl.Ontology],
                                       baseJ: Journal, closedJ: Journal,
                                       dynamic: Boolean = false) {

  private val G = "g:closure"
  private def withG(t: DataFrame): DataFrame =
    t.select(col("s"), col("p"), col("o"), lit(G).as("g"))
  private def stripG(q: DataFrame): DataFrame = q.select("s", "p", "o")
  private def none: DataFrame = withG(baseJ.snapshot(0))

  /** Latest commit point (base and closed journals advance in step). */
  def version: Long = baseJ.version

  /** The program config in force over a base state: constructor-FIXED
    * (a library embedding chooses its program up front), or in
    * DYNAMIC mode extracted from the statements themselves — the
    * server's truthMaintenance namespaces, where the TBox arrives
    * over the protocol as data (the reference reads its vocabulary
    * out of the store the same way; inference is a namespace OPTION,
    * the ontology is statements). */
  // dynamic-mode program cache: the extraction inputs (vocab-predicate
  // slices + sameAs presence) change ONLY across vocab-touching
  // commits — those paths invalidate below — so steady-state instance
  // commits reuse the cached program instead of re-scanning the base's
  // declaration slices per commit
  @volatile private var cachedProgram
    : Option[(Rdfs.Ontology, Option[Owl.Ontology])] = None

  private def effective(b: DataFrame): (Rdfs.Ontology, Option[Owl.Ontology]) =
    if (!dynamic) (ont, owl)
    else cachedProgram.getOrElse {
      val p = MaintainedClosure.extractProgram(spark, b)
      cachedProgram = Some(p)
      p
    }

  /** Does a delta touch program-DEFINING vocabulary? In dynamic mode
    * such a commit changes the maintained program itself (a new
    * subClassOf edge re-types EXISTING instances; a first sameAs can
    * activate co-reference) — only a re-derivation is exact. */
  private def touchesVocab(d: DataFrame): Boolean =
    !d.filter(col("p").isin((MaintainedClosure.TboxPreds :+ "sameAs"): _*) ||
      (col("p") === "type" &&
        col("o").isin(MaintainedClosure.PropertyTypeObjects: _*))).isEmpty

  /** The delta's DISTINCT predicate set — predicate-set-sized by
    * nature (the ontology-table discipline), collected ONCE per assert so
    * the vocabulary probe, the tier decision and the touched-predicate
    * set are all driver-side set tests instead of one driver-blocking
    * isEmpty job each (the r18 job-count finding: these commits are
    * bounded by job dispatch, not data). */
  private def predsOf(d: DataFrame): Set[String] =
    d.select("p").distinct().collect().map(_.getString(0)).toSet

  /** [[touchesVocab]] given the delta's predicate set: only the
    * `type`-object probe (property-characteristic declarations) still
    * needs a data job, and only when `type` rows are present at all. */
  private def touchesVocabPreds(d: DataFrame, dPreds: Set[String]): Boolean =
    dPreds.exists(p => MaintainedClosure.TboxPreds.contains(p) || p == "sameAs") ||
      (dPreds.contains("type") &&
        !d.filter(col("p") === "type" &&
          col("o").isin(MaintainedClosure.PropertyTypeObjects: _*)).isEmpty)

  /** The configured program over a base state — what the closed
    * journal maintains. */
  private def program(b: DataFrame): DataFrame = {
    val (effOnt, effOwl) = effective(b)
    effOwl match {
      case None    => Rdfs.closure(b, effOnt)
      // empty RDFS layer: Owl.closure output is already distinct —
      // wrapping it in Rdfs.closure's short-circuit would add one
      // redundant full-closure distinct() per re-derivation
      case Some(o) if Rdfs.provablyEmpty(effOnt) => Owl.closure(b, o)
      case Some(o) => Rdfs.closure(Owl.closure(b, o), effOnt)
    }
  }

  /** Predicates whose statements can CHANGE the canonical-id map —
    * a delta avoiding all of them cannot merge (or split) any
    * co-reference component, so the current canon stays valid. */
  private def canonPreds(o: Owl.Ontology): Seq[String] =
    ("sameAs" +: (o.functional ++ o.inverseFunctional)).distinct

  /** Predicates the structural OWL rules fire on (transitive chains,
    * inverse/symmetric mirrors). */
  private def structuralPreds(o: Owl.Ontology): Seq[String] =
    (o.transitive ++ o.symmetric ++
      o.inverses.flatMap(t => Seq(t._1, t._2))).distinct

  /** Maintenance tier of an assert delta:
    *  - `fast`: no OWL vocabulary at all and no aliased id — the
    *    delta's RDFS closure alone is exact (fully delta-bounded);
    *  - `mid`: canon provably unchanged (no sameAs / functional-
    *    family statement) but structural edges or aliased ids
    *    present — incremental: normalize the delta by the CURRENT
    *    canon, mirror it, extend each touched transitive predicate
    *    with [[Owl.incrementalTc]] against the closed store's own
    *    p-edges (delta-keyed joins, never a re-closure);
    *  - `rederive`: the delta can merge components — re-derive the
    *    program and diff (non-local by nature; see class doc).
    * The alias probe is a predicate-pruned scan of the base's
    * co-reference rows semi-joined by the broadcast delta ids. */
  private def tierOf(d: DataFrame, o: Owl.Ontology, dPreds: Set[String]): String = {
    // both predicate probes are driver-side set tests over the
    // already-collected delta predicate set — zero jobs
    if (canonPreds(o).exists(dPreds)) return "rederive"
    val structural = structuralPreds(o)
    val touchesStructural = structural.exists(dPreds)
    // a structural delta is MID regardless of aliasing — skip the
    // aliased probe (a base-snapshot scan + semi-join) entirely; the
    // probe decides fast-vs-mid only for non-structural deltas
    if (touchesStructural) return "mid"
    val coRef = stripG(baseJ.snapshot())
      .filter(col("p").isin(canonPreds(o): _*))
    val ids = d.select(col("s").as("id")).unionAll(d.select(col("o").as("id")))
      .distinct()
    // no broadcast HINT on the delta id set: a bulk seed commit makes
    // it corpus-sized, and a forced broadcast bypasses AQE's size
    // check (driver/executor OOM risk); AQE broadcasts small deltas
    // on its own and shuffles the bulk case safely
    val aliased = !coRef.select(col("s").as("id"))
      .unionAll(coRef.select(col("o").as("id")))
      .join(ids, Seq("id"), "left_semi")
      .isEmpty
    if (!aliased) "fast" else "mid"
  }

  /** RDFS closure of an ALREADY-DISTINCT delta: under an empty
    * program [[Rdfs.closure]]'s short-circuit would still re-distinct
    * the input — a full delta-sized shuffle for rows the caller
    * proved duplicate-free. */
  private def closureOfDistinct(d: DataFrame, o: Rdfs.Ontology): DataFrame =
    if (Rdfs.provablyEmpty(o)) d else Rdfs.closure(d, o)

  /** The MID tier's closure delta: exactly the rows
    * `program(base ∪ d) \ program(base)` plus (harmless, set-semantic)
    * overlaps — computed WITHOUT re-deriving the program. */
  private def midDelta(d: DataFrame, o: Owl.Ontology,
                       dPreds: Set[String]): DataFrame = {
    val canon0 = Owl.sameAsCanon(stripG(baseJ.snapshot()), o)
    // a LocalRelation canon (sameAsCanon's driver-resolved small/empty
    // cases) needs no checkpoint — it is already materialized driver
    // data; re-checkpointing it was one job for nothing
    val canon = canon0.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => canon0
      case _ => canon0.localCheckpoint()
    }
    // empty canon (no co-reference anywhere): normalizeBy is the
    // identity, so reuse the caller's already-checkpointed delta
    // instead of materializing a projected copy of it
    val dn =
      if (LocalTier.provablyEmpty(canon)) d
      else Owl.normalizeBy(d, canon).localCheckpoint()
    val invPairs = o.inverses.flatMap { case (p, q) => Seq(p -> q, q -> p) } ++
      o.symmetric.map(p => p -> p)
    val preMirrors = invPairs.map { case (p, q) =>
      dn.filter(col("p") === p)
        .select(col("o").as("s"), lit(q).as("p"), col("s").as("o"))
    }
    val seeded = (dn +: preMirrors).reduce(_ unionAll _).distinct().localCheckpoint()
    // only the TOUCHED transitive predicates' closed edges are ever
    // composed against — materialize exactly that slice, and only
    // when some predicate is actually touched. Checkpointing the whole
    // closure here would be an O(store) pass on every small structural
    // commit (the tier's delta-bounded claim would be false).
    // seeded's predicate set is DERIVABLE driver-side: normalization
    // never rewrites p, and pre-mirrors only add each touched
    // predicate's declared partner — zero jobs
    val present = dPreds ++
      invPairs.collect { case (p, q) if dPreds.contains(p) => q }
    val touched = o.transitive.filter(present)
    lazy val closedSlice = closure().filter(col("p").isin(touched: _*))
      .localCheckpoint()
    // per touched transitive predicate: new pairs against the closed
    // store's ALREADY-CLOSED p-edges (they include prior mirrors, so
    // symmetric+transitive composition carries through exactly like
    // the batch stratification)
    val tcNew = touched.map { p =>
      val dp = seeded.filter(col("p") === p)
        .select(col("s").as("from"), col("o").as("to"))
      val tp = closedSlice.filter(col("p") === p)
        .select(col("s").as("from"), col("o").as("to"))
      Owl.incrementalTc(tp, dp)
        .select(col("from").as("s"), lit(p).as("p"), col("to").as("o"))
    }
    val newClosed = (seeded +: tcNew).reduce(_ unionAll _).localCheckpoint()
    // post-mirror: new closed edges reflect into the inverse partner
    // (the closure of a symmetrized relation is symmetric — nothing
    // here grows further, the batch argument)
    val postMirrors = invPairs.map { case (p, q) =>
      newClosed.filter(col("p") === p)
        .select(col("o").as("s"), lit(q).as("p"), col("s").as("o"))
    }
    (newClosed +: postMirrors).reduce(_ unionAll _).distinct()
  }

  /** Re-derive the program on the CURRENT base and commit the diff
    * against the closed head — the OWL tier (and the crash-recovery
    * math): adds/dels are exactly what changed, so the log stays
    * delta-sized even when the derivation is not. */
  private def rederiveCommit(): Long = {
    // program() output is distinct by construction (Rdfs.closure and
    // Owl.closure both end in .distinct()) — the previous extra
    // .distinct() here re-shuffled the whole derived closure; likewise
    // the two anti-joins of distinct inputs stay distinct, so the
    // commit skips its write-side dedup shuffle (commitDistinct)
    // the two materializations are INDEPENDENT (different journals) —
    // overlap them (guide §2.6): the closed-head read's job back-fills
    // the idle cores of the program derivation's single-job stretches.
    // It runs in the caller's job group, so a cancel reaches it too
    val cur = graft.plans.Jobs.fork(stripG(closedJ.snapshot()).localCheckpoint())
    // resolve the base snapshot ONCE: the program derivation reads it
    // from 4+ places (vocabulary extraction, sameAs probes, the rule
    // strata) and each consumer re-ran the journal's segment-union +
    // argmax resolution — an O(base) shuffle apiece. The rederive tier
    // is O(base) by nature, so one materialized copy is within its
    // cost envelope at every scale and deletes the repeats.
    val b = stripG(baseJ.snapshot()).localCheckpoint()
    val target = program(b).localCheckpoint()
    val closed = cur()
    closedJ.commitDistinct(
      adds = withG(target.join(closed, Seq("s", "p", "o"), "left_anti")),
      dels = withG(closed.join(target, Seq("s", "p", "o"), "left_anti")))
  }

  /** Assert a statement batch: the delta's closure (exact — the RDFS
    * strata join only broadcast-sized ontology tables, so entailments
    * of the delta depend on the delta alone) lands as ONE closed-store
    * commit; duplicates against already-entailed rows resolve by the
    * journal's set semantics. An OWL-touching delta re-derives the
    * program (see class doc) — the base commits FIRST either way, so
    * crash recovery always rolls the closure forward. */
  def assertTriples(delta: DataFrame): Long = {
    val d = delta.select("s", "p", "o").distinct().localCheckpoint()
    // ONE predicate-set collect feeds the vocabulary probe, the tier
    // decision and midDelta's touched-predicate set — driver-side set
    // tests instead of a driver-blocking isEmpty job each
    val dPreds = predsOf(d)
    if (dynamic && touchesVocabPreds(d, dPreds)) {
      // the delta REWRITES the program (new TBox edge / property
      // characteristic / first co-reference): entailments of EXISTING
      // statements change, so no delta-bounded path is exact
      cachedProgram = None
      baseJ.appendRaw(withG(d))
      return rederiveCommit()
    }
    // delta doesn't touch vocabulary, so the pre-delta base's program
    // config is the post-delta one too. All inputs below are distinct
    // by construction (d is distinct()-ed above; Rdfs.closure output
    // is distinct) — appendRaw skips the commit's redundant dedup
    // shuffle on every arm.
    val (effOnt, effOwl) = effective(stripG(baseJ.snapshot()))
    val tier = effOwl.map(o => tierOf(d, o, dPreds)).getOrElse("fast")
    tier match {
      case "fast" =>
        baseJ.appendRaw(withG(d))
        closedJ.appendRaw(withG(closureOfDistinct(d, effOnt)))
      case "mid" =>
        // the canon + closed-store reads run against the PRE-delta
        // state by construction (canon unchanged; incrementalTc takes
        // the prior closure), so compute the delta first, then commit
        // base-before-closed like every path (recovery rolls forward)
        val owlNew = midDelta(d, effOwl.get, dPreds).localCheckpoint()
        baseJ.appendRaw(withG(d))
        closedJ.appendRaw(withG(closureOfDistinct(owlNew, effOnt)))
      case _ =>
        baseJ.appendRaw(withG(d))
        rederiveCommit()
    }
  }

  /** Retract a statement batch via DRed: tombstone exactly the rows
    * whose every derivation died ([[Rdfs.retractRemoved]] — overdelete
    * minus the neighborhood's rederivations). With an OWL program the
    * retraction re-derives and diffs (sameAs splits and lost
    * transitive support make removal non-local — the scope note in
    * the class doc; the reference's TM pays the same shape on its
    * full-closure stores). */
  def retractTriples(retracted: DataFrame): Long = {
    val r = retracted.select("s", "p", "o").distinct().localCheckpoint()
    if (dynamic && touchesVocab(r)) {
      // retracting program vocabulary UN-derives entailments of
      // untouched instance statements — re-derive under the shrunk
      // program and diff
      cachedProgram = None
      baseJ.commitDistinct(adds = none, dels = withG(r))
      return rederiveCommit()
    }
    // r is distinct()-ed above; retractRemoved output is an anti-join
    // of a distinct closure — commitDistinct skips the redundant dedup
    val (effOnt, effOwl) = effective(stripG(baseJ.snapshot()))
    effOwl match {
      case Some(_) =>
        baseJ.commitDistinct(adds = none, dels = withG(r))
        rederiveCommit()
      case None =>
        val removed = Rdfs
          .retractRemoved(stripG(baseJ.snapshot()), r, effOnt)
          .localCheckpoint()
        baseJ.commitDistinct(adds = none, dels = withG(r))
        closedJ.commitDistinct(adds = none, dels = withG(removed))
    }
  }

  /** Atomic remove+insert: ONE base commit and ONE closed commit
    * carry the whole delta — the UPDATE-with-body contract (the
    * reference's updatePost applies the removal and insert inside one
    * connection commit). The in-commit cancellation law matches the
    * journal's own (dels before adds: a row in both survives — it is
    * excluded from the net removal up front). A crash between the two
    * journal writes is repaired by the lockstep recovery
    * ([[repairLockstep]]), same as every other path. */
  def commitDelta(adds: DataFrame, dels: DataFrame): Long = {
    val a = adds.select("s", "p", "o").distinct().localCheckpoint()
    val d0 = dels.select("s", "p", "o").distinct().localCheckpoint()
    val dEff = d0.join(a, Seq("s", "p", "o"), "left_anti").localCheckpoint()
    if (dEff.isEmpty) return assertTriples(a)
    if (a.isEmpty) return retractTriples(dEff)
    if (dynamic && (touchesVocab(a) || touchesVocab(dEff))) {
      cachedProgram = None
      baseJ.commitDistinct(adds = withG(a), dels = withG(dEff))
      return rederiveCommit()
    }
    // a / dEff / closure / retractRemoved outputs are all distinct by
    // construction — commitDistinct throughout (see assertTriples)
    val (effOnt, effOwl) = effective(stripG(baseJ.snapshot()))
    effOwl match {
      case Some(_) =>
        // OWL removal is non-local (see retractTriples) — re-derive
        baseJ.commitDistinct(adds = withG(a), dels = withG(dEff))
        rederiveCommit()
      case None =>
        // RDFS: DRed the removal against the PRE state, entail the
        // adds delta-locally; one closed commit applies both, the
        // journal's adds-outrank-dels resolution keeping any row the
        // insert re-derives
        val removed = Rdfs
          .retractRemoved(stripG(baseJ.snapshot()), dEff, effOnt)
          .localCheckpoint()
        baseJ.commitDistinct(adds = withG(a), dels = withG(dEff))
        closedJ.commitDistinct(adds = withG(closureOfDistinct(a, effOnt)),
          dels = withG(removed))
    }
  }

  /** `suppressTruthMaintenance` analog (the reference's update
    * servlets all accept it — QueryServlet.java:132,
    * DeleteServlet.java:128): the statement delta lands VERBATIM in
    * both journals (lockstep preserved, one version each), NO closure
    * maintenance runs. Entailments of a suppressed commit stay absent
    * until the next commit that takes the re-derive tier or an
    * explicit [[reclose]] — the reference's contract: the caller owns
    * the closure's staleness until the store is re-closed. */
  def commitRaw(adds: DataFrame, dels: DataFrame): Long = {
    val a = adds.select("s", "p", "o").distinct().localCheckpoint()
    val dl = dels.select("s", "p", "o").distinct().localCheckpoint()
    // a suppressed delta may carry vocabulary — drop the program cache
    // unconditionally (recomputing it is one declaration-slice scan)
    cachedProgram = None
    baseJ.commitDistinct(adds = withG(a), dels = withG(dl))
    closedJ.commitDistinct(adds = withG(a), dels = withG(dl))
  }

  /** Re-derive the full program on the current base and commit the
    * diff — the explicit re-close after [[commitRaw]] suppression
    * (the reference's database-at-once closure). The base journal
    * commits a no-op record first so the two logs stay in lockstep
    * (the recovery invariant). */
  def reclose(): Long = {
    baseJ.commitDistinct(adds = none, dels = none)
    rederiveCommit()
  }

  /** The asserted statements at commit point `v` (default latest). */
  def base(v: Long = -1L): DataFrame = stripG(baseJ.snapshot(v))

  /** The ENTAILED state at commit point `v` (default latest). */
  def closure(v: Long = -1L): DataFrame = stripG(closedJ.snapshot(v))

  /** Seal both journals' current state for fast steady-state reads. */
  def compact(): Unit = { baseJ.compact(); closedJ.compact(); () }

  /** The underlying journals (asserted base, entailed closed) — the
    * server's truthMaintenance tenants scope `SERVICE bd:history` and
    * online backup on them. */
  private[graft] def journals: (Journal, Journal) = (baseJ, closedJ)

  /** Lockstep recovery — assert/retract commit the two journals
    * non-atomically (base first), so a crash between the two publishes
    * leaves the closure exactly ONE commit behind. [[MaintainedClosure.open]]
    * calls this: the missing closure delta is recomputed from the base
    * journal's own last commit (adds → incremental closure, dels →
    * DRed removed-set against the pre-commit base — the same
    * |delta|-shaped math the live paths use, though the recovery diff
    * itself reads two base snapshots; recovery is a crash-rare path).
    * An OWL program recovers by re-derive-and-diff — the same math its
    * live paths use. Any other version skew has no single-step repair
    * and fails loud. */
  private def repairLockstep(): Unit = {
    val bv = baseJ.version
    val cv = closedJ.version
    if (bv == cv) ()
    else if (bv == cv + 1) {
      // the crash may have hit INSIDE the closure journal's own commit
      // — after its segment write, before its record publish. Those
      // orphan segments are unreachable by readers but would make the
      // recovery commit's own segment write fail (`errorifexists`);
      // clear them first so recovery converges instead of wedging.
      closedJ.dropOrphanSegments(cv + 1)
      // dynamic mode recovers by re-derive-and-diff too: the crashed
      // commit may have been the one that changed the program
      if (dynamic || owl.isDefined) { rederiveCommit(); return }
      val before = stripG(baseJ.snapshot(cv)).localCheckpoint()
      val after = stripG(baseJ.snapshot(bv)).localCheckpoint()
      val added = after.exceptAll(before)
      val retracted = before.exceptAll(after)
      closedJ.commitDistinct(
        adds = withG(Rdfs.closure(added, ont)),
        dels = withG(Rdfs.retractRemoved(before, retracted, ont)))
      ()
    } else throw new IllegalStateException(
      s"maintained store out of step beyond repair: base at v$bv, closure at v$cv")
  }
}

object MaintainedClosure {
  /** Initialize at `dir` (creates `dir/base` and `dir/closed`).
    * `owl`: maintain the full RDFS+OWL program (the reference's
    * FullClosure analog) instead of RDFS alone. */
  def create(spark: SparkSession, dir: String, ont: Rdfs.Ontology,
             owl: Option[Owl.Ontology] = None): MaintainedClosure =
    new MaintainedClosure(spark, ont, owl,
      Journal.create(spark, s"$dir/base"), Journal.create(spark, s"$dir/closed"))

  /** Reattach to an existing maintained store, verifying the two
    * journals advance in lockstep and rolling the closure forward by
    * one recomputed delta if a crash landed between their commits. */
  def open(spark: SparkSession, dir: String, ont: Rdfs.Ontology,
           owl: Option[Owl.Ontology] = None): MaintainedClosure = {
    val tm = new MaintainedClosure(spark, ont, owl,
      Journal.open(spark, s"$dir/base"), Journal.open(spark, s"$dir/closed"))
    tm.repairLockstep()
    tm
  }

  /** Initialize a DYNAMIC-ontology maintained store: the program's
    * TBox (subClassOf/subPropertyOf/domain/range, equivalences, OWL
    * property characteristics, inverseOf) is read from the STATEMENTS
    * themselves at each commit — the server's truthMaintenance
    * namespaces, where the ontology arrives over the protocol as
    * data. A delta touching that vocabulary re-derives the program;
    * every other delta keeps the tiered incremental paths. */
  def createDynamic(spark: SparkSession, dir: String): MaintainedClosure =
    new MaintainedClosure(spark, emptyOnt(spark), None,
      Journal.create(spark, s"$dir/base"), Journal.create(spark, s"$dir/closed"),
      dynamic = true)

  /** Reattach a dynamic-ontology maintained store (see
    * [[createDynamic]]); crash recovery re-derives and diffs. */
  def openDynamic(spark: SparkSession, dir: String): MaintainedClosure = {
    val tm = new MaintainedClosure(spark, emptyOnt(spark), None,
      Journal.open(spark, s"$dir/base"), Journal.open(spark, s"$dir/closed"),
      dynamic = true)
    tm.repairLockstep()
    tm
  }

  private def emptyOnt(spark: SparkSession): Rdfs.Ontology = {
    import spark.implicits._
    Rdfs.Ontology(
      subClassOf = Seq.empty[(String, String)].toDF("sub", "sup"),
      subPropertyOf = Seq.empty[(String, String)].toDF("sub", "sup"),
      domain = Seq.empty[(String, String)].toDF("p", "cls"),
      range = Seq.empty[(String, String)].toDF("p", "cls"))
  }

  /** ONE-pass dynamic-mode program extraction: collect the full
    * vocabulary slice (TBox predicates + OWL property-characteristic
    * `type` rows, incl. inverseOf) in a SINGLE job, build both program
    * halves driver-side as LocalRelations, and probe sameAs presence
    * with one more job. Semantically identical to
    * [[ontologyFrom]] + [[owlOntologyFrom]] (spec-pinned) — but those
    * leave the TBox tables as snapshot-filter PLANS, so every
    * closure's ontology read re-ran the snapshot resolution (segment
    * union + argmax) per commit: 6+ vocabulary jobs per extraction
    * become 2, and [[Rdfs.provablyEmpty]] can see an empty program.
    * TBox slices are broadcast-sized by definition — the closure
    * collects them anyway. */
  private[inference] def extractProgram(spark: SparkSession, statements: DataFrame)
      : (Rdfs.Ontology, Option[Owl.Ontology]) = {
    import spark.implicits._
    val vocab = statements.filter(
        col("p").isin(TboxPreds: _*) ||
          (col("p") === "type" && col("o").isin(PropertyTypeObjects: _*)))
      .select("s", "p", "o").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    def pairs(p: String) = vocab.collect { case (s, `p`, o) => (s, o) }.toSeq
    def mutual(ps: Seq[(String, String)]) = ps ++ ps.map(_.swap)
    val ont = Rdfs.Ontology(
      subClassOf = (pairs("subClassOf") ++ mutual(pairs("equivalentClass")))
        .toDF("sub", "sup"),
      subPropertyOf = (pairs("subPropertyOf") ++ mutual(pairs("equivalentProperty")))
        .toDF("sub", "sup"),
      domain = pairs("domain").toDF("p", "cls"),
      range = pairs("range").toDF("p", "cls"))
    def typed(t: String) = vocab.collect { case (s, "type", `t`) => s }.toSeq
    val inverses = pairs("inverseOf")
    val owlVocab = vocab.exists { case (_, p, o) =>
      p == "inverseOf" || (p == "type" && PropertyTypeObjects.contains(o)) }
    val hasSameAs = !statements.filter(col("p") === "sameAs").isEmpty
    val owl =
      if (!owlVocab && !hasSameAs) None
      else Some(Owl.Ontology(
        transitive = typed("TransitiveProperty"),
        inverses = inverses,
        symmetric = typed("SymmetricProperty"),
        functional = typed("FunctionalProperty"),
        inverseFunctional = typed("InverseFunctionalProperty")))
    (ont, owl)
  }

  /** TBox vocabulary under the engine's local-name convention
    * ([[Rdfs]] emits `type`, queries write `subClassOf`): statements
    * under these predicates define the maintained program. `sameAs`
    * rides the same re-derive trigger in dynamic mode (a first
    * co-reference activates canonicalization over existing ids). */
  private[inference] val TboxPreds = Seq("subClassOf", "subPropertyOf",
    "domain", "range", "inverseOf", "equivalentClass", "equivalentProperty")

  /** `type`-object declarations of OWL property characteristics. */
  private[inference] val PropertyTypeObjects = Seq("TransitiveProperty",
    "SymmetricProperty", "FunctionalProperty", "InverseFunctionalProperty")

  /** Extract the RDFS ontology tables FROM the statements themselves
    * (the reference reads its vocabulary out of the store the same
    * way — the TBox is data). Equivalences fold in as mutual
    * sub-edges ([[Owl.withEquivalences]]' math, on the statement
    * slices directly). TBox slices are broadcast-sized by definition
    * — [[Rdfs.closure]] collects them for its driver-side tiny
    * closures either way. */
  def ontologyFrom(statements: DataFrame): Rdfs.Ontology = {
    def pairs(p: String) = statements.filter(col("p") === p).select("s", "o")
    def mutual(df: DataFrame) = df.toDF("sub", "sup")
      .unionAll(df.select(col("o"), col("s")).toDF("sub", "sup"))
    Rdfs.Ontology(
      subClassOf = pairs("subClassOf").toDF("sub", "sup")
        .unionAll(mutual(pairs("equivalentClass"))),
      subPropertyOf = pairs("subPropertyOf").toDF("sub", "sup")
        .unionAll(mutual(pairs("equivalentProperty"))),
      domain = pairs("domain").toDF("p", "cls"),
      range = pairs("range").toDF("p", "cls"))
  }

  /** OWL program declarations present in the statements (property
    * characteristics + inverseOf pairs); None when nothing OWL-shaped
    * — incl. no instance `sameAs` — is present, so a pure-RDFS store
    * keeps the delta-bounded DRed retraction path. The collect is the
    * declaration slice only (TBox-sized, never instance data). */
  def owlOntologyFrom(statements: DataFrame): Option[Owl.Ontology] = {
    val vocab = statements.filter(
      (col("p") === "type" && col("o").isin(PropertyTypeObjects: _*)) ||
        col("p") === "inverseOf")
      .select("s", "p", "o").distinct().collect()
    def typed(t: String) = vocab.collect {
      case r if r.getString(1) == "type" && r.getString(2) == t => r.getString(0)
    }.toSeq
    val inverses = vocab.collect {
      case r if r.getString(1) == "inverseOf" => (r.getString(0), r.getString(2))
    }.toSeq
    val hasSameAs = !statements.filter(col("p") === "sameAs").isEmpty
    if (vocab.isEmpty && !hasSameAs) None
    else Some(Owl.Ontology(
      transitive = typed("TransitiveProperty"),
      inverses = inverses,
      symmetric = typed("SymmetricProperty"),
      functional = typed("FunctionalProperty"),
      inverseFunctional = typed("InverseFunctionalProperty")))
  }
}
