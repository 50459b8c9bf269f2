package graft.inference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.plans.LocalTier

/** RDFS forward-chaining closure.
  *
  * Blazegraph materializes RDFS entailments at load time with its rule
  * engine (bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/rules/
  * RuleRdfs05.java, RuleRdfs07.java, RuleRdfs09.java, RuleRdfs11.java,
  * RuleRdfs02.java, RuleRdfs03.java + InferenceEngine). The rule set is
  * stratified, and every rule has ONE instance-data antecedent — its
  * other antecedents are ontology statements:
  *   1. subClassOf / subPropertyOf close transitively (rdfs11 / rdfs5)
  *      on the driver — the ontology is broadcast-sized by definition;
  *   2. [[Rules.derive]] then maps one instance triple to everything it
  *      entails: its rdfs7 lifts along subPropertyOf, the rdfs2/3
  *      domain/range types of those, their rdfs9 lifts along
  *      subClassOf, and optionally the axiomatic rules.
  * So the closure is distinct(flatMap(derive)): one map-side pass and
  * one shuffle at any size, or the same function over probed rows on
  * the driver below the tier limit.
  */
object Rdfs {

  case class Ontology(subClassOf: DataFrame,    // (sub, sup)
                      subPropertyOf: DataFrame, // (sub, sup)
                      domain: DataFrame,        // (p, cls)
                      range: DataFrame)         // (p, cls)

  /** A broadcast-sized (a, b) ontology table's rows: off the plan with
    * zero jobs when it is local (driver-built Seqs, the TM
    * extractProgram slices), else one collect. */
  private def tablePairs(df: DataFrame): Seq[(String, String)] =
    LocalTier.planRows(df).getOrElse(df.collect()).toSeq
      .map(r => (r.getString(0), r.getString(1)))

  private[inference] def provablyEmpty(ont: Ontology): Boolean =
    Seq(ont.subClassOf, ont.subPropertyOf, ont.domain, ont.range)
      .forall(LocalTier.provablyEmpty)

  /** The closed ontology as driver maps — all [[derive]] reads.
    * Serializable, so the distributed pass ships it with its tasks. */
  private final case class Rules(subC: Map[String, Seq[String]],
                                subP: Map[String, Seq[String]],
                                dom: Map[String, Seq[String]],
                                rng: Map[String, Seq[String]],
                                axiomatic: Boolean) {

    /** Every triple one instance triple (s p o) entails, itself
      * included (duplicates allowed; the caller's distinct drops them):
      *  - rdfs7: (s q o) for each p ⊑* q;
      *  - rdfs2/3: (s type c) for each domain c, (o type c) for each
      *    range c, of p and of every such q;
      *  - rdfs9: each of those types, and a lifted (s type c) itself,
      *    lifted along c ⊑* c';
      *  - with `axiomatic`, the RDF/RDFS axiomatic-rule entailments
      *    (reference: rules/RuleRdf01.java, RuleRdfs04a.java and
      *    siblings — Blazegraph ships them behind its axioms/forwardChain
      *    options, commonly OFF because they type every term as
      *    Resource/Property; same default here): rdf1 (p type
      *    Property), rdfs4a/4b (s, o type Resource), rdfs6 (p ⊑ p),
      *    and for each class c typed above BEFORE the rdfs9 lift —
      *    the type objects in play; the model types instances, not
      *    classes — rdfs8/10 (c ⊑ Resource, c ⊑ c), rdfs12 (a
      *    ContainerMembershipProperty ⊑ member) and rdfs13 (a
      *    Datatype ⊑ Literal). */
    def derive(s: String, p: String, o: String): Iterable[(String, String, String)] = {
      val out = scala.collection.mutable.ArrayBuffer((s, p, o))
      val types0 = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (q <- p +: subP.getOrElse(p, Nil)) {
        if (q != p) out += ((s, q, o))
        if (q == "type") types0 += ((s, o))
        dom.getOrElse(q, Nil).foreach(c => types0 += ((s, c)))
        rng.getOrElse(q, Nil).foreach(c => types0 += ((o, c)))
      }
      for ((x, c) <- types0) {
        out += ((x, "type", c))
        subC.getOrElse(c, Nil).foreach(c2 => out += ((x, "type", c2)))
      }
      if (axiomatic) {
        out += ((p, "type", "Property"))
        out += ((s, "type", "Resource"))
        out += ((o, "type", "Resource"))
        out += ((p, "subPropertyOf", p))
        for ((x, c) <- types0) {
          out += ((c, "subClassOf", "Resource"))
          out += ((c, "subClassOf", c))
          if (c == "ContainerMembershipProperty") out += ((x, "subPropertyOf", "member"))
          if (c == "Datatype") out += ((x, "subClassOf", "Literal"))
        }
      }
      out
    }
  }

  /** The ontology read once per closure: sub-class and sub-property
    * edges closed transitively on the driver (rdfs11 / rdfs5). */
  private def rules(ont: Ontology, axiomatic: Boolean): Rules = {
    def multi(ps: Iterable[(String, String)]): Map[String, Seq[String]] =
      ps.groupMap(_._1)(_._2).map { case (k, vs) => k -> vs.toSeq.distinct }
    def closed(df: DataFrame) = multi(LocalTier.closure(tablePairs(df)).toSeq)
    Rules(closed(ont.subClassOf), closed(ont.subPropertyOf),
      multi(tablePairs(ont.domain)), multi(tablePairs(ont.range)), axiomatic)
  }

  /** Full closure of instance triples (s,p,o) under the ontology. */
  def closure(instance: DataFrame, ont: Ontology, axiomatic: Boolean = false): DataFrame = {
    // EMPTY program (all four ontology tables provably empty, no
    // axiomatic rules): every rule is a no-op and the closure is the
    // instance set itself — skip the ontology reads and the derive
    // pass. The truth-maintenance fast tiers hit this on every commit
    // of an RDFS-empty store.
    if (!axiomatic && provablyEmpty(ont)) return instance.distinct()
    val spark = instance.sparkSession
    import spark.implicits._
    val r = rules(ont, axiomatic)
    // The probe and the pass both read the instance, so it is
    // materialized once; a LocalRelation input (an Owl.closure
    // driver-tier result, a driver-built delta) already is, and its
    // rows come off the plan with zero jobs. Below the tier limit
    // derive runs over the probed rows on the driver and the closure
    // lands as a LocalRelation; above it, one map-side pass and one
    // distinct.
    val inst =
      if (LocalTier.planRows(instance).isDefined) instance
      else instance.localCheckpoint()
    LocalTier.strings(inst, LocalTier.Rdfs, 3).foreach { rows =>
      return rows.iterator.flatMap(t => r.derive(t(0), t(1), t(2))).distinct.toSeq
        .toDF("s", "p", "o")
    }
    inst.select("s", "p", "o").as[(String, String, String)]
      .flatMap { case (s, p, o) => r.derive(s, p, o) }
      .toDF("s", "p", "o").distinct()
  }

  /** Incremental assertion — the truth-maintenance fast path
    * (reference: com.bigdata.rdf.inf.TruthMaintenance +
    * SPOAssertionBuffer: newly asserted statements run through the
    * rules against the already-closed store instead of re-closing
    * everything). The RDFS rule set is stratified with broadcast-sized
    * ontology tables, so the delta's entailments depend only on the
    * delta itself: closing the delta alone and unioning is exact.
    * Retraction has no such shortcut (a derived triple may have other
    * supports) — the Spark-native answer is that the closure is a
    * recomputable VIEW, so retraction = recompute (reference gets the
    * same effect via its "database-at-once" closure mode). */
  def incrementalClosure(closed: DataFrame, delta: DataFrame, ont: Ontology): DataFrame =
    closed.unionAll(closure(delta, ont)).distinct()

  /** Incremental RETRACTION via delete-rederive (DRed; reference:
    * com.bigdata.rdf.inf.TruthMaintenance retraction path, which
    * likewise computes the focused closure of the removed statements
    * and re-derives survivors, rather than re-closing the store).
    *
    * The RDFS rule set's derivations are UNARY chains from single base
    * statements (every join partner is a broadcast-sized ontology
    * table), so:
    *  1. overdelete = closure(retracted) — everything the retracted
    *     statements could ever have derived (|retracted|-sized);
    *  2. supporters = surviving base statements sharing a subject or
    *     object with an overdeleted triple — the only rows whose
    *     derivation chains can re-support one (retraction-sized
    *     semi-joins against the base, never a full re-closure);
    *  3. rederive = closure(supporters) ∩ overdelete;
    *  4. result = closed − overdelete + rederived.
    * Cost scales with |retracted| and its neighborhood, not |store|. */
  def retractClosure(closed: DataFrame, base: DataFrame,
                     retracted: DataFrame, ont: Ontology): DataFrame =
    closed.join(retractRemoved(base, retracted, ont), Seq("s", "p", "o"), "left_anti")

  /** The delta-scoped REMOVED set of a retraction: overdelete minus
    * what the retraction's neighborhood re-derives (steps 1-3 of the
    * DRed recipe) — |retracted|-sized, never |store|-sized. This is
    * what a maintained-closure store commits as tombstones
    * ([[MaintainedClosure]]); [[retractClosure]] is one anti-join on
    * top of it. */
  def retractRemoved(base: DataFrame, retracted: DataFrame,
                     ont: Ontology): DataFrame = {
    val spo = Seq("s", "p", "o")
    val over0 = closure(retracted, ont)
    // a driver-tier closure is already a LocalRelation — checkpointing
    // it would pay a job to make it strictly worse (downstream joins
    // lose the broadcast-for-sure LocalRelation shape)
    val over = if (LocalTier.planRows(over0).isDefined) over0 else over0.localCheckpoint()
    val remaining = base.join(retracted.select(spo.map(col): _*), spo, "left_anti")
    val keys = over.select(col("s"))
      .unionAll(over.select(col("o").as("s"))).distinct()
    val supporters = remaining.join(keys, Seq("s"), "left_semi")
      .select(spo.map(col): _*)
      .unionAll(remaining.join(keys.withColumnRenamed("s", "o"), Seq("o"), "left_semi")
        .select(spo.map(col): _*))
      .distinct()
    val rederived = closure(supporters, ont).join(over, spo, "left_semi")
    over.join(rederived, spo, "left_anti")
  }
}
