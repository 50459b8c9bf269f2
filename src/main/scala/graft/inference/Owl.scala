package graft.inference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Fixpoint, LocalTier}

/** OWL-ish forward-chaining rules layered over [[Rdfs]].
  *
  * Covers the rule families Blazegraph ships beyond RDFS
  * (bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/rules/):
  *  - owl:sameAs (RuleOwlSameAs1/2/3.java) — handled as co-reference
  *    NORMALIZATION: the sameAs graph's connected components pick a
  *    canonical id (min label) and every triple is rewritten onto the
  *    canonical ids. Materializing the pairwise sameAs clique is
  *    O(k²) per clique; normalization is the shape that scales (it is
  *    also what Blazegraph's "vocab + IV smush" effectively does).
  *  - owl:FunctionalProperty / owl:InverseFunctionalProperty — entail
  *    sameAs pairs; derived ON CANONICAL ids to fixpoint, since a
  *    merge can expose new shared keys (s1 sameAs s2, s1 p o1,
  *    s2 p o2 ⇒ o1 sameAs o2 only after s1/s2 merge).
  *  - owl:TransitiveProperty (RuleOwlTransitiveProperty1.java) —
  *    per declared predicate, a frontier-fixpoint transitive closure.
  *  - owl:inverseOf (RuleOwlInverseOf1/2.java) and
  *    owl:SymmetricProperty — mirror joins applied BOTH before the
  *    transitive step (so closures compose through mirrored edges —
  *    a symmetric+transitive predicate needs its base symmetrized
  *    first) and after it (so closed edges reflect into the inverse
  *    partner). The closure of a symmetrized relation is symmetric,
  *    so this stratification reaches the fixpoint: the post-mirror
  *    introduces no edge the closure step would grow further.
  */
object Owl {

  /** Declarative bits of the ontology (the instance data carries the
    * `sameAs` triples themselves). `functional` properties derive
    * sameAs: (s p o₁) ∧ (s p o₂) ⇒ o₁ sameAs o₂
    * (RuleOwlFunctionalProperty); `inverseFunctional` mirrors it on
    * the subject side (RuleOwlInverseFunctionalProperty). */
  case class Ontology(transitive: Seq[String] = Nil,
                      inverses: Seq[(String, String)] = Nil,
                      symmetric: Seq[String] = Nil,
                      functional: Seq[String] = Nil,
                      inverseFunctional: Seq[String] = Nil)

  /** Rewrite s/o onto canonical ids. The canonical map is
    * INSTANCE-derived (explicit sameAs triples + functional-property
    * entailments) — unlike the ontology tables it is not
    * broadcast-sized by definition and can reach billions of rows on a
    * web-scale corpus. No broadcast hint: AQE broadcasts when the
    * runtime size estimate fits, shuffles otherwise. */
  private[inference] def normalizeBy(df: DataFrame, canon: DataFrame): DataFrame = df
    .join(canon.withColumnRenamed("id", "s").withColumnRenamed("canon", "_cs"),
      Seq("s"), "left")
    .join(canon.withColumnRenamed("id", "o").withColumnRenamed("canon", "_co"),
      Seq("o"), "left")
    .select(coalesce(col("_cs"), col("s")).as("s"), col("p"),
            coalesce(col("_co"), col("o")).as("o"))

  /** sameAs pairs functional / inverse-functional properties entail on
    * `inst` (joins stay bounded: per key the value multiplicity is the
    * point of the declaration — violations are tiny by definition). */
  private def entailedPairs(inst: DataFrame, ont: Ontology): Seq[DataFrame] = {
    val fn = ont.functional.map { p =>
      val e = inst.filter(col("p") === p)
      e.select(col("s").as("k"), col("o").as("src"))
        .join(e.select(col("s").as("k"), col("o").as("dst")), "k")
        .filter(col("src") < col("dst")).select("src", "dst")
    }
    val ifn = ont.inverseFunctional.map { p =>
      val e = inst.filter(col("p") === p)
      e.select(col("o").as("k"), col("s").as("src"))
        .join(e.select(col("o").as("k"), col("s").as("dst")), "k")
        .filter(col("src") < col("dst")).select("src", "dst")
    }
    fn ++ ifn
  }

  /** Components of a (src, dst) co-reference pair frame as (id, canon)
    * rows for ids whose canon differs. sameAs cliques are tiny in
    * practice, so below the inference budget the one union-find
    * resolves them driver-side; above it the distributed
    * label-propagation loop takes over unchanged. */
  private def componentsOf(pairs: DataFrame): DataFrame =
    LocalTier.strings(pairs, LocalTier.Inference, 2) match {
      case Some(rows) =>
        val spark = pairs.sparkSession
        import spark.implicits._
        canonMap(rows.map(r => (r(0), r(1)))).toDF("id", "canon")
      case None =>
        graft.gas.Analytics.connectedComponents(pairs, maxIter = 256)
          .filter(col("node") =!= col("label"))
          .select(col("node").as("id"), col("label").as("canon"))
    }

  /** Changed ids of the min-label union-find over probed pairs. */
  private def canonMap(pairs: Iterable[(String, String)]): Seq[(String, String)] =
    LocalTier.minLabels(pairs).filter { case (id, c) => id != c }

  /** Canonical-id mapping (id → canon): min label over each sameAs
    * component, iterated with the functional-property entailments to
    * FIXPOINT — a merge can expose new shared functional keys, so
    * pairs are re-derived on canonicalized ids until no new
    * co-reference appears (rounds track sameAs/functional nesting
    * depth; 1-2 in practice, capped defensively). */
  def sameAsCanon(instance: DataFrame, ont: Ontology = Ontology()): DataFrame = {
    val explicit = instance.filter(col("p") === "sameAs")
      .select(col("s").as("src"), col("o").as("dst"))
    val allPairs = (explicit +: entailedPairs(instance, ont)).reduce(_ unionAll _)
    // No functional family ⇒ no fixpoint rounds: the one bounded
    // probe answers empty / small / large at once (empty canon is the
    // common structural-only case).
    if (ont.functional.isEmpty && ont.inverseFunctional.isEmpty)
      return componentsOf(allPairs)
    var (pairs, n0) = Fixpoint.materialize(allPairs)
    // no co-reference at all (common on structural-only stores): the
    // canonical map is empty — return a LocalRelation so downstream
    // normalizeBy joins fold away under PropagateEmptyRelation instead
    // of paying the connected-components loop's jobs on nothing
    if (n0 == 0) {
      val spark = instance.sparkSession
      import spark.implicits._
      return Seq.empty[(String, String)].toDF("id", "canon")
    }
    var canon = componentsOf(pairs)
    // silent truncation would return an incomplete canonical map —
    // same hard-fail policy as the Compiler closure guards
    Fixpoint.converge("owl.sameAs", 8) { _ =>
      // derive on CANONICAL ids: two objects already co-referent
      // normalize to one id and drop out under src < dst, so every
      // surviving pair is a genuinely new merge
      val (fresh, n) = Fixpoint.materialize(
        entailedPairs(normalizeBy(instance, canon), ont).reduce(_ unionAll _))
      if (n > 0) {
        pairs = pairs.unionAll(fresh).localCheckpoint()
        canon = componentsOf(pairs)
      }
      n > 0
    }
    canon
  }

  /** owl:equivalentClass / owl:equivalentProperty
    * (RuleOwlEquivalentClass.java / RuleOwlEquivalentProperty.java):
    * a ≡ b ⇔ a ⊑ b ∧ b ⊑ a, so equivalences fold into the RDFS
    * ontology as MUTUAL sub-edges — the existing driver-side
    * sub-edge closures and rdfs7/rdfs9 lifts then entail both
    * directions with no new rule machinery (and equivalence composes
    * transitively with declared sub-edges for free). */
  def withEquivalences(ont: Rdfs.Ontology,
                       equivalentClasses: Seq[(String, String)] = Nil,
                       equivalentProperties: Seq[(String, String)] = Nil): Rdfs.Ontology = {
    val spark = ont.subClassOf.sparkSession
    import spark.implicits._
    def mutual(ps: Seq[(String, String)]) = ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val subC =
      if (equivalentClasses.isEmpty) ont.subClassOf
      else ont.subClassOf.unionAll(mutual(equivalentClasses).toDF("sub", "sup"))
    val subP =
      if (equivalentProperties.isEmpty) ont.subPropertyOf
      else ont.subPropertyOf.unionAll(mutual(equivalentProperties).toDF("sub", "sup"))
    ont.copy(subClassOf = subC, subPropertyOf = subP)
  }

  /** owl:hasValue (RuleOwlHasValue.java): a restriction class R with
    * owl:onProperty p / owl:hasValue v types every instance holding
    * (x p v): (x p v) ⇒ (x type R). `restrictions(cls, p, v)` is
    * declarative ontology — broadcast-sized by definition — so this is
    * ONE broadcast join against the instance data, no shuffle. Union
    * the result into the instance BEFORE an RDFS closure and the
    * restriction types lift through subClassOf like any other. */
  def hasValueTypes(instance: DataFrame, restrictions: DataFrame): DataFrame =
    instance
      .join(broadcast(restrictions.select(col("cls"), col("p"), col("v").as("o"))),
        Seq("p", "o"))
      .select(col("s"), lit("type").as("p"), col("cls").as("o"))

  /** NEW pairs of TC(closed ∪ delta) given `closed` ALREADY
    * transitively closed — every pair whose derivation uses ≥1 delta
    * edge (semi-naive over one-delta-segment paths: f1 = T?∘D∘T?
    * absorbs the closed runs around each delta segment because T is
    * closed, so T∘T = T; longer paths chain f1 pieces, and a chained
    * pair already present in T is safely dropped from the frontier —
    * any extension through it re-derives as T∘f1 ⊆ f1). Columns
    * (from, to) on both inputs; output excludes pairs already in
    * `closed`. The incremental-maintenance kernel
    * [[graft.inference.MaintainedClosure]] uses for non-merge
    * transitive asserts — joins are delta-keyed (the delta side
    * drives both composes), never a re-closure of the relation. */
  private[graft] def incrementalTc(closed: DataFrame, delta: DataFrame): DataFrame = {
    def comp(x: DataFrame, y: DataFrame): DataFrame =
      x.select(col("from"), col("to").as("m"))
        .join(y.select(col("from").as("m"), col("to")), "m")
        .select("from", "to")
    // CONTRACT: both inputs arrive duplicate-free and MATERIALIZED
    // (the one caller, MaintainedClosure.midDelta, passes slices of
    // its checkpointed frames) — re-distinct + re-checkpoint here paid
    // two redundant driver-blocking jobs per touched predicate.
    //
    // Small-input tier: both inputs are (from, to) string frames the
    // caller has already materialized, so two probes feed the
    // identical semi-naive composition + path-doubling set algebra
    // driver-side — the f1/grown exchanges were ~10 driver-blocking
    // AQE jobs per touched predicate on delta-sized data.
    (LocalTier.strings(closed, LocalTier.Inference, 2),
     LocalTier.strings(delta, LocalTier.Inference, 2)) match {
      case (Some(t0), Some(d0)) =>
        if (d0.isEmpty) return delta
        def comp(x: Iterable[(String, String)],
                 yByFrom: Map[String, Seq[String]]): Set[(String, String)] =
          x.iterator.flatMap { case (a, b) =>
            yByFrom.getOrElse(b, Nil).map(c => (a, c)) }.toSet
        def byFrom(ps: Iterable[(String, String)]): Map[String, Seq[String]] =
          ps.groupBy(_._1).map { case (k, vs) => k -> vs.toSeq.map(_._2) }
        val tSet = t0.map(r => (r(0), r(1))).toSet
        val dSet = d0.map(r => (r(0), r(1))).toSet
        val tIx = byFrom(tSet)
        val dIx = byFrom(dSet)
        val td = comp(tSet, dIx)
        val f1 = dSet ++ td ++ comp(dSet, tIx) ++ comp(td, tIx)
        var acc = f1
        Fixpoint.converge("owl.incrementalTc", 64) { _ =>
          val grown = comp(acc, byFrom(acc)) -- acc -- tSet
          acc ++= grown
          grown.nonEmpty
        }
        val spark = delta.sparkSession
        import spark.implicits._
        return (acc -- tSet).toSeq.toDF("from", "to")
      case _ => ()
    }
    val d = delta
    if (d.isEmpty) return d
    val t = closed
    val f1 = d.unionAll(comp(t, d)).unionAll(comp(d, t))
      .unionAll(comp(comp(t, d), t))
      .distinct().localCheckpoint()
    // PATH DOUBLING: f1 already holds every path crossing exactly ONE
    // delta edge (t is closed, so its runs are single edges), and
    // composing the accumulator with itself doubles the number of
    // delta edges a path may cross per round — k rounds cover 2^k
    // delta edges on one path, so convergence depth is logarithmic in
    // the longest delta chain (a 64-round cap is unreachable; the
    // prior frontier∘f1 form grew linearly and a >64-edge chain in
    // ONE commit failed loud)
    var acc = f1
    Fixpoint.converge("owl.incrementalTc", 64) { _ =>
      val (grown, n) = Fixpoint.materialize(comp(acc, acc)
        .join(acc, Seq("from", "to"), "left_anti")
        .join(t, Seq("from", "to"), "left_anti")
        .distinct())
      // disjoint by grown's anti-join; both sides internally distinct
      if (n > 0) acc = acc.unionAll(grown).localCheckpoint()
      n > 0
    }
    acc.join(t, Seq("from", "to"), "left_anti")
  }

  /** The whole [[closure]] pipeline over collected rows — the exact
    * driver replay of the distributed steps: sameAs/functional canon
    * to fixpoint, normalization, pre-mirror, per-predicate transitive
    * closure, post-mirror, one distinct. Pure string set operations,
    * so the replay is value-identical by construction (the spec pins
    * both tiers equal; the [[graft.plans.LocalTier.minLabels]]
    * convention is shared). */
  private def localOwlClosure(rows: Array[(String, String, String)],
                              ont: Ontology): Seq[(String, String, String)] = {
    def entailedLocal(data: Seq[(String, String, String)]): Set[(String, String)] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
      def keyPairs(p: String, key: (String, String, String) => String,
                   value: (String, String, String) => String): Unit =
        data.filter(_._2 == p).groupBy(t => key(t._1, t._2, t._3)).foreach { case (_, ts) =>
          val vs = ts.map(t => value(t._1, t._2, t._3))
          for (a <- vs; b <- vs if a < b) out += ((a, b))
        }
      ont.functional.foreach(p => keyPairs(p, (s, _, _) => s, (_, _, o) => o))
      ont.inverseFunctional.foreach(p => keyPairs(p, (_, _, o) => o, (s, _, _) => s))
      out.toSet
    }
    val rowSeq = rows.toSeq
    val explicit = rowSeq.filter(_._2 == "sameAs").map(t => (t._1, t._3))
    var pairs: Set[(String, String)] = explicit.toSet ++ entailedLocal(rowSeq)
    var canon = canonMap(pairs).toMap
    def norm(t: (String, String, String)) =
      (canon.getOrElse(t._1, t._1), t._2, canon.getOrElse(t._3, t._3))
    if (ont.functional.nonEmpty || ont.inverseFunctional.nonEmpty)
      Fixpoint.converge("owl.sameAs", 8) { _ =>
        val fresh = entailedLocal(rowSeq.map(norm))
        if (fresh.nonEmpty) { pairs ++= fresh; canon = canonMap(pairs).toMap }
        fresh.nonEmpty
      }
    val base = rowSeq.filter(_._2 != "sameAs").map(norm)
    val invPairs = ont.inverses.flatMap { case (p, q) => Seq(p -> q, q -> p) } ++
      ont.symmetric.map(p => p -> p)
    val preMirrored = invPairs.flatMap { case (p, q) =>
      base.filter(_._2 == p).map(t => (t._3, q, t._1)) }
    var acc: Seq[(String, String, String)] = base ++ preMirrored
    ont.transitive.foreach { p =>
      val tc = LocalTier.closure(acc.filter(_._2 == p).map(t => (t._1, t._3)))
      acc = acc.filter(_._2 != p) ++ tc.map { case (f, t) => (f, p, t) }.toSeq
    }
    val mirrored = invPairs.flatMap { case (p, q) =>
      acc.filter(_._2 == p).map(t => (t._3, q, t._1)) }
    (acc ++ mirrored).distinct
  }

  /** OWL closure of (s,p,o) instance triples. sameAs triples are
    * consumed by normalization and not re-emitted. */
  def closure(instance: DataFrame, ont: Ontology): DataFrame = {
    // Small-input tier, same contract as Rdfs.closure's: the whole
    // pipeline (canon fixpoint, normalize, mirrors, per-predicate
    // transitive closure) replays driver-side as string set
    // operations; above the tier budget, or on any non-(s,p,o)-string
    // shape, the distributed steps below run unchanged.
    LocalTier.strings(instance, LocalTier.Inference, 3).foreach { rows =>
      val spark = instance.sparkSession
      import spark.implicits._
      return localOwlClosure(rows.map(t => (t(0), t(1), t(2))), ont).toDF("s", "p", "o")
    }
    val canon = sameAsCanon(instance, ont)
    val base = normalizeBy(instance.filter(col("p") =!= "sameAs"), canon)

    val invPairs = ont.inverses.flatMap { case (p, q) => Seq(p -> q, q -> p) } ++
      ont.symmetric.map(p => p -> p)

    // PRE-mirror: symmetric/inverse base edges must exist in both
    // directions BEFORE the transitive step, or compositions through
    // mirrored edges are lost (a knows b, c knows b, knows
    // symmetric+transitive ⇒ a knows c)
    val preMirrored = invPairs.map { case (p, q) =>
      base.filter(col("p") === p)
        .select(col("o").as("s"), lit(q).as("p"), col("s").as("o"))
    }
    val seeded = (base +: preMirrored).reduce(_ unionAll _)

    // owl:TransitiveProperty — closure per declared predicate
    val closed = ont.transitive.foldLeft(seeded) { (acc, p) =>
      val step = acc.filter(col("p") === p)
        .select(col("s").as("from"), col("o").as("to"))
      val tc = graft.sparql.Compiler.transitiveClosure(step)
        .select(col("from").as("s"), lit(p).as("p"), col("to").as("o"))
      acc.filter(col("p") =!= p).unionAll(tc)
    }

    // POST-mirror: closed edges reflect into the inverse partner (the
    // closure of a symmetrized relation is symmetric, so nothing here
    // would grow further under the transitive step)
    val mirrored = invPairs.map { case (p, q) =>
      closed.filter(col("p") === p)
        .select(col("o").as("s"), lit(q).as("p"), col("s").as("o"))
    }

    (closed +: mirrored).reduce(_ unionAll _).distinct()
  }
}
