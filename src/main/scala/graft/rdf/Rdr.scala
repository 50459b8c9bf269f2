package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.{Fixpoint, LocalTier}

/** RDF-star (RDR) statement identifiers — Blazegraph's "sids" mode
  * (reference: AbstractTripleStore.Options.STATEMENT_IDENTIFIERS,
  * bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/store/AbstractTripleStore.java:862,
  * and the sids-mode SPO indices that let a statement be the subject
  * of other statements).
  *
  * Blazegraph assigns each asserted statement an internal statement
  * identifier IV; metadata statements reference it. A Spark-native
  * store has no mutable counter to hand out ids at 100 TB — instead
  * the sid is a DETERMINISTIC content hash of the statement's terms
  * (`sid:` + md5 of "s|p|o"), computable map-side in both engines
  * (Spark `md5()`, DuckDB `md5()`, and driver-side for ground terms in
  * the parser) with no coordination, no lookup table, and stable
  * across recomputations. Metadata triples (sid, p, o) live in the
  * same triple relation as base data, so every query operator works
  * on them unchanged.
  */
object Rdr {

  val Prefix = "sid:"

  /** Statement id column: `sid:` + md5 hex of "s|p|o". */
  def sid(s: Column, p: Column, o: Column): Column =
    concat(lit(Prefix), md5(concat_ws("|", s, p, o)))

  /** Driver-side sid of a ground statement — identical bytes to
    * [[sid]] (used by the parser to fold `<<s p o>>` constants). */
  def sidOf(s: String, p: String, o: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$s|$p|$o".getBytes("UTF-8"))
    Prefix + d.map("%02x".format(_)).mkString
  }

  /** The (s,p,o) triples annotated with their statement ids. */
  def reify(triples: DataFrame): DataFrame =
    triples.withColumn("sid", sid(col("s"), col("p"), col("o")))

  /** Metadata statements (sid(base) annot value) about `base` triples
    * — the assertion shape of "statements about statements". */
  def annotate(base: DataFrame, annot: String, value: Column): DataFrame =
    base.select(sid(col("s"), col("p"), col("o")).as("s"),
                lit(annot).as("p"), value.cast("string").as("o"))

  /** Concise Bounded Description (reference: ast/eval/CBD.java:71 —
    * DescribeModeEnum.CBD): the node's subject triples, recursing
    * through anonymous resources. This model has no blank nodes; the
    * anonymous-resource role is played by `sid:` statement identifiers
    * — so the CBD of a node includes the metadata statements about
    * each of its statements, transitively (the sids-mode CBD the
    * reference computes when statement identifiers are enabled).
    *
    * Each round is one join of the (tiny) frontier against the store;
    * recursion depth = annotation nesting, bounded and shallow — the
    * convergence test is the layer's observed row count, not a data
    * collect. */
  def cbd(triples: DataFrame, node: String): DataFrame =
    cbd(graft.sparql.TripleSource.plain(triples), node)

  /** CBD through a [[graft.sparql.TripleSource]]: each round uses the
    * source's SUBJECT access path (prefix-pruned scans on a backed
    * source — one storage-unit read per round, never a full-view
    * scan) and materializes only the CBD-sized layer. */
  def cbd(src: graft.sparql.TripleSource, node: String,
          maxDepth: Int = 10): DataFrame = {
    val spark = src.triples.sparkSession
    import spark.implicits._
    // Small-input tier: every layer is description-sized by
    // construction, so probe it and keep the frontier / described set
    // / result on the driver — ONE tiny scan job per layer instead of
    // a checkpoint + emptiness probe + anti-join round, and the final
    // distinct is a driver set, not a shuffle. A description
    // overflowing LocalTier.CbdRows restarts on [[cbdLoop]].
    var frontier = Set(node)
    val described = scala.collection.mutable.Set(node)
    val out = scala.collection.mutable.LinkedHashSet.empty[(String, String, String)]
    var overflow = false
    Fixpoint.loop("rdr.cbd", maxDepth) { _ =>
      val fdf = frontier.toSeq.sorted.toDF("s")
      LocalTier.probe(src.scanForSubjects(broadcast(fdf)).select("s", "p", "o"),
          LocalTier.CbdRows - out.size) match {
        case None => overflow = true
        case Some(rows) =>
          val cand = scala.collection.mutable.Set.empty[String]
          rows.foreach { r =>
            val (s, p, o) = (r.getString(0), r.getString(1), r.getString(2))
            out += ((s, p, o))
            // next frontier: anonymous objects of this layer + the sids
            // of its statements (statements about them belong to the
            // CBD), minus anything already described
            if (o.startsWith(Prefix)) cand += o
            cand += sidOf(s, p, o)
          }
          frontier = (cand -- described).toSet
          described ++= frontier
      }
      frontier.nonEmpty && !overflow
    }
    if (overflow) cbdLoop(src, node, maxDepth)
    else if (out.isEmpty) src.triples.select("s", "p", "o").limit(0)
    else out.toSeq.toDF("s", "p", "o")
  }

  /** The distributed CBD loop: one frontier join per layer, each layer
    * checkpointed; the walk stops at the first empty layer or after
    * `maxDepth` layers. */
  private[graft] def cbdLoop(src: graft.sparql.TripleSource, node: String,
                             maxDepth: Int): DataFrame = {
    val spark = src.triples.sparkSession
    import spark.implicits._
    var frontier = Seq(node).toDF("s")
    var out: DataFrame = null
    var described = frontier
    Fixpoint.loop("rdr.cbd", maxDepth) { _ =>
      // the layer is CBD-sized: materialize it so the candidate
      // computation and the result union never re-run the scan. The
      // frontier is description-sized by construction — broadcast it so
      // the subject lookup is a map-side join, never a store shuffle
      val (layer, n) = Fixpoint.materialize(src.scanForSubjects(broadcast(frontier)))
      if (n > 0) {
        out = if (out == null) layer else out.unionAll(layer)
        val cand = layer.filter(col("o").startsWith(Prefix)).select(col("o").as("s"))
          .unionAll(layer.select(sid(col("s"), col("p"), col("o")).as("s")))
          .distinct()
        frontier = cand.join(described, Seq("s"), "left_anti").localCheckpoint()
        described = described.unionAll(frontier)
      }
      n > 0
    }
    if (out == null) src.triples.limit(0) else out.distinct()
  }
}
