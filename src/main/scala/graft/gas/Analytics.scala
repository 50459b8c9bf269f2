package graft.gas

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import graft.plans.{Fixpoint, LocalTier}

/** Graph analytics over an `edges(src, dst, weight)` DataFrame.
  *
  * Re-expresses Blazegraph's GAS (gather-apply-scatter) programs
  * (bigdata-gas/src/main/java/com/bigdata/rdf/graph/analytics/
  * {BFS,SSSP,CC,PR}.java) as frontier-based DataFrame iterations:
  * each round joins only the *active frontier* (the GAS scheduler's
  * vertex set) against the edge list, aggregates messages map-side,
  * and localCheckpoints to truncate lineage/plan growth — the rounds
  * run on [[graft.plans.Fixpoint]], whose checkpoint also counts the
  * round's delta for the convergence test. On a cluster
  * the edge DataFrame should be pre-partitioned by `src` so every
  * frontier join shuffles only the (small) frontier, never the edges.
  */
object Analytics {

  private def cp(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Driver-tier rows of a (src, dst[, weight]) edge frame under the
    * gas budget ([[graft.plans.LocalTier]]): below it the frontier and
    * iteration loops ([[bfs]], [[sssp]], [[fuzzySssp]], [[pageRank]],
    * [[personalizedPageRank]]) replay their identical synchronous
    * recurrence in plain Scala — same per-edge arithmetic, same
    * min/tie-break comparisons, same round structure — and the result
    * lands as a LocalRelation. String nodes and double weights only
    * (the engine's node ids are strings); any other shape keeps the
    * loop. */
  private def stringEdges(edges: DataFrame): Option[Array[Row]] = {
    val types = edges.schema.map(_.dataType)
    if (types.take(2).forall(_ == StringType) && types.drop(2).forall(_ == DoubleType))
      LocalTier.probe(edges, LocalTier.Gas)
    else None
  }

  /** Spark's UTF8String ordering (unsigned byte-wise) — the tie-break
    * order `min(struct(dist, pred))` uses for the string field. */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** src → out-edges adjacency over collected edge rows, each edge as
    * `edge` reads it off its row. */
  private def localAdj[A](rows: Array[Row])(edge: Row => A): Map[String, Seq[A]] =
    rows.toSeq.groupMap(_.getString(0))(edge)

  /** The [[bfsLoop]] frontier expansion driver-side: identical rounds
    * (expand → distinct → drop visited), identical stop conditions
    * (maxDepth, empty frontier, the visited-count cap checked BEFORE
    * each expansion). */
  private def localBfs(adj: Map[String, Seq[String]], seeds: Seq[String], maxDepth: Int,
                       maxVertices: Long): Seq[(String, Int)] = {
    val visited = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    seeds.foreach(s => if (!visited.contains(s)) visited(s) = 0)
    var frontier: Seq[String] = visited.keys.toSeq
    Fixpoint.loop("gas.bfs", maxDepth) { depth =>
      visited.size < maxVertices && frontier.nonEmpty && {
        val next = scala.collection.mutable.LinkedHashSet.empty[String]
        frontier.foreach(u => adj.get(u).foreach(_.foreach { v =>
          if (!visited.contains(v)) next += v
        }))
        next.foreach(v => visited(v) = depth)
        frontier = next.toSeq
        true
      }
    }
    visited.toSeq
  }

  /** Spark's ROUND(x, 9) on DoubleType, driver-side: RoundBase feeds
    * the double through scala BigDecimal (valueOf / shortest-decimal
    * semantics) and HALF_UP — replicated verbatim so the per-iteration
    * pin stays bit-identical. */
  private def round9(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else scala.math.BigDecimal(x)
      .setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The [[pageRank]]/[[personalizedPageRank]] recurrence driver-side:
    * per iteration every edge contributes rank(src)/outdeg(src) to its
    * dst and each kept node re-derives ROUND(ind + (1−α)·Σ, 9) — the
    * identical per-edge arithmetic; summation order differs from the
    * distributed partial aggregation exactly as the oracle's does, and
    * the per-iteration ROUND(9) pins the values (the gas_pr/gas_ppr
    * oracle precedent). `srcSet` empty = uniform teleport (pageRank);
    * non-empty = indicator teleport over the reached set only (ppr). */
  private def localPageRank(rows: Array[Row],
                            iters: Int, resetProb: Double,
                            srcSet: Set[String]): Seq[(String, Double)] = {
    val outDeg = scala.collection.mutable.HashMap.empty[String, Double]
    val nodes = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach { r =>
      val u = r.getString(0)
      outDeg(u) = outDeg.getOrElse(u, 0.0) + 1.0
      nodes += u; nodes += r.getString(1)
    }
    val uniform = srcSet.isEmpty
    def ind(n: String): Double =
      if (uniform || srcSet(n)) resetProb else 0.0
    var ranks: scala.collection.Map[String, Double] =
      if (uniform) nodes.iterator.map(_ -> resetProb).toMap
      else srcSet.iterator.map(_ -> resetProb).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.HashMap.empty[String, Double]
      rows.foreach { r =>
        val u = r.getString(0)
        ranks.get(u).foreach { ru =>
          val v = r.getString(1)
          contrib(v) = contrib.getOrElse(v, 0.0) + ru / outDeg(u)
        }
      }
      val kept: Iterator[String] =
        if (uniform) nodes.iterator else (contrib.keySet ++ srcSet).iterator
      ranks = kept.map(n =>
        n -> round9(ind(n) + (1 - resetProb) * contrib.getOrElse(n, 0.0))).toMap
    }
    if (uniform) nodes.iterator.map(n => (n, ranks(n))).toSeq
    else nodes.iterator.map(n => (n, ranks.getOrElse(n, 0.0))).toSeq
  }

  /** Synchronous Bellman-Ford with delta scheduling, driver-side —
    * the [[sssp]]/[[ssspWithPred]] recurrence exactly: per round the
    * frontier relaxes its out-edges (the same `dist + weight` double
    * add), candidates aggregate per node by min(struct(dist, pred))
    * (dist first, then Spark's UTF8 byte order on pred), and only
    * STRICT dist improvements update/propagate. */
  private def localSssp(adj: Map[String, Seq[(String, Double)]], source: String, maxIter: Int)
      : scala.collection.mutable.LinkedHashMap[String, (Double, String)] = {
    val dist = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      source -> ((0.0, null: String)))
    var frontier: Seq[(String, Double)] = Seq(source -> 0.0)
    Fixpoint.loop("gas.sssp", maxIter) { _ =>
      val cand = scala.collection.mutable.HashMap.empty[String, (Double, String)]
      frontier.foreach { case (u, du) =>
        adj.get(u).foreach(_.foreach { case (v, w) =>
          val nd = du + w
          cand.get(v) match {
            case Some((d0, p0)) if d0 < nd || (d0 == nd && !utf8Lt(u, p0)) => ()
            case _ => cand(v) = (nd, u)
          }
        })
      }
      val improved = cand.toSeq.filter { case (v, (d, _)) =>
        dist.get(v).forall(d < _._1)
      }
      improved.foreach { case (v, dp) => dist(v) = dp }
      frontier = improved.map { case (v, (d, _)) => (v, d) }
      frontier.nonEmpty
    }
    dist
  }

  /** BFS depth labeling from `source` (BFS.java: frontier expansion,
    * visited-set pruning; depth = first-visit round). */
  def bfs(edgesIn: DataFrame, source: String, maxDepth: Int = 32): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val edges = cp(edgesIn.select("src", "dst")) // materialize once, not per iteration
    stringEdges(edges).foreach { rows =>
      return localBfs(localAdj(rows)(_.getString(1)), Seq(source), maxDepth, Long.MaxValue)
        .toDF("node", "depth")
    }
    bfsLoop(edges, Seq((source, 0)).toDF("node", "depth"), 1, maxDepth, Long.MaxValue)
  }

  /** The [[bfs]] and [[fuzzySssp]] frontier expansion over a
    * materialized edge frame, from `seeded` distinct depth-0 `seeds`:
    * stops at an empty frontier, after `maxDepth` rounds, or once
    * ≥ `maxVertices` nodes are visited (checked before each expansion).
    * The visited count is the running sum of the observed deltas, which
    * the anti-join keeps disjoint. */
  private def bfsLoop(edges: DataFrame, seeds: DataFrame, seeded: Long,
                      maxDepth: Int, maxVertices: Long): DataFrame = {
    var visited = seeds
    var frontier = seeds
    var seen = seeded
    Fixpoint.loop("gas.bfs", maxDepth) { depth =>
      seen < maxVertices && {
        val (next, n) = Fixpoint.materialize(
          frontier.join(edges, frontier("node") === edges("src"))
            .select(col("dst").as("node"), lit(depth).as("depth"))
            .distinct()
            .join(visited.select("node"), Seq("node"), "left_anti"))
        // accumulator checkpointed every round: it feeds the anti-join
        // in every subsequent round, so a lazy union is re-evaluated
        // immediately (r18 measured the every-2nd-round variant at the
        // same job count — kept materialized)
        if (n > 0) { visited = cp(visited.unionAll(next)); frontier = next; seen += n }
        n > 0
      }
    }
    visited
  }

  /** Weighted single-source shortest paths (SSSP.java). Frontier =
    * vertices whose tentative distance improved last round
    * (Bellman-Ford with delta scheduling). */
  def sssp(edgesIn: DataFrame, source: String, maxIter: Int = 64): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val edges = cp(edgesIn.select("src", "dst", "weight"))
    stringEdges(edges).foreach { rows =>
      return localSssp(localAdj(rows)(r => (r.getString(1), r.getDouble(2))), source, maxIter).toSeq
        .map { case (n, (d, _)) => (n, d) }.toDF("node", "dist")
    }
    ssspWithPred(edges, source, maxIter).select("node", "dist")
  }

  /** The [[sssp]] loop over a materialized (src, dst, weight) edge
    * frame, tracking the predecessor on the best path as well (min over
    * struct(dist, pred) picks the least distance and keeps tie-breaks
    * deterministic) — [[fuzzySssp]] walks the predecessors. */
  private def ssspWithPred(edges: DataFrame, source: String, maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var dist = Seq((source, 0.0, null: String)).toDF("node", "dist", "pred")
    var frontier = dist
    Fixpoint.loop("gas.sssp", maxIter) { _ =>
      val cand = frontier.join(edges, frontier("node") === edges("src"))
        .select(col("dst").as("node"),
          struct((frontier("dist") + edges("weight")).as("dist"), edges("src").as("pred")).as("dp"))
        .groupBy("node").agg(min("dp").as("dp"))
        .select(col("node"), col("dp.dist").as("dist"), col("dp.pred").as("pred"))
      // keep only strict improvements over the current best
      val (improved, n) = Fixpoint.materialize(
        cand.join(dist.select(col("node").as("n2"), col("dist").as("old")),
                  cand("node") === col("n2"), "left")
          .filter(col("old").isNull || col("dist") < col("old"))
          .select("node", "dist", "pred"))
      // accumulator checkpointed every round (see bfsLoop: it feeds the
      // next round's anti-join; the r18 every-2nd-round variant
      // measured slightly MORE jobs, so it stays materialized)
      if (n > 0) {
        dist = cp(dist
          .join(improved.select(col("node").as("n3")), dist("node") === col("n3"), "left_anti")
          .unionAll(improved))
        frontier = improved
      }
      n > 0
    }
    dist
  }

  /** Connected components by min-label propagation over the
    * undirected closure (CC.java: "label = min(id over component)").
    *
    * FRONTIER-DELTA: only vertices whose label improved last round
    * propagate this round — an unchanged vertex's contribution is
    * already reflected in every neighbor's label, so re-sending it is
    * pure waste. The `imp` marker rides in the single per-iteration
    * materialization, which also counts the improved labels (the
    * convergence test), while the propagate join's left side shrinks
    * from |V| to |changed| — after the first couple of rounds that is
    * the far fringe only, and AQE broadcasts it. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 64): DataFrame = {
    // NOTE (100×-probe finding): the cost profile here is checkpoint
    // materialization (MemoryStore object writes for |V|-row labels ×
    // rounds + the |2E| und block), NOT the per-round join — measured
    // via stack sampling at 33M edges. Pre-partitioning/pre-sorting
    // und was tried and reverted: AQE broadcasts the (shrinking)
    // frontier, so the edge-side exchange is never reused, and the
    // extra shuffle+sort only added cost at every scale. Leaf-peeling
    // was likewise tried and reverted (setup passes over |2E| exceed
    // the loop savings at ≤64 rounds).
    //
    // Round-9: DICTIONARY ENCODING attacks that checkpoint volume —
    // node strings intern to longs before the loop, so every per-round
    // frame carries (long, long, bool) instead of two strings, and the
    // |2E| und block is longs too. Ids are arbitrary
    // (monotonically_increasing_id over the materialized dictionary,
    // no global sort), so min(encoded) is NOT the canonical label —
    // one component-keyed aggregate after the loop restores
    // label = min(original node) per component. HONEST measurement
    // (interleaved runs, 100× corpus, 16 threads): encoded minimums
    // 116.5/148.6/171.5s vs string 137.9/192.2/271.4s — a ~15% median
    // shift inside a ~2× box swing, not the hoped 4×: the short "c:123"
    // node strings only halve, and the per-round join cost is
    // unchanged. ADAPTIVE: the dictionary machinery is ~6 fixed extra
    // stages (dict distinct + 2 encode joins + decode agg), which
    // DOUBLED dedup_cluster's tiny CC (~100 edges) — so encoding
    // engages only above an edge-count threshold where checkpoint
    // volume is the cost center; small graphs run the string loop
    // directly (identical semantics: least() on strings).
    //
    // Iteration-count reduction (large-star/small-star, Kiveris et al.
    // 2014) was ANALYZED and rejected: round count there is ~2·log₂|V|
    // (≈25 at the 100× corpus's 33M edges) regardless of topology,
    // while the frontier-delta loop's round count is bounded by the
    // distance from each component's min-label node to its farthest
    // member — and every graph this engine feeds CC is shallow (the
    // TPC-H hierarchy forest has eccentricity ≤ 6; near-dup candidate
    // graphs have tiny components), so the loop converges in ≤ ~8
    // rounds. Star-contraction would TRIPLE the checkpointed rounds
    // and rewrite |E|-row frames instead of |V|-row labels per round.
    // It only wins on high-diameter graphs (long chains); if one ever
    // shows up, gate on a measured round count, not up front.
    // input materialized ONCE before the two-direction union — edges
    // may be an expensive upstream plan (near-dup pair generation),
    // and each union branch would otherwise re-evaluate it (the bfs
    // "materialize once" discipline; caught at 100x on gas_kcore)
    val e0 = cp(edges.select("src", "dst"))
    // small-input tier, probed BEFORE the undirected union so the tier
    // path pays no union checkpoint and no count: the loop's rounds
    // replay driver-side under the same cap (the label-propagation
    // loop costs ~3 driver-blocking jobs per round × (eccentricity+1)
    // rounds). Typed on the node columns (string / long — the two node
    // id shapes the engine produces); any other type falls through to
    // the loops.
    val spark = e0.sparkSession
    import spark.implicits._
    e0.schema.map(_.dataType).distinct match {
      case Seq(StringType) => LocalTier.probe(e0, LocalTier.Gas).foreach { rows =>
        return localCc(rows.map(r => (r.getString(0), r.getString(1))), maxIter)
          .toDF("node", "label")
      }
      case Seq(LongType) => LocalTier.probe(e0, LocalTier.Gas).foreach { rows =>
        return localCc(rows.map(r => (r.getLong(0), r.getLong(1))), maxIter)
          .toDF("node", "label")
      }
      case _ => ()
    }
    val (undS, undCount) = Fixpoint.materialize(e0
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst"))))
    if (undCount < 1000000L) {
      val nodes = undS.select(col("src").as("node")).distinct()
      ccLoop(undS, nodes, maxIter).select("node", "label")
    } else {
      val dict = cp(undS.select(col("src").as("name")).distinct()
        .withColumn("nid", monotonically_increasing_id()))
      val und = cp(undS
        .join(dict.withColumnRenamed("name", "src"), "src")
        .withColumnRenamed("nid", "sid")
        .join(dict.withColumnRenamed("name", "dst"), "dst")
        .select(col("sid").as("src"), col("nid").as("dst")))
      val labels = ccLoop(und, dict.select(col("nid").as("node")), maxIter)
      // decode + canonicalize: the component representative under the
      // arbitrary encoding maps to min(original node) with one
      // component-keyed aggregate (component-count-sized shuffle)
      val named = labels.select(col("node").as("nid"), col("label").as("lid"))
        .join(dict, "nid").select(col("name").as("node"), col("lid"))
      val reps = named.groupBy("lid").agg(min("node").as("label"))
      named.join(reps, "lid").select("node", "label")
    }
  }

  /** The frontier-delta min-label loop, generic over the node type
    * (strings and longs both order under least/min). Returns
    * (node, label, imp) at the converged round. */
  private def ccLoop(und: DataFrame, nodes: DataFrame, maxIter: Int): DataFrame = {
    // round 0: every vertex "changed" (label = self)
    var labels = cp(nodes.withColumn("label", col("node")).withColumn("imp", lit(true)))
    Fixpoint.loop("gas.cc", maxIter) { _ =>
      val frontier = labels.filter(col("imp")).select("node", "label")
      val nbrMin = frontier.join(und, frontier("node") === und("src"))
        .groupBy(col("dst").as("node")).agg(min("label").as("nbr"))
      // label update and change count in one materialization
      val (next, changed) = Fixpoint.materialize(
        labels.select("node", "label")
          .join(nbrMin.withColumnRenamed("node", "n2"), col("node") === col("n2"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
            (coalesce(col("nbr"), col("label")) < col("label")).as("imp")),
        col("imp"))
      labels = next
      changed > 0
    }
    labels
  }

  /** The [[ccLoop]] rounds driver-side: every node starts labelled by
    * itself, and per round each node whose label improved last round
    * sends it to its undirected neighbours, which keep the minimum.
    * Stops when no label improves or after `maxIter` rounds, so a
    * capped run labels exactly as the capped loop does. Sorted by node. */
  private def localCc[T](pairs: Array[(T, T)], maxIter: Int)
                        (implicit ord: Ordering[T]): Seq[(T, T)] = {
    val adj = pairs.toSeq.flatMap { case (s, d) => Seq(s -> d, d -> s) }.groupMap(_._1)(_._2)
    val label = scala.collection.mutable.HashMap.from(adj.keys.map(n => n -> n))
    var frontier: Iterable[T] = adj.keys
    Fixpoint.loop("gas.cc", maxIter) { _ =>
      val improved = frontier.toSeq.flatMap(u => adj(u).map(_ -> label(u)))
        .groupMapReduce(_._1)(_._2)(ord.min)
        .filter { case (v, l) => ord.lt(l, label(v)) }
      label ++= improved
      frontier = improved.keys
      improved.nonEmpty
    }
    label.toSeq.sortBy(_._1)
  }

  /** PageRank, fixed iteration count, formula of PR.java:284:
    * v = resetProb + (1 - resetProb) * Σ_in nbr/outdeg, all vertices
    * initialized to resetProb. Per-iteration ROUND(9) keeps the values
    * bit-identical to the (differently-ordered) oracle summation. */
  def pageRank(edges: DataFrame, iters: Int = 10, resetProb: Double = 0.15): DataFrame = {
    // materialized once: referenced by outDeg, eDeg and both node-set
    // branches — an expensive upstream plan would evaluate 4x otherwise
    val e = cp(edges.select("src", "dst"))
    stringEdges(e).foreach { rows =>
      val spark = edges.sparkSession
      import spark.implicits._
      return localPageRank(rows, iters, resetProb, Set.empty).toDF("node", "rank")
    }
    val (eDeg, nodes) = rankInputs(e)
    rankLoop("gas.pagerank", eDeg, nodes.withColumn("rank", lit(resetProb)), iters) { contrib =>
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          round(lit(resetProb) + lit(1 - resetProb) * coalesce(col("contrib"), lit(0.0)), 9)
            .as("rank"))
    }
  }

  /** The out-degree-weighted edge list (src, dst, outdeg) and the node
    * set of a (src, dst) edge frame, both materialized. */
  private def rankInputs(e: DataFrame): (DataFrame, DataFrame) = {
    val outDeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg"))
    (cp(e.join(outDeg, "src")),
     cp(e.select(col("src").as("node")).unionAll(e.select(col("dst").as("node"))).distinct()))
  }

  /** `iters` rank rounds from `start` (node, rank): each round's
    * contribution aggregate (node, contrib) becomes the next ranks by
    * `update`. Checkpoints every SECOND iteration: two iterations fuse
    * into one driver-blocking materialization (plan depth stays bounded
    * at 2 rounds), halving the job-dispatch floor that dominates at
    * small per-round volumes; values are identical — checkpoint
    * placement is not semantic (per-iteration ROUND(9) pins them). */
  private def rankLoop(label: String, eDeg: DataFrame, start: DataFrame, iters: Int)
                      (update: DataFrame => DataFrame): DataFrame = {
    var ranks = start
    Fixpoint.loop(label, iters) { i =>
      val next = update(ranks.join(eDeg, ranks("node") === eDeg("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("contrib")))
      ranks = if (i % 2 == 0 || i == iters) cp(next) else next
      true
    }
    ranks
  }

  /** k-core decomposition membership by iterative peeling (Seidman
    * 1983): drop every vertex whose degree within the REMAINING graph
    * is < k, repeat to fixpoint; survivors form the k-core. Returns
    * (node, core_deg) — the in-core degree of each surviving vertex.
    *
    * Plan shape per round: two semijoins of the |2E| undirected block
    * against the (shrinking) remaining-node set + one degree
    * aggregate; the node set is checkpoint-truncated (gas_pr
    * discipline) so the plan never grows with rounds.
    *
    * ROUND-COUNT BOUND (read before raising maxRounds): peeling is
    * SYNCHRONOUS, so the number of rounds equals the longest peel
    * CHAIN, not the graph diameter — a path of n vertices at k=2
    * peels one vertex from each end per round, needing ~n/2 rounds. A
    * high-diameter sparse graph at scale can therefore exceed
    * `maxRounds`, and the operator then fails LOUD
    * ([[graft.plans.Fixpoint.converge]]) rather than returning a
    * partial non-fixpoint core — the
    * correct behavior, since a non-converged remainder is NOT the
    * k-core. Near-clique graphs (dedup candidates, this engine's use)
    * peel in 1-3 rounds; the DuckDB oracle unrolls 24 rounds, which
    * equals the fixpoint whenever convergence needs ≤ 24 (extra
    * rounds are no-ops at a fixpoint). [[kCoreWithRounds]] exposes
    * the measured round count — monitor it on new graph families and
    * raise `maxRounds` deliberately if a long-chain topology is
    * expected; the spec pins both the happy path and the loud
    * chain-graph failure. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame =
    kCoreWithRounds(edges, k, maxRounds)._1

  def kCoreWithRounds(edges: DataFrame, k: Int,
                      maxRounds: Int = 64): (DataFrame, Int) = {
    // input materialized ONCE before the two-direction union: kCore's
    // edges are typically the near-dup PAIR GENERATION plan (gas_kcore
    // feeds it ngramJaccard), and each union branch re-evaluated it —
    // measured at 100x: 264s -> ~150s, the whole delta being one
    // redundant jaccard pass
    val e0 = cp(edges.select("src", "dst").filter(col("src") =!= col("dst")))
    val und = cp(e0
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var (rem, prevCount) = Fixpoint.materialize(und.select(col("src").as("node")).distinct())
    val rounds = Fixpoint.converge("gas.kcore", maxRounds) { _ =>
      val deg = und
        .join(rem.withColumnRenamed("node", "src"), "src")
        .join(rem.withColumnRenamed("node", "dst"), "dst")
        .groupBy("src").agg(count(lit(1)).as("deg"))
      val (next, c) = Fixpoint.materialize(deg.filter(col("deg") >= k).select(col("src").as("node")))
      val changed = c != prevCount
      rem = next
      prevCount = c
      changed
    }
    val core = und
      .join(rem.withColumnRenamed("node", "src"), "src")
      .join(rem.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
    (core, rounds)
  }

  /** Personalized PageRank: the [[pageRank]] recurrence with the
    * teleport mass confined to a source set instead of spread
    * uniformly — v = resetProb·1{v∈S} + (1−resetProb)·Σ_in nbr/outdeg,
    * initialized to the indicator. The proximity-to-S score behind
    * "related entities" queries. Same plan discipline as pageRank:
    * per-iteration checkpoint truncation, contribution aggregate
    * shuffles one row per reachable vertex, per-iteration ROUND(9)
    * pins engine summation-order drift. Mass at dangling vertices
    * exits the system (identically in both engines). */
  def personalizedPageRank(edges: DataFrame, sources: Seq[String],
                           iters: Int = 10, resetProb: Double = 0.15): DataFrame = {
    // materialized once (see pageRank)
    val e = cp(edges.select("src", "dst"))
    stringEdges(e).foreach { rows =>
      val spark = edges.sparkSession
      import spark.implicits._
      val nodes = rows.iterator.flatMap(r => Iterator(r.getString(0), r.getString(1))).toSet
      val missing = sources.filterNot(nodes)
      require(missing.isEmpty,
        s"personalizedPageRank sources not in the graph: ${missing.sorted.mkString(", ")}")
      return localPageRank(rows, iters, resetProb, sources.toSet).toDF("node", "rank")
    }
    val (eDeg, nodes) = rankInputs(e)
    // fail loud on out-of-graph sources: their teleport mass would
    // silently vanish (a typo'd source returns a plausible all-zero
    // frame) and an isolated source would get no output row at all
    val present = nodes.filter(col("node").isInCollection(sources))
      .collect().map(_.getString(0)).toSet // bounded by |sources|
    val missing = sources.filterNot(present)
    require(missing.isEmpty,
      s"personalizedPageRank sources not in the graph: ${missing.sorted.mkString(", ")}")
    def ind = when(col("node").isInCollection(sources), lit(resetProb))
      .otherwise(lit(0.0))
    // Iterate over the REACHED set only (r10, isolated same-session:
    // 15.4s -> 8.7s at 1x=sf0.1, 20.8s -> 14.8s at 10x): rank is
    // nonzero only on nodes reachable from S, so the
    // per-iteration frame holds just those — the unreachable bulk of
    // the graph (at 100 TB, everything outside S's component) never
    // enters the join or the checkpoint. `srcRows` (|S| rows) re-enters
    // via full outer join so teleport mass persists with no in-flow;
    // exact zeros for unreached nodes are restored once at the end.
    // Values are bit-identical to the all-nodes formulation: absent
    // rows contribute 0, exactly like 0.0-rank rows did.
    val srcRows = cp(nodes.filter(col("node").isInCollection(sources)))
    val ranks = rankLoop("gas.ppr", eDeg, srcRows.withColumn("rank", lit(resetProb)), iters) {
      _.join(srcRows, Seq("node"), "full")
        .select(col("node"),
          round(ind + lit(1 - resetProb) * coalesce(col("contrib"), lit(0.0)), 9).as("rank"))
    }
    // restore the exact-0.0 rows for unreached nodes (one left join,
    // outside the iteration)
    nodes.join(ranks, Seq("node"), "left")
      .select(col("node"), coalesce(col("rank"), lit(0.0)).as("rank"))
  }

  /** Fuzzy shortest-path subgraph (FuzzySSSP.java): per-source SSSP →
    * collect the vertices on the best paths to each reachable target →
    * BFS-expand that set to ≤ maxVertices "close to the path" vertices. */
  def fuzzySssp(edges: DataFrame, sources: Seq[String], targets: Seq[String],
                maxVertices: Int): DataFrame = {
    val spark = edges.sparkSession
    // materialized once: every per-source SSSP and the final BFS read it
    val e = cp(edges.select("src", "dst", "weight"))
    stringEdges(e).foreach { rows =>
      // driver tier: the whole composition (per-source ssspWithPred →
      // pred-chain path extraction → capped bfsLoop) replays over ONE
      // collected edge list — each stage is the identical recurrence
      // the distributed code below runs, driver-side
      import spark.implicits._
      val adjW = localAdj(rows)(r => (r.getString(1), r.getDouble(2)))
      val pathVerts = scala.collection.mutable.LinkedHashSet.empty[String]
      sources.foreach { src =>
        val d = localSssp(adjW, src, 64)
        val acc = scala.collection.mutable.LinkedHashSet[String](
          targets.filter(d.contains): _*)
        var frontier: Set[String] = acc.toSet
        Fixpoint.loop("gas.fuzzyPath", 64) { _ =>
          frontier = frontier.flatMap(t => Option(d(t)._2)).diff(acc.toSet)
          acc ++= frontier
          frontier.nonEmpty
        }
        pathVerts ++= acc
      }
      val seeds = (pathVerts ++ sources).toSeq
      return localBfs(localAdj(rows)(_.getString(1)), seeds, 32, maxVertices.toLong)
        .toDF("node", "depth")
        .orderBy("depth", "node").limit(maxVertices)
    }
    val pathVerts = sources.map { src =>
      val d = ssspWithPred(e, src, 64)
      var acc = d.filter(col("node").isin(targets: _*)).select("node")
      var frontier = acc
      Fixpoint.loop("gas.fuzzyPath", 64) { _ =>
        val (next, n) = Fixpoint.materialize(
          d.join(frontier.select(col("node").as("t")), col("node") === col("t"))
            .filter(col("pred").isNotNull)
            .select(col("pred").as("node")).distinct()
            .join(acc, Seq("node"), "left_anti"))
        if (n > 0) { acc = acc.unionAll(next); frontier = next }
        n > 0
      }
      acc
    }.reduce(_ unionAll _).distinct()
    // sources are path endpoints by definition, reachable targets or not
    import spark.implicits._
    val (seeds, seeded) = Fixpoint.materialize(
      pathVerts.unionAll(sources.toDF("node")).distinct().withColumn("depth", lit(0)))
    bfsLoop(e, seeds, seeded, 32, maxVertices).orderBy("depth", "node").limit(maxVertices)
  }

  /** Per-vertex triangle counts over the UNDIRECTED graph induced by
    * `edges(src, dst)` (direction and weight ignored; self-loops and
    * duplicate edges collapse). The clustering/cohesion primitive of
    * a graph-analytics suite.
    *
    * Scale design — degree-ordered orientation (the standard
    * Σ outdeg² bound, ≤ O(|E|^1.5) total wedges): each canonical
    * edge is oriented from its lower-(degree, node) endpoint to the
    * higher, every triangle generates exactly ONE wedge at its
    * minimum-rank vertex, and the wedge set joins once against the
    * canonical edge set to close. Without the orientation a hub of
    * degree d fans out d² wedges; with it, out-degrees are bounded by
    * ~√|E| on any graph (arboricity argument), so hot vertices can't
    * explode the shuffle. Three shuffles total: degree agg, wedge
    * self-join, closing join. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // the canonical edge set has FOUR consumers (degree agg, orient,
    // wedge self-join ×2 sides, closing join) — materialize it once or
    // an expensive upstream edge derivation (e.g. a dedup pair
    // pipeline) re-executes per consumer (measured: 8.9 s → 3.0 s on
    // the near-dup graph at sf0.1)
    val ue = cp(edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = ue.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = ue
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val oriented = cp(withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a")).otherwise(col("b")).as("u"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b")).otherwise(col("a")).as("v")))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("ta"), col("x.v").as("tb"), col("y.v").as("tc"))
    val tri = wedges.join(ue,
      least(col("tb"), col("tc")) === col("a") &&
        greatest(col("tb"), col("tc")) === col("b"))
    tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per vertex: 2T/(d(d−1)) over the
    * undirected graph — triangle counts from [[triangleCounts]]
    * joined with undirected degrees; vertices of degree < 2 get 0.
    * The cluster-cohesion metric (cliques ≈ 1, chains ≈ 0) a dedup
    * pipeline reads off its near-dup graph. Costs = triangleCounts +
    * one degree aggregate over the SAME materialized canonical edge
    * set (passed through, so the upstream edge derivation is not
    * recomputed). */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val ue = cp(edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = ue.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(ue.select(col("a").as("src"), col("b").as("dst")))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over all edge endpoints — positive = hubs link
    * hubs, negative = hubs link leaves. Every sum is over exact
    * integer degrees (one aggregate over the 2|E| oriented endpoint
    * list), so only the final Pearson division is floating point —
    * the oracle replays it bit-for-bit. Returns one row
    * (n_edges, assortativity, NULL when a side is degree-constant). */
  def assortativity(edges: DataFrame): DataFrame = {
    val ue = cp(edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = ue.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val both = ue.select(col("a"), col("b"))
      .unionAll(ue.select(col("b").as("a"), col("a").as("b")))
    val j = both
      .join(deg.select(col("node").as("a"), col("d").as("dx")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("dy")), "b")
    // mean-form Pearson, NOT the m2·Σxy−Σx·Σy cross-product form:
    // the integer cross products overflow long at ~10M endpoints
    // (DuckDB silently widens to HUGEINT, Spark wraps — a silent
    // cross-engine divergence); the raw sums themselves stay exact
    // longs, and both engines then run the identical double formula
    val mx = col("sx").cast("double") / col("m2")
    val my = col("sy").cast("double") / col("m2")
    val vx = col("sxx").cast("double") / col("m2") - mx * mx
    val vy = col("syy").cast("double") / col("m2") - my * my
    j.agg(count(lit(1)).as("m2"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select((col("m2") / 2).cast("long").as("n_edges"),
        // degree-constant graph (e.g. complete/regular) has zero
        // variance: the coefficient is undefined — NULL, not an error
        when(vx <= 0 || vy <= 0, lit(null).cast("double"))
          .otherwise(round((col("sxy").cast("double") / col("m2") - mx * my) /
            sqrt(vx * vy), 4)).as("assortativity"))
  }

  /** In/out degree per vertex (the GAS vertex-distribution reducer). */
  def degrees(edges: DataFrame): DataFrame = {
    val e = cp(edges.select("src", "dst")) // materialized once (see pageRank)
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
