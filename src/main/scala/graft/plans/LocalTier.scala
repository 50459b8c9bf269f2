package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StringType

/** The small-input tier: the one place that decides whether an
  * iterative operator replays its recurrence on the driver or runs its
  * distributed path (the "local vs dataflow" physical choice Pregelix
  * makes from one cost input).
  *
  * Each distributed loop round costs ~3-5 driver-blocking jobs at any
  * data size, so below a family's limit one bounded probe lands the
  * input on the driver and the operator replays the identical
  * recurrence in plain Scala: GAS programs, the OWL closure and sameAs
  * canon, path closure and reach, CBD, BPE training — and the RDFS
  * closure, whose one per-triple derivation runs on both sides. Above
  * the limit, or on any null, the distributed path runs unchanged. The
  * `*LocalTierSpec`s pin both tiers to identical rows.
  *
  * The RDFS and CBD limits sit where the tier stopped winning in a
  * tier-vs-loop sweep (4 cores, 1k-300k rows, noop-materialized,
  * median of 3). The path tiers still won at 300k, as the OWL and BPE
  * tiers did at 290k, so those keep [[Budget]]. */
object LocalTier {

  /** Rows one driver-side replay may hold: tens of MB of short strings
    * against a multi-GB driver heap. */
  val Budget = 300000

  /** Rows of a CBD walk's description the driver tier may collect: from
    * ~20k rows on, the distributed walk's one scan per layer beats
    * collecting the layers (sweep: 0.74 vs 0.80 s at 15k, 0.94 vs
    * 0.91 s at 20k, 1.08 vs 0.84 s at 25k, 9.0 vs 1.6 s at 300k). */
  val CbdRows = 20000

  /** An operator family: its limit, and the conf key that overrides
    * the limit of every family reading it, so a deployment can size
    * the tier to its driver heap and a spec can force the distributed
    * path (0). */
  sealed abstract class Family(val key: String, val limit: Int)
  case object Gas extends Family("spark.graft.gas.localBound", Budget)
  case object Inference extends Family("spark.graft.inference.localBound", Budget)
  /** The RDFS closure: its distributed path is one map-side pass and
    * one distinct, which the driver replay only ties up to ~4k rows
    * (sweep: 0.12-0.15 s each at 3k; 0.17 vs 0.15 s at 5k, 0.27 vs
    * 0.22 s at 10k, 7.8 vs 2.5 s at 300k). */
  case object Rdfs extends Family("spark.graft.inference.localBound", 4000)
  case object Path extends Family("spark.graft.path.localBound", Budget)

  def budget(spark: SparkSession, family: Family): Int =
    spark.conf.getOption(family.key).map(_.toInt).getOrElse(family.limit)

  /** Rows of a frame whose optimized plan is a [[LocalRelation]]
    * (driver-built Seqs, earlier driver-tier results), read off the
    * plan with zero jobs; None for any other plan. Only a plan whose
    * leaves are all local is optimized for the check, so a scan plan
    * pays no extra optimizer pass. */
  def planRows(df: DataFrame): Option[Array[Row]] =
    if (!df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        val toRow = CatalystTypeConverters.createToScalaConverter(l.schema)
        Some(l.data.map(toRow(_).asInstanceOf[Row]).toArray)
      case _ => None
    }

  /** True, without a job, when `df`'s optimized plan is an empty
    * [[LocalRelation]]: a driver-built empty Seq, a side the optimizer
    * folds away, a scan under a filter it proves false. Unlike
    * [[planRows]] it optimizes any plan, so a scan plan that folds to
    * empty counts too. A false negative just takes the general path. */
  def provablyEmpty(df: DataFrame): Boolean = df.queryExecution.optimizedPlan match {
    case l: LocalRelation => l.data.isEmpty
    case _ => false
  }

  /** The probe, under `family`'s budget. */
  def probe(df: DataFrame, family: Family): Option[Array[Row]] =
    probe(df, budget(df.sparkSession, family))

  /** The probe: at most `limit` rows of `df`, read off the plan when it
    * is local, else by one bounded `take(limit + 1)` (best run on an
    * already-materialized frame). None — keep the distributed loop —
    * when the frame holds more rows, when any value is null (the
    * loops' join and filter null semantics are not replayed), or when
    * `limit` ≤ 0, without a job. */
  def probe(df: DataFrame, limit: Int): Option[Array[Row]] =
    if (limit <= 0) None
    else planRows(df).getOrElse(df.take(limit + 1)) match {
      case rows if rows.length > limit => None
      case rows if rows.exists(r => (0 until r.length).exists(r.isNullAt)) => None
      case rows => Some(rows)
    }

  /** [[probe]] of a frame of exactly `arity` string columns, as string
    * arrays; None for any other shape. */
  def strings(df: DataFrame, family: Family, arity: Int): Option[Array[Array[String]]] =
    if (df.schema.length != arity || df.schema.exists(_.dataType != StringType)) None
    else probe(df, family).map(_.map(r => Array.tabulate(arity)(r.getString)))

  /** Nodes reachable in one or more steps along `adj` from the nodes
    * in `from`, in discovery order: the converged state of a
    * frontier-delta loop whose visited set only grows. */
  def reach[T](adj: collection.Map[T, Seq[T]], from: Iterable[T]): collection.Set[T] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[T]
    var frontier = from.iterator.flatMap(adj.getOrElse(_, Nil)).filter(seen.add).toVector
    while (frontier.nonEmpty)
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filter(seen.add)
    seen
  }

  /** Transitive closure of `pairs` by one [[reach]] per source: every
    * (a, b) with b reachable from a in one or more steps, so a cycle
    * reaches itself. Lazy per source, so a caller can stop at a pair
    * budget before the whole closure exists. */
  def closure[T](pairs: Iterable[(T, T)]): Iterator[(T, T)] = {
    val adj = pairs.groupMap(_._1)(_._2).map { case (a, bs) => a -> bs.toSeq }
    adj.keysIterator.flatMap(a => reach(adj, Seq(a)).iterator.map(b => (a, b)))
  }

  /** Union-by-min union-find over node pairs: every node with its
    * component's minimum node as label, sorted by node — the
    * min-label semantics of the distributed label-propagation loop,
    * in one pass. */
  def minLabels[T](pairs: Iterable[(T, T)])(implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val nodes = scala.collection.mutable.HashSet.empty[T]
    pairs.foreach { case (s, d) =>
      nodes += s; nodes += d
      val (a, b) = (find(s), find(d))
      if (a != b) {
        if (ord.lt(a, b)) parent(b) = a else parent(a) = b
      }
    }
    nodes.toSeq.sorted.map(nd => (nd, find(nd)))
  }
}

/** Input-width choice of the physical plan, next to the input-size one. */
object Spread {

  /** Spread a NARROW batch input before an expensive per-row pass
    * (guide §2: derive parallelism from the input, never inherit an
    * accident): a small input arrives as one parquet file = one scan
    * partition, so a tokenize/shingle/explode pass over it ran
    * single-core. At production width the scan already carries >=
    * cores partitions and this is a no-op; below it, the shuffle is
    * KB..MB. Streaming frames pass through (the micro-batch is the
    * parallelism unit there). */
  def narrow(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (!df.isStreaming && df.rdd.getNumPartitions < par) df.repartition(par)
    else df
  }
}
