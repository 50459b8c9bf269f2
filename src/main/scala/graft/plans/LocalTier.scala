package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StringType

/** The small-input tier: the one place that decides whether an
  * iterative operator replays its recurrence on the driver or runs its
  * distributed loop (the "local vs dataflow" physical choice Pregelix
  * makes from one cost input).
  *
  * Each distributed loop round costs ~3-5 driver-blocking jobs at any
  * data size, so below [[Budget]] rows one bounded probe lands the
  * input on the driver and the operator's module replays the identical
  * recurrence in plain Scala (GAS programs, RDFS/OWL closures, path
  * fixpoints, CBD, BPE training). Above it, or on any null, the
  * distributed loop runs unchanged. The `*LocalTierSpec`s pin both
  * tiers to identical rows. */
object LocalTier {

  /** Rows one driver-side replay may hold: tens of MB of short strings
    * against a multi-GB driver heap. */
  val Budget = 300000

  /** An operator family whose budget a conf key may override, so a
    * deployment can size it to its driver heap and a spec can force
    * the distributed loop (0). */
  sealed abstract class Family(val key: String)
  case object Gas extends Family("spark.graft.gas.localBound")
  case object Inference extends Family("spark.graft.inference.localBound")
  case object Path extends Family("spark.graft.path.localBound")

  def budget(spark: SparkSession, family: Family): Int =
    spark.conf.getOption(family.key).map(_.toInt).getOrElse(Budget)

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
