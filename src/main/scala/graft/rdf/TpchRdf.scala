package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sparql.{Const, Term, TriplePattern, TripleSource, Var}

/** Virtual RDF triple view over the TPC-H-ish parquet tables.
  *
  * Blazegraph stores triples in B+Tree statement indices (SPO/POS/OSP)
  * over a dictionary-encoded lexicon
  * (reference: bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/store/AbstractTripleStore.java,
  * lexicon in .../lexicon/LexiconRelation.java). A Spark-native engine
  * wants neither a global dictionary build (a 100-TB global sort) nor a
  * materialized triple table: here the "store" is a lazy UNION ALL of
  * per-predicate projections, each branch carrying a literal `p`. A
  * triple pattern with a bound predicate constant-folds: Catalyst
  * evaluates `lit(pred) === "x"` per branch, prunes every non-matching
  * branch to an empty relation, and the surviving branch is a single
  * narrow parquet scan with pushed-down filters. Term "IDs" are
  * deterministic strings derived from source keys (`c:42`), so the same
  * view is expressible as a DuckDB CTE for the correctness oracle.
  *
  * The per-table property registry below is the single source of truth
  * for BOTH the triple view and the star-fusion fast path
  * (property-table compilation: patterns sharing a subject compile to
  * ONE scan of the backing table instead of k branch scans joined
  * k-1 times — the columnar-store analog of Blazegraph's SPO range
  * scans over a common subject prefix).
  */
object TpchRdf {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped as TIMESTAMP(NANOS) — surfaced as a
    * ns-epoch LONG under the `nanosAsLong` legacy flag — and as
    * TIMESTAMP(MICROS) — surfaced as TIMESTAMP — across testdata
    * generations. Normalize to the ns-epoch LONG the sessionize /
    * window arithmetic runs on (exact: micros ×1000; the UTC session
    * makes the NTZ→instant cast lossless). Batch and streaming alike. */
  def tsNanos(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn(c, unix_micros(col(c).cast("timestamp")) * 1000L)
    }

  /** Canonical 2-decimal rendering, exact in both engines. */
  private def dec2(c: Column): Column = c.cast("decimal(18,2)").cast("string")
  private def day(c: Column): Column = date_format(c, "yyyy-MM-dd")
  private def id(prefix: String, c: Column): Column =
    concat(lit(prefix + ":"), c.cast("string"))

  /** One backing table: subject id expr + (predicate → object expr). */
  final case class TableDef(name: String, subject: Column, props: Seq[(String, Column)]) {
    def propMap: Map[String, Column] = props.toMap
  }

  val schema: Seq[TableDef] = Seq(
    TableDef("customer", id("c", col("c_custkey")), Seq(
      "type" -> lit("Customer"),
      "name" -> col("c_name"),
      "nation" -> id("n", col("c_nationkey")),
      "acctbal" -> dec2(col("c_acctbal")),
      "mktsegment" -> col("c_mktsegment"))),
    TableDef("nation", id("n", col("n_nationkey")), Seq(
      "type" -> lit("Nation"),
      "name" -> col("n_name"),
      "region" -> id("r", col("n_regionkey")))),
    TableDef("region", id("r", col("r_regionkey")), Seq(
      "type" -> lit("Region"),
      "name" -> col("r_name"))),
    TableDef("supplier", id("s", col("s_suppkey")), Seq(
      "type" -> lit("Supplier"),
      "name" -> col("s_name"),
      "nation" -> id("n", col("s_nationkey")),
      "acctbal" -> dec2(col("s_acctbal")))),
    TableDef("orders", id("o", col("o_orderkey")), Seq(
      "type" -> lit("Order"),
      "customer" -> id("c", col("o_custkey")),
      "status" -> col("o_orderstatus"),
      "totalprice" -> dec2(col("o_totalprice")),
      "orderdate" -> day(col("o_orderdate")),
      "priority" -> col("o_orderpriority"))),
    TableDef("part", id("p", col("p_partkey")), Seq(
      "type" -> lit("Part"),
      "name" -> col("p_name"),
      "brand" -> col("p_brand"),
      "ptype" -> col("p_type"),
      "size" -> col("p_size").cast("string"),
      "retailprice" -> dec2(col("p_retailprice")))),
    TableDef("lineitem",
      concat(lit("l:"), col("l_orderkey").cast("string"),
             lit(":"), col("l_linenumber").cast("string")), Seq(
      "type" -> lit("Lineitem"),
      "order" -> id("o", col("l_orderkey")),
      "part" -> id("p", col("l_partkey")),
      "supplier" -> id("s", col("l_suppkey")),
      "quantity" -> dec2(col("l_quantity")),
      "extendedprice" -> dec2(col("l_extendedprice")),
      "discount" -> dec2(col("l_discount")),
      "returnflag" -> col("l_returnflag"),
      "linestatus" -> col("l_linestatus"),
      "shipdate" -> day(col("l_shipdate")))))

  val allTables: Seq[String] = schema.map(_.name)

  /** Subject-id prefix → backing table: the OSP-index analog. Subject
    * ids encode their table (`c:42` → customer), so a bound-subject
    * pattern resolves to ONE table scan instead of a scan per branch
    * (reference: index selection in
    * com.bigdata.rdf.store.AbstractTripleStore / SPOKeyOrder.getKeyOrder). */
  private val prefixTable: Map[String, String] = Map(
    "c" -> "customer", "n" -> "nation", "r" -> "region", "s" -> "supplier",
    "o" -> "orders", "p" -> "part", "l" -> "lineitem")

  def subjectTable(subjectId: String): Option[String] = {
    val i = subjectId.indexOf(':')
    if (i <= 0) None else prefixTable.get(subjectId.substring(0, i))
  }

  /** Parquet byte size of a table file/dir, from driver-side FS
    * metadata (no Spark job), cached per (dir, table). */
  private val tableBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def tableBytes(spark: SparkSession, dir: String, name: String): Long =
    tableBytesCache.computeIfAbsent(s"$dir/$name", { _ =>
      try {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(p).getLength
      } catch { case scala.util.control.NonFatal(_) => 0L }
    })

  /** All triples of one table from a SINGLE parquet scan: explode an
    * array of (p, o) structs instead of unioning one scan per
    * predicate. For unbound-predicate access (DESCRIBE, full-view
    * scans) this is 7 scans total instead of 36.
    *
    * SPREAD before the explode (guide §2: parallelism from the input,
    * not the accident of file count): a table that ships as one
    * single-row-group parquet file scans as ONE task, and the explode
    * multiplies its rows ~|props|× — full-view consumers (quad-store
    * aggregates, literal-space distincts, exports) then run their map
    * side single-core (measured: the 2.1 s single-task lineitem branch
    * under graph_update's final aggregate). A narrow-but-big branch
    * repartitions to the box width — base rows, BEFORE the explode, so
    * the shuffle is table-sized not triple-sized; filters still push
    * through the repartition to the scan. Tables under the one-task
    * threshold (nation, region at any SF; everything at sf0.001) and
    * inputs already split keep their plain scan. */
  private def explodeTriples(spark: SparkSession, dir: String, td: TableDef): DataFrame = {
    val t = table(spark, dir, td.name)
    val src =
      if (tableBytes(spark, dir, td.name) > (4L << 20)) graft.plans.Spread.narrow(t)
      else t
    src.select(td.subject.as("s"),
        explode(array(td.props.map { case (p, o) =>
          struct(lit(p).as("p"), o.cast("string").as("o")) }: _*)).as("po"))
      .select(col("s"), col("po.p").as("p"), col("po.o").as("o"))
  }

  /** The full (s, p, o) string triple view — one scan per table. */
  def triples(spark: SparkSession, dir: String): DataFrame =
    schema.map(explodeTriples(spark, dir, _)).reduce(_ unionAll _)

  /** Register the engine's relations as SQL temp views — `triples`,
    * `quads`, and every backing table — so plain `spark.sql` reaches
    * the store (with [[graft.functions.GraftFunctions.registerAll]],
    * the whole engine is SQL-visible; bound-predicate filters on the
    * views prune to single scans exactly like the DataFrame paths). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    triples(spark, dir).createOrReplaceTempView("triples")
    quads(spark, dir).createOrReplaceTempView("quads")
    (schema.map(_.name) ++ Seq("events", "documents", "embeddings"))
      .foreach(t => table(spark, dir, t).createOrReplaceTempView(t))
  }

  /** All triples of the single table owning `subjectId` (one scan),
    * filtered to that subject; empty-view fallback if the prefix is
    * unknown. The DESCRIBE access path. */
  def triplesForSubject(spark: SparkSession, dir: String, subjectId: String): DataFrame =
    subjectTable(subjectId) match {
      case Some(t) =>
        explodeTriples(spark, dir, schema.find(_.name == t).get)
          .filter(col("s") === lit(subjectId))
      case None => triples(spark, dir).filter(col("s") === lit(subjectId))
    }

  /** Bound-OBJECT access path — the OPS-index analog (reference:
    * key-order selection in com.bigdata.rdf.spo.SPOKeyOrder /
    * AbstractTripleStore; an object-bound pattern picks the OSP/OCSP
    * index there). Branch selection by the object TERM TYPE:
    *
    *  - an id-shaped constant (`n:3`, known prefix) is an IRI-analog;
    *    by RDF term-type disjointness (IRIs vs literals) it can only
    *    be produced by the reference predicates targeting its table,
    *    so the scan prunes to those branches — "what points at X" is
    *    2-3 narrow scans with the equality pushed down, never a
    *    full-corpus scan;
    *  - any other constant is a literal-analog: reference branches
    *    are pruned instead, and each literal-valued branch is a
    *    narrow per-column scan with the pushed equality (zone-map
    *    prunable at parquet level).
    */
  def triplesForObject(spark: SparkSession, dir: String, obj: String,
                       graph: Boolean = false): DataFrame = {
    val target = subjectTable(obj)
    val branches = for {
      td <- schema
      (p, o) <- td.props
      if (target match {
        case Some(t) => refTargets.get(p).contains(t)
        case None    => !refTargets.contains(p)
      })
    } yield {
      val base = table(spark, dir, td.name)
        .filter(o.cast("string") === lit(obj))
        .select(td.subject.as("s"), lit(p).as("p"), o.cast("string").as("o"))
      if (graph) base.withColumn("g", lit("g:" + td.name)) else base
    }
    val empty =
      if (graph) quads(spark, dir).limit(0) else triples(spark, dir).limit(0)
    if (branches.isEmpty) empty else branches.reduce(_ unionAll _)
  }

  /** Per-predicate branch view restricted to `tables`. Predicate
    * filters constant-fold per branch (each branch carries a literal
    * `p`), so callers that filter on `p` get narrow single-column
    * scans — the POS-index analog. Callers that scan all predicates
    * should use [[triples]] (explode form) instead. */
  def triplesFor(spark: SparkSession, dir: String, tables: Seq[String]): DataFrame = {
    val branches = for {
      td <- schema if tables.contains(td.name)
      (p, o) <- td.props
    } yield table(spark, dir, td.name)
      .select(td.subject.as("s"), lit(p).as("p"), o.cast("string").as("o"))
    branches.reduce(_ unionAll _)
  }

  /** Quad view (s, p, o, g): each backing table is a named graph
    * `g:<table>` — Blazegraph's quads mode (SPOC statement indices,
    * AbstractTripleStore quads=true) re-expressed as one extra literal
    * column. One scan per table (g is a branch literal, so a bound g
    * still prunes to a single scan). */
  def quads(spark: SparkSession, dir: String): DataFrame =
    schema.map { td =>
      explodeTriples(spark, dir, td).withColumn("g", lit("g:" + td.name))
    }.reduce(_ unionAll _)

  /** Graph/predicate-bound quad access path: both literals known →
    * exactly one narrow scan of one table (the SPOC-index analog). */
  def quadPattern(spark: SparkSession, dir: String,
                  g: Option[String], p: Option[String]): DataFrame = {
    val tds = g match {
      case Some(gv) => schema.filter(td => "g:" + td.name == gv)
      case None     => schema
    }
    val branches = for {
      td <- tds
      (pred, o) <- td.props if p.forall(_ == pred)
    } yield table(spark, dir, td.name)
      .select(td.subject.as("s"), lit(pred).as("p"), o.cast("string").as("o"),
              lit("g:" + td.name).as("g"))
    if (branches.isEmpty) quads(spark, dir).limit(0)
    else branches.reduce(_ unionAll _)
  }

  /** DuckDB CTE producing the byte-identical triple view, for oracles. */
  val oracleCte: String = {
    def d2(c: String) = s"CAST(CAST($c AS DECIMAL(18,2)) AS VARCHAR)"
    def dy(c: String) = s"strftime($c, '%Y-%m-%d')"
    def v(c: String) = s"CAST($c AS VARCHAR)"
    val branches = Seq(
      s"SELECT 'c:'||${v("c_custkey")} AS s, 'type' AS p, 'Customer' AS o FROM customer",
      s"SELECT 'c:'||${v("c_custkey")}, 'name', c_name FROM customer",
      s"SELECT 'c:'||${v("c_custkey")}, 'nation', 'n:'||${v("c_nationkey")} FROM customer",
      s"SELECT 'c:'||${v("c_custkey")}, 'acctbal', ${d2("c_acctbal")} FROM customer",
      s"SELECT 'c:'||${v("c_custkey")}, 'mktsegment', c_mktsegment FROM customer",
      s"SELECT 'n:'||${v("n_nationkey")}, 'type', 'Nation' FROM nation",
      s"SELECT 'n:'||${v("n_nationkey")}, 'name', n_name FROM nation",
      s"SELECT 'n:'||${v("n_nationkey")}, 'region', 'r:'||${v("n_regionkey")} FROM nation",
      s"SELECT 'r:'||${v("r_regionkey")}, 'type', 'Region' FROM region",
      s"SELECT 'r:'||${v("r_regionkey")}, 'name', r_name FROM region",
      s"SELECT 's:'||${v("s_suppkey")}, 'type', 'Supplier' FROM supplier",
      s"SELECT 's:'||${v("s_suppkey")}, 'name', s_name FROM supplier",
      s"SELECT 's:'||${v("s_suppkey")}, 'nation', 'n:'||${v("s_nationkey")} FROM supplier",
      s"SELECT 's:'||${v("s_suppkey")}, 'acctbal', ${d2("s_acctbal")} FROM supplier",
      s"SELECT 'o:'||${v("o_orderkey")}, 'type', 'Order' FROM orders",
      s"SELECT 'o:'||${v("o_orderkey")}, 'customer', 'c:'||${v("o_custkey")} FROM orders",
      s"SELECT 'o:'||${v("o_orderkey")}, 'status', o_orderstatus FROM orders",
      s"SELECT 'o:'||${v("o_orderkey")}, 'totalprice', ${d2("o_totalprice")} FROM orders",
      s"SELECT 'o:'||${v("o_orderkey")}, 'orderdate', ${dy("o_orderdate")} FROM orders",
      s"SELECT 'o:'||${v("o_orderkey")}, 'priority', o_orderpriority FROM orders",
      s"SELECT 'p:'||${v("p_partkey")}, 'type', 'Part' FROM part",
      s"SELECT 'p:'||${v("p_partkey")}, 'name', p_name FROM part",
      s"SELECT 'p:'||${v("p_partkey")}, 'brand', p_brand FROM part",
      s"SELECT 'p:'||${v("p_partkey")}, 'ptype', p_type FROM part",
      s"SELECT 'p:'||${v("p_partkey")}, 'size', ${v("p_size")} FROM part",
      s"SELECT 'p:'||${v("p_partkey")}, 'retailprice', ${d2("p_retailprice")} FROM part",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'type', 'Lineitem' FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'order', 'o:'||${v("l_orderkey")} FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'part', 'p:'||${v("l_partkey")} FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'supplier', 's:'||${v("l_suppkey")} FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'quantity', ${d2("l_quantity")} FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'extendedprice', ${d2("l_extendedprice")} FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'discount', ${d2("l_discount")} FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'returnflag', l_returnflag FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'linestatus', l_linestatus FROM lineitem",
      s"SELECT 'l:'||${v("l_orderkey")}||':'||${v("l_linenumber")}, 'shipdate', ${dy("l_shipdate")} FROM lineitem",
    )
    "triples AS (\n  " + branches.mkString("\n  UNION ALL ") + "\n)"
  }

  /** A [[TripleSource]] with the star-fusion fast path enabled. */
  /** Which table a reference predicate's objects identify. */
  private val refTargets: Map[String, String] = Map(
    "nation" -> "nation", "region" -> "region", "customer" -> "customer",
    "order" -> "orders", "part" -> "part", "supplier" -> "supplier")

  /** Synthetic supplier coordinates (integer-derived, so the DuckDB
    * oracle replays them bit-for-bit) — the demo geo corpus. */
  def supplierPoints(spark: SparkSession, dir: String): DataFrame = {
    val k = col("s_suppkey").cast("long")
    table(spark, dir, "supplier").select(k.as("k"),
      ((k * 7919 % 18000) / lit(100.0) - lit(90.0)).as("lat"),
      ((k * 104729 % 36000) / lit(100.0) - lit(180.0)).as("lon"))
  }

  /** Spatiotemporal twin: the same points with a deterministic epoch
    * "day" in [0, 999] — the lat-lon-TIME corpus (declared time
    * domain (0, 999)). */
  def supplierPointsT(spark: SparkSession, dir: String): DataFrame =
    supplierPoints(spark, dir).withColumn("t", (col("k") * 131) % 1000)

  def source(spark: SparkSession, dir: String): TripleSource = new TripleSource {
    lazy val triples: DataFrame = TpchRdf.triples(spark, dir)

    override def refTarget(pred: String): Option[String] = refTargets.get(pred)

    override def quads: Option[DataFrame] = Some(TpchRdf.quads(spark, dir))

    override def searchCorpus: Option[DataFrame] =
      Some(table(spark, dir, "documents").select("doc_id", "text"))

    override def geoCorpus: Option[DataFrame] =
      Some(supplierPoints(spark, dir))

    override def geoCorpusTime: Option[(DataFrame, Long, Long)] =
      Some((supplierPointsT(spark, dir), 0L, 999L))

    /** DESCRIBE-set access path with prefix pruning: the node set's
      * distinct id prefixes (≤ one per table, a driver-side collect on
      * a broadcast-sized set) select which tables to scan at all. */
    override def scanForSubjects(nodes: DataFrame): DataFrame = {
      val ns = nodes.select("s").distinct()
      val prefixes = ns
        .select(substring_index(col("s"), ":", 1).as("p")).distinct()
        .collect().map(_.getString(0)).toSeq
      val tables = prefixes.flatMap(prefixTable.get).distinct
      if (tables.isEmpty) triples.limit(0)
      else tables
        .map(t => explodeTriples(spark, dir, schema.find(_.name == t).get))
        .reduce(_ unionAll _)
        .join(ns, "s")
    }

    /** Graph-scoped access path (SPOC analog): bound predicate →
      * narrow branch scans (bound g narrows to exactly ONE scan);
      * bound object → ref-branch-pruned scans (OCSP analog); bound
      * subject → its prefix-resolved table only; otherwise the
      * exploded quad view, whose branch-literal g still prunes to one
      * table when g is bound. */
    override def quadScan(tp: TriplePattern, g: Term): DataFrame = {
      val gOpt = g match { case Const(v) => Some(v); case _ => None }
      val base = (tp.p, tp.o) match {
        case (Const(p), _) =>
          val qp = quadPattern(spark, dir, gOpt, Some(p))
          // bound subject → its table's graph only; the branch-literal
          // g folds the filter to a single remaining scan
          tp.s match {
            case Const(sv) => subjectTable(sv)
              .map(t => qp.filter(col("g") === lit("g:" + t))).getOrElse(qp)
            case _ => qp
          }
        case (_, Const(ov)) =>
          val ob = triplesForObject(spark, dir, ov, graph = true)
          gOpt.map(gv => ob.filter(col("g") === lit(gv))).getOrElse(ob)
        case _ =>
          val tds = schema
            .filter(td => gOpt.forall(_ == "g:" + td.name))
            .filter(td => tp.s match {
              case Const(sv) => subjectTable(sv).contains(td.name)
              case _         => true
            })
          if (tds.isEmpty) TpchRdf.quads(spark, dir).limit(0)
          else tds.map(td => explodeTriples(spark, dir, td)
                 .withColumn("g", lit("g:" + td.name)))
            .reduce(_ unionAll _)
      }
      Seq("s" -> tp.s, "o" -> tp.o).foldLeft(base) {
        case (df, (c, Const(v))) => df.filter(col(c) === lit(v))
        case (df, _)             => df
      }
    }

    /** Per-pattern access-path selection:
      *  - bound predicate → narrow per-table branch scans of only the
      *    tables defining that predicate (POS-index analog);
      *  - bound subject   → ONE exploded scan of the subject's table,
      *    resolved from its id prefix (SPO-index analog);
      *  - bound object    → only the branches whose object term type
      *    can produce the constant (OPS-index analog);
      *  - nothing bound   → exploded full view, one scan per table. */
    override def scan(tp: TriplePattern): DataFrame = tp.p match {
      case Const(p) =>
        // a bound subject narrows to its prefix-resolved table even
        // under a bound predicate (SPO analog) — one scan, not one per
        // predicate-defining table
        val subjT = tp.s match { case Const(v) => subjectTable(v); case _ => None }
        val branches = schema
          .filter(_.propMap.contains(p))
          .filter(td => subjT.forall(_ == td.name))
          .map { td =>
          var df = table(spark, dir, td.name)
          tp.s match {
            case Const(v) => df = df.filter(td.subject === lit(v))
            case _        => ()
          }
          tp.o match {
            case Const(v) => df = df.filter(td.propMap(p).cast("string") === lit(v))
            case _        => ()
          }
          df.select(td.subject.as("s"), lit(p).as("p"),
                    td.propMap(p).cast("string").as("o"))
        }
        if (branches.isEmpty) triples.limit(0)
        else branches.reduce(_ unionAll _)
      case _ =>
        (tp.s, tp.o) match {
          case (Const(sv), _) =>
            val base = triplesForSubject(spark, dir, sv)
            tp.o match {
              case Const(v) => base.filter(col("o") === lit(v))
              case _        => base
            }
          case (_, Const(ov)) => triplesForObject(spark, dir, ov)
          case _              => triples
        }
    }

    def fuseStar(patterns: Seq[TriplePattern],
                 subjectTables: Option[Set[String]]): Option[DataFrame] = {
      // only fusible when every pattern has a bound predicate and all
      // patterns share one subject term
      val preds = patterns.map(_.p).collect { case Const(p) => p }
      if (preds.size != patterns.size) return None
      // a bound subject resolves its table from the id prefix
      val subjTable = patterns.head.s match {
        case Const(v) => subjectTable(v)
        case _        => None
      }
      // candidate tables = those defining every predicate of the star,
      // narrowed by the compiler's range-typing constraint if present;
      // a constant `type` object needs no special case — the generic
      // constant-object filter below becomes lit(T) === 'v', which
      // Catalyst folds to false and prunes the whole branch
      val candidates = schema
        .filter(td => subjectTables.forall(_.contains(td.name)))
        .filter(td => subjTable.forall(_ == td.name))
        .filter(td => preds.forall(td.propMap.contains))
      if (candidates.isEmpty) return None
      val fused = candidates.map { td =>
        var df = table(spark, dir, td.name)
        // constant-object filters
        patterns.foreach {
          case TriplePattern(_, Const(p), Const(v)) =>
            df = df.filter(td.propMap(p).cast("string") === lit(v))
          case _ => ()
        }
        // object variables (dedup by var name; repeated var → equality)
        val objVars = patterns.collect { case TriplePattern(_, Const(p), Var(v)) => v -> p }
        // subject column; a subject var REUSED in object position is an
        // equality constraint (`?x name ?x`), not a free projection —
        // dropping it would return unconstrained rows
        val subjCols: Seq[(String, Column)] = patterns.head.s match {
          case Var(v) =>
            objVars.filter(_._1 == v).foreach { case (_, p) =>
              df = df.filter(td.subject.cast("string") ===
                td.propMap(p).cast("string"))
            }
            Seq(v -> td.subject)
          case Const(v) => df = df.filter(td.subject === lit(v)); Nil
        }
        objVars.groupBy(_._1).foreach { case (_, ps) =>
          ps.map(_._2).distinct.sliding(2).foreach {
            case Seq(p1, p2) =>
              df = df.filter(td.propMap(p1).cast("string") === td.propMap(p2).cast("string"))
            case _ => ()
          }
        }
        val projected = (subjCols ++ objVars.map { case (v, p) =>
          v -> td.propMap(p).cast("string")
        }).distinctBy(_._1)
        df.select(projected.map { case (v, c) => c.as(v) }: _*)
      }
      Some(fused.reduce(_ unionByName _))
    }
  }
}
