package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sparql.{Const, TriplePattern, TripleSource}

/** Materialized triple storage — the on-disk analog of the reference's
  * POS statement index (com.bigdata.rdf.store.AbstractTripleStore's
  * SPO/POS/OSP B+Trees), as a lakehouse layout instead of a B+Tree:
  *
  *  - the store is parquet PARTITIONED BY predicate, so a
  *    bound-predicate pattern reads exactly one partition directory
  *    (Catalyst partition pruning — zero footer reads elsewhere);
  *  - rows are sorted by subject WITHIN each partition, so a bound
  *    subject prunes row groups via parquet min/max zone maps.
  *
  * This is the production shape the virtual view's scaladoc points at:
  * at 100 TB you materialize the exploded view once and every
  * bound-predicate query becomes a partition-local scan. (An OSP
  * twin — partition by subject prefix — would serve object-bound
  * lookups; same mechanics.)
  */
object TripleStorage {

  /** Write an (s,p,o) relation as the predicate-partitioned store. */
  def write(triples: DataFrame, path: String): Unit =
    triples.select("s", "p", "o")
      .repartition(col("p"))
      .sortWithinPartitions("s")
      .write.mode("overwrite").partitionBy("p").parquet(path)

  /** TripleSource over a materialized store: bound-p scans prune to
    * one partition, bound-s scans prune row groups via the sort. */
  def source(spark: SparkSession, path: String): TripleSource = new TripleSource {
    lazy val triples: DataFrame =
      spark.read.parquet(path).select("s", "p", "o")
    def fuseStar(patterns: Seq[TriplePattern],
                 subjectTables: Option[Set[String]]): Option[DataFrame] = None
  }

  /** The object-id scheme of a term (`n:3` → `n`), `lit` for plain
    * literals — the OSP partition key. */
  private def objBucket(o: org.apache.spark.sql.Column) =
    when(Lexicon.isIri(o), substring_index(o, ":", 1)).otherwise("lit")

  /** OSP twin: the same triples partitioned by the OBJECT's id scheme
    * (literals pool under `lit`), objects sorted within partitions —
    * "what points at X" reads one partition directory and zone-map
    * prunes by `o`, the on-disk OSP-index analog. */
  def writeOsp(triples: DataFrame, path: String): Unit =
    triples.select(col("s"), col("p"), col("o"), objBucket(col("o")).as("ob"))
      .repartition(col("ob"))
      .sortWithinPartitions("o")
      .write.mode("overwrite").partitionBy("ob").parquet(path)

  /** TripleSource over the OSP store: a bound-object pattern filters
    * the partition column first, so only the object's scheme directory
    * is read. */
  def ospSource(spark: SparkSession, path: String): TripleSource = new TripleSource {
    lazy val triples: DataFrame =
      spark.read.parquet(path).select("s", "p", "o")
    override def scan(tp: TriplePattern): DataFrame = tp.o match {
      case Const(v) =>
        val bucket = if (Lexicon.isIri(v)) v.takeWhile(_ != ':') else "lit"
        TripleSource.filterScan(
          spark.read.parquet(path).filter(col("ob") === bucket).select("s", "p", "o"), tp)
      case _ => TripleSource.filterScan(triples, tp)
    }
    def fuseStar(patterns: Seq[TriplePattern],
                 subjectTables: Option[Set[String]]): Option[DataFrame] = None
  }

  /** Object-HASH-keyed OSP twin: partitioned by `obh` = crc32(o) % 64
    * (the [[graft.search.PersistedSearchIndex.termBucket]] scheme, so
    * the text services' literal hits NAME their directories). The
    * scheme-bucket [[writeOsp]] pools every literal under one `lit`
    * partition — useless for a literal hit set; this layout spreads
    * them, which is what makes a hit→subject join a pruned scan. */
  def writeOspHash(triples: DataFrame, path: String): Unit =
    triples.select(col("s"), col("p"), col("o"),
        graft.search.PersistedSearchIndex.termBucketCol(col("o")).as("obh"))
      // salt the shuffle key: repartitioning on obh alone caps the
      // sort+write at 64 tasks (one per bucket) — a 64-thread box
      // builds a 100M-triple twin 3-4× slower than it needs to. A few
      // salt lanes per bucket keep every core busy; each lane still
      // writes o-sorted files into its obh directory, so zone-map
      // pruning by o is untouched (a handful of files per dir, each
      // with tight o min/max ranges).
      .repartition(col("obh"), pmod(xxhash64(col("o")), lit(4)))
      .sortWithinPartitions("o")
      .write.mode("overwrite").partitionBy("obh").parquet(path)

  /** TripleSource over the hash-OSP store. [[TripleSource
    * .scanForObjects]] — the full-text services' hit→subject access
    * path — collects the hit set's bucket values (≤ 64, a driver-side
    * pass over the checkpointed hit ids) and PRUNES the scan to those
    * partition directories before the join: the "one full-view pass"
    * floor of a virtual view becomes a |buckets|/64 directory read.
    * Bound-object pattern scans prune the same way. */
  def ospHashSource(spark: SparkSession, path: String): TripleSource = new TripleSource {
    lazy val triples: DataFrame =
      spark.read.parquet(path).select("s", "p", "o")
    override def scan(tp: TriplePattern): DataFrame = tp.o match {
      case Const(v) =>
        val b = graft.search.PersistedSearchIndex.termBucket(v)
        TripleSource.filterScan(
          spark.read.parquet(path).filter(col("obh") === b).select("s", "p", "o"), tp)
      case _ => TripleSource.filterScan(triples, tp)
    }
    override def scanForObjects(objs: DataFrame): DataFrame =
      scanForObjectsPruned(spark, path, objs)
    override def objectKeyedScan: Boolean = true
    def fuseStar(patterns: Seq[TriplePattern],
                 subjectTables: Option[Set[String]]): Option[DataFrame] = None
  }

  /** `base` with an object-hash twin directory attached: every access
    * path forwards to the base (pattern scans keep its fusion/branch
    * pruning), except the O→S hit→subject join, which reads the
    * twin's pruned partition directories ([[scanForObjectsPruned]]).
    * This is the SPO/POS + OSP split of the reference's statement
    * indices (AbstractTripleStore keeps all three B+Trees over one
    * statement relation; here the twin is a second parquet layout
    * staged beside the store — [[writeOspHash]] builds it once).
    *
    * STALENESS CONTRACT: the twin is a static snapshot — callers must
    * attach it only to the store state it was built from and rebuild
    * (or drop the wrapper) after mutating the base; the durable path
    * ([[Journal.compact]] `ospHashTwin` + `Repository.connection`)
    * manages this automatically per commit point, and `Graft`'s
    * in-memory mutation ops drop their accelerators for the same
    * reason. */
  def withOspTwin(base: TripleSource, spark: SparkSession,
                  ospHashPath: String): TripleSource = new TripleSource {
    def triples: DataFrame = base.triples
    def fuseStar(patterns: Seq[TriplePattern],
                 subjectTables: Option[Set[String]]): Option[DataFrame] =
      base.fuseStar(patterns, subjectTables)
    override def refTarget(pred: String): Option[String] = base.refTarget(pred)
    override def scan(tp: TriplePattern): DataFrame = base.scan(tp)
    override def quads: Option[DataFrame] = base.quads
    override def quadScan(tp: TriplePattern, g: graft.sparql.Term): DataFrame =
      base.quadScan(tp, g)
    override def searchCorpus: Option[DataFrame] = base.searchCorpus
    override def defaultAnalyzer: Option[String] = base.defaultAnalyzer
    override def searchIndex: Option[graft.search.SearchIndexView] = base.searchIndex
    override def literalIndex: Option[graft.search.SearchIndexView] = base.literalIndex
    override def geoCorpus: Option[DataFrame] = base.geoCorpus
    override def geoCorpusTime: Option[(DataFrame, Long, Long)] = base.geoCorpusTime
    override def scanForSubjects(nodes: DataFrame): DataFrame = base.scanForSubjects(nodes)
    override def scanForObjects(objs: DataFrame): DataFrame =
      scanForObjectsPruned(spark, ospHashPath, objs)
    override def objectKeyedScan: Boolean = true
  }

  /** The hash-OSP hit→subject access path over ANY obh-partitioned
    * store directory (a [[writeOspHash]] store or a
    * [[Journal.compact]] `ospHashTwin` segment): collect the hit
    * set's bucket values (≤ 64, a driver-side pass over the
    * checkpointed hit ids) and PRUNE the scan to those partition
    * directories before the join — the "one full-view pass" floor of
    * a virtual view becomes a |buckets|/64 directory read. */
  def scanForObjectsPruned(spark: SparkSession, path: String,
                           objs: DataFrame): DataFrame = {
    import graft.search.PersistedSearchIndex.{termBucketCol, Buckets}
    val buckets = objs.select(termBucketCol(col("o")).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val pruned =
      if (buckets.size >= Buckets) spark.read.parquet(path)
      else spark.read.parquet(path).filter(col("obh").isin(buckets: _*))
    pruned.select("s", "p", "o").join(objs.select("o"), "o")
  }
}
