package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sparql.Update

/** Bulk loader — the analog of the reference's command-line DataLoader
  * (bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/store/
  * DataLoader.java: mass-ingest RDF files into a journal with
  * incremental commit/closure options; the first tool a migrating
  * deployment runs). Spark-shaped: every document parses through the
  * DISTRIBUTED LOAD readers (line formats split across tasks,
  * whole-file formats parallelize across files), all files of one
  * batch land as ONE journal commit, and the journal compacts at the
  * end so steady-state reads are a bare parquet scan.
  *
  * Usage from code: {{{ BulkLoad.run(spark, journalDir, paths) }}};
  * from a shell: {{{ runMain graft.rdf.BulkLoad <journalDir> <file>... }}}
  * (`--graph <g>` targets a named graph, `--no-compact` skips the
  * final compaction, `--namespace <ns>` loads a server journal tree's
  * namespace — `<journalDir>/<ns>`).
  *
  * Globs work wherever Spark's readers accept them (`part-*.nt.gz`),
  * so a 100-TB corpus loads as a few glob batches, each one commit —
  * the commit log stays short while the data stays distributed. */
object BulkLoad {

  /** Ingest `paths` (any LOAD-supported extension, compressed ok) into
    * the journal at `dir` (created if absent), one commit per call;
    * returns (version, statements loaded). */
  def run(spark: SparkSession, dir: String, paths: Seq[String],
          graph: Option[String] = None, compact: Boolean = true): (Long, Long) = {
    val journal =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "commits")))
        Journal.open(spark, dir)
      else Journal.create(spark, dir)
    runWith(spark, journal, paths, graph, compact)
  }

  /** Core over an already-open journal handle (the REST bulk-load
    * endpoint drives the server tenant's own journal through this —
    * no second handle on the directory). SINGLE-PASS by design: the
    * one corpus read is the segment parquet write itself
    * ([[Journal.appendRaw]] — no staging checkpoint, no write-side
    * `distinct()` shuffle; set semantics are the journal resolution's
    * job), and the statement count comes from the committed segment's
    * parquet FOOTERS, a metadata read. The reference's DataLoader
    * streams documents through to the journal the same way. */
  def runWith(spark: SparkSession, journal: Journal, paths: Seq[String],
              graph: Option[String] = None, compact: Boolean = true): (Long, Long) = {
    require(paths.nonEmpty, "no input files")
    val defaultGraph = "g:default"
    val quads: DataFrame = paths
      .map(p => Update.loadOpQuads(spark, p, graph, defaultGraph))
      .reduce(_ unionAll _)
    val v = journal.appendRaw(quads)
    val n = journal.segmentRowCount(v).getOrElse(0L)
    if (compact) journal.compact()
    (v, n)
  }

  def main(args: Array[String]): Unit = {
    var graph: Option[String] = None
    var namespace: Option[String] = None
    var compact = true
    val rest = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--graph"      => graph = Some(args(i + 1)); i += 2
        case "--namespace"  => namespace = Some(args(i + 1)); i += 2
        case "--no-compact" => compact = false; i += 1
        case a              => rest += a; i += 1
      }
    }
    require(rest.size >= 2, "usage: BulkLoad [--graph g] [--namespace ns] [--no-compact] <journalDir> <file>...")
    val dir = namespace.fold(rest.head)(ns => s"${rest.head}/$ns")
    val spark = graft.Harness.session()
    val (v, n) = run(spark, dir, rest.tail.toSeq, graph, compact)
    println(s"""{"journal":"$dir","version":$v,"statements":$n}""")
    spark.stop()
  }
}
