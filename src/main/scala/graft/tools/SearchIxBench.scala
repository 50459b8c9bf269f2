package graft.tools

import org.apache.spark.sql.SparkSession

/** Bench aid for the persisted-search-index paths (round 13): times
  * the index build and each searchInSearch / bds:search variant —
  * corpus (build-per-query) vs indexed — so the scale evidence can
  * carry fresh-JVM per-variant readings. Not part of the library
  * surface (a DedupAB sibling).
  *
  * Usage: runMain graft.tools.SearchIxBench <sfDir> <mode>
  * Modes: build | sis-corpus | sis-indexed | sis-slow-corpus |
  *        sis-slow-indexed | fts-corpus | fts-indexed | all
  * The build lands at a dir-keyed /tmp path; query modes reuse it
  * across JVMs (run `build` first).
  */
object SearchIxBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = if (args.length > 1) args(1) else "all"
    val modes = Set("build", "sis-corpus", "sis-indexed", "sis-slow-corpus",
      "sis-slow-indexed", "fts-corpus", "fts-indexed", "all", "probe",
      "litfts-corpus", "litfts-indexed", "osp-build", "sis-osp", "sync",
      "build-phases")
    require(modes(mode), s"mode must be one of ${modes.toSeq.sorted.mkString("|")}, got '$mode'")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.rdf.TpchRdf
    import graft.sparql.{BuiltinServices, Compiler, Parser, TripleSource}

    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val litDir = s"/tmp/graft_searchix_lit_$md"
    val docDir = s"/tmp/graft_searchix_doc_$md"

    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[searchix] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s (rows=$n)")
    }

    val src = TpchRdf.source(spark, dir)

    if (mode == "build" || mode == "all") {
      Seq(litDir, docDir).foreach { d =>
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p)) {
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        }
      }
      time("build literal index") {
        graft.search.PersistedSearchIndex
          .create(spark, litDir, BuiltinServices.literalSpace(TpchRdf.triples(spark, dir)))
          .nDocs
      }
      time("build documents index") {
        graft.search.PersistedSearchIndex
          .create(spark, docDir,
            TpchRdf.table(spark, dir, "documents").select("doc_id", "text"),
            termDocIds = false)
          .nDocs
      }
    }

    if (mode == "build-phases") {
      // replicate PersistedSearchIndex.create's update() steps one at a
      // time so the build cost decomposes (guide §1: measure first)
      import org.apache.spark.sql.functions._
      val corpus0 = BuiltinServices.literalSpace(TpchRdf.triples(spark, dir))
      var corpus: org.apache.spark.sql.DataFrame = null
      time("corpus distinct+checkpoint") {
        corpus = corpus0.select("doc_id", "text").localCheckpoint(); corpus.count()
      }
      var ids: org.apache.spark.sql.DataFrame = null
      time("addedIds distinct+checkpoint") {
        ids = corpus.select("doc_id").distinct().localCheckpoint(); ids.count()
      }
      var adds: org.apache.spark.sql.DataFrame = null
      time("invertedIndex tokenize+checkpoint") {
        adds = graft.search.FullText.invertedIndex(corpus, graft.search.Analyzer.Latin())
          .select("doc_id", "term", "tf", "dw").localCheckpoint()
        adds.count()
      }
      val w1 = s"/tmp/graft_phases_w1_$md"; val w2 = s"/tmp/graft_phases_w2_$md"
      Seq(w1, w2).foreach { d =>
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
      time("writeAdds as-is (no repartition, partitionBy pb)") {
        adds.withColumn("pb", graft.search.PersistedSearchIndex.termBucketCol(col("term")))
          .write.mode("errorifexists").partitionBy("pb").parquet(w1)
        0L
      }
      time("writeAdds repartition(pb,salt4)") {
        adds.withColumn("pb", graft.search.PersistedSearchIndex.termBucketCol(col("term")))
          .repartition(col("pb"), pmod(xxhash64(col("term")), lit(4)))
          .write.mode("errorifexists").partitionBy("pb").parquet(w2)
        0L
      }
      def nFiles(d: String): Long = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        try s.filter(p => p.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p)).count()
        finally s.close()
      }
      println(s"[searchix] files as-is=${nFiles(w1)} repartitioned=${nFiles(w2)}")
      spark.stop(); return
    }

    lazy val litView = graft.search.PersistedSearchIndex.open(spark, litDir).view
    lazy val docView = graft.search.PersistedSearchIndex.open(spark, docDir).view
    lazy val srcLit = TripleSource.withIndexes(src, literal = Some(litView))
    lazy val srcDoc = TripleSource.withIndexes(src, search = Some(docView))

    val sisQuery =
      """SELECT ?r ?rname WHERE {
        |  ?r name ?rname .
        |  SERVICE bds:searchInSearch { ?r bds:searchInSearch "africa america" . }
        |} ORDER BY ?r""".stripMargin
    // minRelevance forces the score-dependent slow path on the corpus
    // side (full literal-space distinct + tokenize)
    val sisSlow =
      """SELECT ?r ?rname WHERE {
        |  ?r name ?rname .
        |  SERVICE bds:searchInSearch {
        |    ?r bds:searchInSearch "africa america" .
        |    ?r bds:minRelevance "0.1" .
        |  }
        |} ORDER BY ?r""".stripMargin
    val fts =
      """SELECT ?doc_id ?score WHERE {
        |  SERVICE bds:search {
        |    _:s bds:query "spark join vector" . _:s bds:limit "20" .
        |    _:s bds:out ?doc_id . _:s bds:outVal ?score .
        |  }
        |} ORDER BY DESC(?score) ?doc_id""".stripMargin

    def run(tag: String, q: String, s: TripleSource): Unit =
      time(tag)(Compiler.compile(Parser.parse(q), s).count())

    val ospDir = s"/tmp/graft_searchix_osp_$md"
    mode match {
      // materialize the triple view as the object-HASH-keyed OSP
      // store — the production layout whose hit→subject join prunes
      case "osp-build" =>
        time("materialize ospHash store") {
          graft.rdf.TripleStorage.writeOspHash(TpchRdf.triples(spark, dir), ospDir)
          spark.read.parquet(ospDir).count()
        }
      // the indexed searchInSearch (score-option form) against a
      // store with BOTH access-path families (the reference keeps
      // SPO/POS/OSP side by side): pattern scans take the
      // predicate-pruned branch paths, the hit→subject join takes the
      // OSP-hash store's pruned scan
      case "sis-osp" =>
        val osp = graft.rdf.TripleStorage.ospHashSource(spark, ospDir)
        val both = new TripleSource {
          def triples = src.triples
          def fuseStar(patterns: Seq[graft.sparql.TriplePattern],
                       subjectTables: Option[Set[String]]) = None
          override def scan(tp: graft.sparql.TriplePattern) = src.scan(tp)
          override def scanForObjects(objs: org.apache.spark.sql.DataFrame) =
            osp.scanForObjects(objs)
          override def objectKeyedScan = true
          override def literalIndex = Some(litView)
        }
        run("searchInSearch indexed + ospHash hit join", sisSlow, both)
      // bds:search over a real store's LITERAL space (the Graft-store
      // shape): corpus path = store-wide distinct + tokenize per
      // query; indexed = bucket-pruned postings lookup
      case "litfts-corpus" =>
        time("literal bds:search corpus (distinct+tokenize)") {
          graft.search.FullText.search(
            graft.sparql.BuiltinServices.literalSpace(TpchRdf.triples(spark, dir)),
            Seq("africa", "america"), 20).count()
        }
      case "litfts-indexed" =>
        time("literal bds:search indexed") {
          graft.search.FullText.searchIndex(
            litView.postings, litView.nDocs, Seq("africa", "america"), 20).count()
        }
      case "probe" =>
        // stage split of the indexed searchInSearch path
        import org.apache.spark.sql.functions.{broadcast, col}
        var hits: org.apache.spark.sql.DataFrame = null
        time("postings match + score (searchIndexAll)") {
          hits = graft.search.FullText
            .searchIndexAll(litView.postings, litView.nDocs,
              Seq("africa", "america")).localCheckpoint()
          hits.count()
        }
        var subs: org.apache.spark.sql.DataFrame = null
        time("store O-join (broadcast probe) + distinct") {
          subs = src.triples
            .join(broadcast(hits.select(col("doc_id").as("o"))), "o")
            .select(col("s").as("r")).distinct().localCheckpoint()
          subs.count()
        }
        time("enclosing name-scan join") {
          src.scan(graft.sparql.TriplePattern(
              graft.sparql.Var("r"), graft.sparql.Const("name"), graft.sparql.Var("rname")))
            .select(col("s").as("r"), col("o").as("rname"))
            .join(subs, "r").count()
        }
      case "sis-corpus"       => run("searchInSearch corpus (prefilter path)", sisQuery, src)
      // NOTE post-routing: a prefilterable query on an indexed source
      // deliberately takes the PREFILTER path (measured cheaper where
      // it applies) — this mode now validates that routing; the
      // index-path timings are the sis-slow-* modes
      case "sis-indexed"      => run("searchInSearch indexed", sisQuery, srcLit)
      case "sis-slow-corpus"  => run("searchInSearch corpus (score slow path)", sisSlow, src)
      case "sis-slow-indexed" => run("searchInSearch indexed (score options)", sisSlow, srcLit)
      case "fts-corpus"       => run("bds:search corpus", fts, src)
      case "fts-indexed"      => run("bds:search indexed", fts, srcDoc)
      // maintenance-sync cost at the staged index's scale: an
      // append-only delta syncs against a COPY of the literal index
      // (sidecar bloom membership, round-14 shape) — and the r13
      // postings-membership shape is timed beside it for the contrast
      // line. The copy keeps the staged index pristine for other modes.
      case "sync" =>
        import org.apache.spark.sql.functions.{col, concat, lit}
        val copyDir = s"/tmp/graft_searchix_sync_$md"
        val cp = java.nio.file.Paths.get(copyDir)
        if (java.nio.file.Files.exists(cp))
          java.nio.file.Files.walk(cp).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        val from = java.nio.file.Paths.get(litDir)
        java.nio.file.Files.walk(from).forEach { f =>
          val t = cp.resolve(from.relativize(f))
          if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(t)
          else java.nio.file.Files.copy(f, t)
        }
        val ix = graft.search.PersistedSearchIndex.open(spark, copyDir)
        println(s"[searchix] index nDocs=${ix.nDocs}")
        val jdir = java.nio.file.Files.createTempDirectory("graft_syncj").toString
        val j = graft.rdf.Journal.create(spark, jdir)
        val delta = spark.range(1000).select(
          concat(lit("x:s"), col("id")).as("s"), lit("note").as("p"),
          concat(lit("fresh literal payload "), col("id")).as("o"),
          lit("g:default").as("g"))
        j.append(delta)
        // r13 shape for contrast: membership anti-join against the
        // POSTINGS doc ids (the whole relation enters the plan)
        time("membership via postings relation (r13 shape)") {
          BuiltinServices.literalSpace(delta)
            .join(ix.view.postings.select("doc_id"), Seq("doc_id"), "left_anti")
            .count()
        }
        time("append-only sync (sidecar bloom membership + tokenize + write)") {
          graft.rdf.TextIndexMaintenance.sync(ix, j)
          ix.nDocs
        }
      case "all" =>
        run("searchInSearch corpus (prefilter path)", sisQuery, src)
        run("searchInSearch indexed", sisQuery, srcLit)
        run("searchInSearch corpus (score slow path)", sisSlow, src)
        run("searchInSearch indexed (score options)", sisSlow, srcLit)
        run("bds:search corpus", fts, src)
        run("bds:search indexed", fts, srcDoc)
      case "build" => ()
    }
    spark.stop()
  }
}
