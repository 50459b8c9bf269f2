package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Built-in magic services evaluated through the [[ServiceRegistry]]
  * seam — the reference registers these as ServiceFactory instances
  * keyed by their service IRI (ast/eval/SearchInSearchServiceFactory
  * .java, SliceServiceFactory.java, SampleServiceFactory.java); here
  * they are registry Handlers keyed by the same names, so SERVICE
  * parsing, SILENT semantics and the enclosing-group join all come
  * from the one ServiceCall code path.
  *
  * Each handler receives the SERVICE group's algebra (a plain BGP:
  * the magic predicates parse as ordinary constant-predicate triple
  * patterns) and the enclosing query's triple source.
  */
object BuiltinServices {

  /** Route taken by the last bds:searchInSearch compile ("index" /
    * "prefilter" / "slow") — test instrumentation for the
    * stats-routing spec (the [[graft.rdf.Journal.recordParses]]
    * discipline). Not part of the API. */
  @volatile private[graft] var lastRoute: String = ""

  private def bgpOf(inner: Algebra, svc: String): Seq[TriplePattern] =
    inner match {
      case Bgp(ps @ _*) => ps
      case other => sys.error(
        s"SERVICE $svc expects a plain triple-pattern group, got $other")
    }

  /** Patterns + FILTER conditions of a group that allows range
    * filters (bd:slice — SliceServiceFactory.java:258). */
  private def unwrapFilters(inner: Algebra, svc: String): (Seq[TriplePattern], Seq[Column]) =
    inner match {
      case Bgp(ps @ _*) => (ps, Nil)
      case Filter(child, cond) =>
        val (ps, cs) = unwrapFilters(child, svc)
        (ps, cs :+ cond)
      // a mid-group FILTER makes the parser join the pattern groups
      // around it — flatten: everything is one access path + filters
      case Join(l, r) =>
        val (lp, lc) = unwrapFilters(l, svc)
        val (rp, rc) = unwrapFilters(r, svc)
        (lp ++ rp, lc ++ rc)
      case other => sys.error(
        s"SERVICE $svc expects triple patterns plus optional FILTERs, got $other")
    }

  /** Literal corpus of a store: every distinct non-IRI object term,
    * doc_id = the term itself (what the hit joins back on), text =
    * the lexical form — the reference FullTextIndex's value-centric
    * index over literal values. Vocabulary-sized (a distinct over the
    * object column); the slow path for score-dependent / regex /
    * rewriting-analyzer queries — the common case takes the one-pass
    * prefiltered shape in [[searchInSearch]] instead. */
  private def literalCorpus(src: TripleSource): DataFrame =
    literalSpace(src.triples)

  /** Distinct literal corpus of any relation with an `o` column:
    * (doc_id = the full term, text = the lexical form) — shared by
    * the per-query slow path above and by the persisted literal
    * index's build/maintenance ([[graft.rdf.TextIndexMaintenance]]). */
  private[graft] def literalSpace(rel: DataFrame): DataFrame = {
    rel.select(col("o").cast("string").as("t")).distinct()
      .filter(graft.rdf.Lexicon.isLiteral(col("t")))
      .select(col("t").as("doc_id"), RdfLiteral.strOf(col("t")).as("text"))
  }

  /** `SERVICE bds:searchInSearch { ?s bds:searchInSearch "query" . }`
    * — the reference's search-in-search filter
    * (SearchInSearchServiceFactory.java:79: keep bindings of ?s that
    * link to a Literal found via the full-text index). Options ride
    * as extra magic-predicate patterns on the same subject:
    * bds:matchAllTerms, bds:matchRegex, bds:minRelevance,
    * bds:maxRank; a '*' anywhere in the query string switches every
    * term to prefix match (reference behavior).
    *
    * Spark shape: FT-match the store's literal space (no rank cut —
    * [[graft.search.FullText.searchAll]]), then one O→S join
    * (the OSP access-path analog) and a distinct — the handler
    * returns the matched-subject SET as a one-column solution, and
    * the compiler's enclosing-group join makes it a semi-join filter
    * on ?s. Divergence noted: with NO enclosing binding of ?s the
    * reference emits nothing (its executor filters incoming binding
    * sets); here the service binds the matched subjects — the
    * declarative-set semantics of the same definition. */
  private[sparql] val searchInSearch: ServiceRegistry.Handler = (inner, src) => {
    val pats = bgpOf(inner, "bds:searchInSearch")
    val main = pats.find(_.p == Const("bds:searchInSearch")).getOrElse(
      sys.error("bds:searchInSearch needs a '?s bds:searchInSearch \"query\"' pattern"))
    val outVar = main.s match {
      case Var(n) => n
      case other  => sys.error(s"bds:searchInSearch subject must be a variable, got $other")
    }
    val query = main.o match {
      case Const(q) => q
      case other    => sys.error(s"bds:searchInSearch object must be a literal, got $other")
    }
    // validate the option surface like the reference's validateSearch
    // (SearchInSearchServiceFactory.java:258 throws on unverified
    // predicates): a typo'd option must not silently vanish. The
    // surface is the reference's full list — bds:searchTimeout is
    // consumed-and-ignored (cancellation is the server job-group
    // seam's job), and bds:relevance/bds:rank variables are accepted
    // like the reference but bind nothing (this service emits only
    // the filtered subjects, as does the reference's executor).
    val knownOpts = Set("bds:searchInSearch", "bds:matchAllTerms",
      "bds:matchRegex", "bds:minRelevance", "bds:maxRelevance",
      "bds:minRank", "bds:maxRank", "bds:matchExact",
      "bds:searchTimeout", "bds:relevance", "bds:rank")
    pats.foreach {
      case TriplePattern(s, Const(p), _) if s == main.s && knownOpts(p) => ()
      case other => sys.error(
        s"bds:searchInSearch: unrecognized pattern $other (options on the " +
          s"search variable: ${knownOpts.toSeq.sorted.mkString(", ")})")
    }
    def opt(name: String): Option[String] = pats.collectFirst {
      case TriplePattern(s, Const(p), Const(o)) if p == name && s == main.s => o
    }
    val prefixMatch = query.contains("*")
    val qText = if (prefixMatch) query.replace("*", "") else query
    val az = src.defaultAnalyzer.map(graft.search.Analyzer.byName(_))
      .getOrElse(graft.search.Analyzer.Latin())
    val qTerms = az.tokenizeLocal(qText)
    val matchAll = opt("bds:matchAllTerms").exists(_.toBoolean)
    val regex = opt("bds:matchRegex")
    val minScore = opt("bds:minRelevance").map(_.toDouble)
    val maxScore = opt("bds:maxRelevance").map(_.toDouble)
    val minRank = opt("bds:minRank").map(_.toInt)
    val maxRank = opt("bds:maxRank").map(_.toInt)
    val matchExact = opt("bds:matchExact").exists(_.toBoolean)
    // rank window shared by every path below: a bounded
    // sort-limit-with-offset (TakeOrderedAndProject), applied to the
    // hit set only — never a row_number window
    def rankWindow(hits: DataFrame): DataFrame = (minRank, maxRank) match {
      case (None, None) => hits
      case (lo, hi) =>
        val ordered = hits.orderBy(col("score").desc, col("doc_id"))
          .offset(lo.getOrElse(1) - 1)
        hi.fold(ordered)(h => ordered.limit(h - lo.getOrElse(1) + 1))
    }
    // Final O→S semi-join, shared by the index and slow paths. The
    // hit set is query-selective; materialize it once and BROADCAST
    // when it is broadcast-sized, so the store side is ONE scan with
    // an in-codegen hash probe — left to AQE, the SMJ's map stages
    // for the full triple view start before the runtime size of the
    // small side is known, and the store pays its full shuffle
    // (measured at the 100× store, indexed path: 147 s with the SMJ
    // vs 87 s with the broadcast probe). A corpus-sized hit set (a
    // stopword query) falls back to the shuffle join rather than a
    // GB broadcast.
    def subjectsOf(hits: DataFrame): DataFrame = {
      val ids = hits.select(col("doc_id").as("o")).localCheckpoint()
      // through the source's OSP-analog access path: an object-keyed
      // layout prunes the scan to the hits' buckets; the default is
      // the one full-view pass
      val joined =
        if (ids.count() <= 1000000L) src.scanForObjects(broadcast(ids))
        else src.scanForObjects(ids)
      joined.select(col("s").as(outVar)).distinct()
    }
    // PERSISTED-index path (the production shape this handler's
    // scaladoc promises): postings built once over the literal space
    // and maintained on store commits replace the per-query corpus
    // tokenize — the plan is a bucket-pruned postings lookup + the
    // one O→S broadcast join. Scores/df/N come from the index
    // (identical to a fresh corpus by construction), so EVERY option
    // combination is served; doc_id IS the literal term, so
    // matchExact recomputes the lexical form from the id. An
    // analyzer-mismatched index is ignored (its postings were
    // tokenized differently). Ordering vs the substring prefilter
    // below is MEASURED, not assumed: the prefilter's candidate scan
    // doubles as the final join input (one store pass total), so
    // where both apply it wins — 100× store: 41 s prefilter vs 87 s
    // index + store join; the index's class is the score-dependent /
    // regex / rewriting-analyzer queries the prefilter can't serve,
    // where it replaces the 164 s corpus slow path.
    val indexed = src.literalIndex.collect {
      case ix if ix.termDocIds &&
        graft.search.Analyzer.byName(ix.analyzer) == az =>
        val hits0 = graft.search.FullText.searchIndexAll(
          ix.postings, ix.nDocs, qTerms,
          prefixMatch = prefixMatch, matchAll = matchAll,
          regex = regex, minScore = minScore)
        val hits1 = maxScore.fold(hits0)(ms => hits0.filter(col("score") <= ms))
        val hits2 =
          if (!matchExact) hits1
          else hits1.filter(RdfLiteral.strOf(col("doc_id")).contains(lit(qText)))
        subjectsOf(rankWindow(hits2))
    }
    // substring prefilter: sound for pure-segmentation analyzers only
    // (token ⊆ lower(text)), and only while nothing score-dependent
    // is requested — the TF·IDF corpus-size term would shift on a
    // filtered corpus, so minRelevance/maxRank queries keep the full
    // literal space; regex mode matches the term DICTIONARY, so no
    // row-level contains supersets it either
    val prefilterable =
      az.substringSafe && regex.isEmpty && qTerms.nonEmpty &&
        minScore.isEmpty && maxScore.isEmpty &&
        minRank.isEmpty && maxRank.isEmpty
    // Where BOTH paths apply, route by index STATS instead of the
    // analyzer class alone — but only on a source whose hit→subject
    // join is object-KEYED: on a virtual view the prefilter's one
    // store pass stays cheaper than index-hits + a full-view O→S join
    // (41 vs 87 s at 100×, r13 evidence), so the index route needs the
    // pruned store scan to win. There, bound the query terms' postings
    // volume from the index's bucket parquet footers (no job; a bucket
    // pools 1/64 of the vocabulary, so the bound is loose but safe)
    // and take the bucket-pruned index lookup exactly when the bound
    // fits the same cutoff the O→S broadcast probe uses — a
    // broadcast-sized hit class makes index + pruned join strictly
    // cheaper than the full pass, while a stopword-class term
    // (store-sized hit set) keeps the measured-cheaper prefilter.
    // Prefix queries span buckets (no footer bound) and keep the
    // prefilter.
    val routeCutoff = src.triples.sparkSession.conf
      .get("graft.search.indexRouteMaxBucketRows", "1000000").toLong
    val statBound: Option[Long] =
      if (prefixMatch || indexed.isEmpty || !src.objectKeyedScan) None
      else src.literalIndex
        .filter(ix => ix.termDocIds && graft.search.Analyzer.byName(ix.analyzer) == az)
        .flatMap(_.bucketRowBound)
        .map(_(qTerms.map(graft.search.PersistedSearchIndex.termBucket)))
    if (prefilterable && statBound.exists(_ <= routeCutoff)) {
      lastRoute = "index"
      indexed.get
    } else if (prefilterable) {
      lastRoute = "prefilter"
      // ONE-PASS shape: the contains prune (AND of terms under
      // matchAll) runs inside the full-view scan's codegen and the
      // surviving (s, o) rows — candidate-sized, not corpus-sized —
      // are materialized ONCE; both the exact token verify (over
      // their distinct literals) and the final O→S semi-join read
      // that checkpoint. Without this the service paid a corpus-wide
      // distinct plus TWO full passes over the exploded store
      // (candidate scan + join scan): measured 333 s → 60 s at the
      // 100× store (the checkpointed candidates broadcast into the
      // final semi-join, so the second "pass" disappears). The
      // remaining cost IS the one full-view pass a per-query
      // evaluation owes —
      // a production deployment replaces it with the persisted
      // literal index + O-keyed layout (the fulltext_persisted
      // trade), at which point this handler's plan is index lookups.
      val conds = qTerms.map(term => lower(col("o")).contains(lit(term)))
      val candRows = src.triples
        .select(col("s"), col("o").cast("string").as("o"))
        .filter(if (matchAll) conds.reduce(_ && _) else conds.reduce(_ || _))
        .localCheckpoint()
      val corpus = literalSpace(candRows)
      // matchExact (verbatim phrase containment against the literal's
      // lexical form) is rank-independent — it composes with the
      // prefiltered candidate corpus
      val hits0 = graft.search.FullText.searchAll(corpus, qTerms,
        prefixMatch = prefixMatch, matchAll = matchAll, analyzer = az)
      val hits =
        if (!matchExact) hits0
        else hits0.join(corpus, "doc_id")
          .filter(col("text").contains(lit(qText))).drop("text")
      candRows.join(hits.select(col("doc_id").as("o")), "o")
        .select(col("s").as(outVar)).distinct()
    } else if (indexed.isDefined) { lastRoute = "index"; indexed.get }
    else {
      lastRoute = "slow"
      val corpus = literalCorpus(src)
      val hits0 = graft.search.FullText.searchAll(
        corpus, qTerms,
        prefixMatch = prefixMatch,
        matchAll = matchAll,
        regex = regex,
        minScore = minScore,
        analyzer = az)
      val hits1 = maxScore.fold(hits0)(ms => hits0.filter(col("score") <= ms))
      val hits2 =
        if (!matchExact) hits1
        else hits1.join(corpus, "doc_id")
          .filter(col("text").contains(lit(qText))).drop("text")
      // the rank window is the only option that needs an order
      subjectsOf(rankWindow(hits2))
    }
  }

  private def varCols(tp: TriplePattern): Seq[(String, String)] =
    Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o)
      .collect { case (c, Var(n)) => (c, n) }

  /** Shared-variable equality of a repeated pattern variable (`?x p
    * ?x`), applied ON THE ACCESS PATH — the constrained rows ARE the
    * path a slice pages or a sample draws from, so this must run
    * before any offset/limit/pick. */
  private def dupVarConstraint(rows: DataFrame, tp: TriplePattern): DataFrame =
    varCols(tp).groupBy(_._2).values.filter(_.size > 1)
      .foldLeft(rows) { (df, grp) =>
        grp.map(_._1).sliding(2).foldLeft(df)((d, w) =>
          d.filter(col(w.head) === col(w(1))))
      }

  /** Project a pattern scan's columns to the pattern's variable names
    * (constant positions drop; a repeated variable binds once). */
  private def projectVars(rows: DataFrame, tp: TriplePattern): DataFrame = {
    val vc = varCols(tp)
    require(vc.nonEmpty, s"pattern binds no variables: $tp")
    val firstPerVar = vc.groupBy(_._2).map { case (n, g) => (g.head._1, n) }
    rows.select(firstPerVar.toSeq.sortBy(_._1)
      .map { case (c, n) => col(c).as(n) }: _*)
  }

  private def paramOf(pats: Seq[TriplePattern], key: String): Option[Term] =
    pats.collectFirst {
      case TriplePattern(Const("bd:serviceParam"), Const(p), o) if p == key => o
    }

  /** Param value that must be a constant — a variable here is a user
    * error the reference's factories reject, not a silent default. */
  private def constParam(pats: Seq[TriplePattern], key: String): Option[String] =
    paramOf(pats, key).map {
      case Const(v) => v
      case other    => sys.error(s"$key needs a constant value, got $other")
    }

  /** Split the group into the ONE data pattern and its service
    * params, validating every param predicate against the service's
    * vocabulary — the reference factories throw on unrecognized
    * params (SliceServiceFactory.java:245 'unrecognized param'), and
    * a silently-ignored typo (bd:slice.offst) would otherwise return
    * the wrong page with no error. */
  private def splitParams(pats: Seq[TriplePattern], svc: String,
                          allowed: Set[String]): (TriplePattern, Seq[TriplePattern]) = {
    val (params, data) = pats.partition(_.s == Const("bd:serviceParam"))
    require(data.size == 1,
      s"SERVICE $svc expects exactly one triple pattern, got ${data.size}")
    params.foreach {
      case TriplePattern(_, Const(p), _) if allowed(p) => ()
      case TriplePattern(_, p, _) => sys.error(
        s"SERVICE $svc: unrecognized param $p (allowed: ${allowed.toSeq.sorted.mkString(", ")})")
    }
    (data.head, params)
  }

  /** `SERVICE bd:slice { <one pattern> [FILTER…] . bd:serviceParam … }`
    * — the reference's statement-pattern slicing service
    * (SliceServiceFactory.java:35): paged access to a single access
    * path, or (bd:slice.range ?v) its exact range count — the
    * ESTCARD sibling. Params: bd:slice.offset (default 0),
    * bd:slice.limit (default 1000), bd:slice.range ?var. FILTERs over
    * the pattern's variables are allowed (SliceServiceFactory.java:258
    * "ok to have filters with ranges" — the RangeBOp shape): they
    * restrict the path BEFORE paging/counting, so the page window and
    * the range count are of the filtered range.
    *
    * Spark shape: the pattern goes through the source's access-path
    * selection ([[TripleSource.scan]] — bound positions prune to
    * branch scans), filters and repeated-variable equality constrain
    * the path inside the scan, pages are deterministic in (s,p,o) key
    * order (the SPO B+Tree key order the reference pages in), and
    * offset/limit compile to a bounded global sort-limit, never a
    * full materialization. Range mode is one COUNT aggregate. */
  private[sparql] val slice: ServiceRegistry.Handler = (inner, src) => {
    val (pats, conds) = unwrapFilters(inner, "bd:slice")
    val (tp, params) = splitParams(pats, "bd:slice",
      Set("bd:slice.offset", "bd:slice.limit", "bd:slice.range"))
    val rangeVar = paramOf(params, "bd:slice.range").map {
      case Var(n) => n
      case other  => sys.error(s"bd:slice.range needs a variable, got $other")
    }
    // variable bindings materialize under their ?names so range
    // filters resolve, while the key rides under reserved _k_*
    // aliases (parser rejects user vars starting with '_', so no
    // collision — a var literally named `p` bound at the object
    // position must not overwrite the key column); both constraints
    // apply before any paging
    val vc = varCols(tp)
    val keyed = dupVarConstraint(src.scan(tp), tp).select(
      Seq(col("s").as("_k_s"), col("p").as("_k_p"), col("o").as("_k_o")) ++
        vc.groupBy(_._2).map { case (n, g) => col(g.head._1).as(n) }.toSeq: _*)
    val rows = conds.foldLeft(keyed)(_ filter _)
    rangeVar match {
      case Some(rv) => rows.agg(count(lit(1)).as(rv))
      case None =>
        val offset = constParam(params, "bd:slice.offset")
          .map(_.toLong).getOrElse(0L)
        val limit = constParam(params, "bd:slice.limit")
          .map(_.toLong).getOrElse(1000L)
        require(offset >= 0 && limit >= 0, s"bd:slice offset/limit must be >= 0")
        require(offset <= Int.MaxValue && limit <= Int.MaxValue,
          "bd:slice offset/limit beyond Int.MaxValue — page windows that " +
            "deep defeat the bounded sort-limit; filter the pattern instead")
        require(vc.nonEmpty, s"pattern binds no variables: $tp")
        rows.orderBy(col("_k_s"), col("_k_p"), col("_k_o"))
          .offset(offset.toInt).limit(limit.toInt)
          .select(vc.map(_._2).distinct.map(col): _*)
    }
  }

  /** `SERVICE bd:sample { <one pattern> . bd:serviceParam … }` — the
    * reference's access-path sampling service
    * (SampleServiceFactory.java:33 over bop/ap/SampleIndex.java).
    * Params: bd:sample.limit (default 100), bd:sample.seed (default
    * 0), bd:sample.sampleType RANDOM | EVEN | DENSE (default RANDOM).
    *
    * Deterministic across engines and partitionings:
    *  - RANDOM: order by md5(s|p|o|seed) and take the first `limit` —
    *    the md5-bucket discipline (a seeded uniform draw any engine
    *    can replay; compiles to TakeOrderedAndProject, per-partition
    *    top-K + merge, never a full sort);
    *  - DENSE: the first `limit` rows in (s,p,o) key order (the
    *    reference's leading-keys sample);
    *  - EVEN: every max(1, ⌊n/limit⌋)-th row of the key-ordered path
    *    — the reference EvenSampleAdvancer's exact skipCount
    *    (SampleIndex.java:440), so like the reference the pick is
    *    head-anchored and the trailing partial stride is unsampled.
    *    Pays one partition-count aggregate plus a per-partition
    *    row_number over the range-sorted path (offsets prefix-summed
    *    on the driver) — all DataFrame/Tungsten, no RDD round-trip,
    *    no single-partition window. */
  private[sparql] val sample: ServiceRegistry.Handler = (inner, src) => {
    val pats = bgpOf(inner, "bd:sample")
    val (tp, params) = splitParams(pats, "bd:sample",
      Set("bd:sample.limit", "bd:sample.seed", "bd:sample.sampleType"))
    val limit = constParam(params, "bd:sample.limit").map(_.toInt).getOrElse(100)
    val seed = constParam(params, "bd:sample.seed").map(_.toLong).getOrElse(0L)
    val sampleType = constParam(params, "bd:sample.sampleType")
      .map(_.toUpperCase).getOrElse("RANDOM")
    require(limit > 0, s"bd:sample.limit must be positive, got $limit")
    val rows = dupVarConstraint(src.scan(tp), tp)
    val picked = sampleType match {
      case "RANDOM" =>
        rows.orderBy(md5(concat_ws("|",
            col("s"), col("p"), col("o"), lit(seed.toString))))
          .limit(limit)
      case "DENSE" =>
        rows.orderBy(col("s"), col("p"), col("o")).limit(limit)
      case "EVEN" =>
        // EVEN needs GLOBAL key-order positions (the reference
        // EvenSampleAdvancer's exact skipCount, SampleIndex.java:440)
        // — computed here without leaving DataFrame land: range
        // repartition + in-partition sort totals the (s,p,o) order
        // across ascending partition ids; per-partition counts
        // (one bounded aggregate, ≤ shuffle-partitions rows) prefix-
        // sum into driver-side offsets, and each row's position is
        // offset(pid) + rownum-within-pid − 1 — the pipeline_budget
        // histogram discipline. The row_number window partitions BY
        // pid, so it is per-partition work, never the one-partition
        // global window; everything stays in Tungsten (no `.rdd`
        // count job + deserialization pass). localCheckpoint pins
        // the pid assignment: range partitioning SAMPLES its bounds,
        // and the count job and the pick job must see the same one.
        val ordered = rows
          .repartitionByRange(col("s"), col("p"), col("o"))
          .sortWithinPartitions("s", "p", "o")
          .withColumn("_pid", spark_partition_id())
          .localCheckpoint()
        val counts = ordered.groupBy("_pid").agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        val n = counts.map(_._2).sum
        val stride = math.max(1L, n / math.max(1, limit))
        val offsets = counts.foldLeft((0L, Vector.empty[(Int, Long)])) {
          case ((acc, out), (pid, c)) => (acc + c, out :+ (pid -> acc))
        }._2
        val spark = rows.sparkSession
        import spark.implicits._
        val offDf = offsets.toDF("_pid", "_off")
        // head-anchored: the first `limit` stride picks in key order
        // (bounded sort over the ~limit-sized pick set, not the path)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("_pid").orderBy(col("s"), col("p"), col("o"))
        ordered.join(broadcast(offDf), "_pid")
          .withColumn("_pos", col("_off") + row_number().over(w) - 1)
          .filter(col("_pos") % stride === 0)
          .orderBy("_pos").limit(limit)
          .drop("_pid", "_off", "_pos")
      case other => sys.error(s"bd:sample.sampleType must be RANDOM | EVEN | DENSE, got $other")
    }
    projectVars(picked, tp)
  }

  /** `SERVICE bd:values { bd:serviceParam bd:values.var ?v .
    * bd:serviceParam bd:values.val "a" . … }` — the reference's
    * VALUES-through-a-service form (ValuesServiceFactory.java:34):
    * exactly one variable, one or more values; the inline relation
    * joins the enclosing group like a VALUES block (runFirst in the
    * reference = join-input here; a broadcast-sized literal relation
    * either way). */
  private[sparql] val values: ServiceRegistry.Handler = (inner, src) => {
    val pats = bgpOf(inner, "bd:values")
    pats.foreach {
      case TriplePattern(Const("bd:serviceParam"), Const("bd:values.var" | "bd:values.val"), _) => ()
      case other => sys.error(
        s"bd:values: unrecognized pattern $other (params: bd:values.var, bd:values.val)")
    }
    val vars = pats.collect {
      case TriplePattern(Const("bd:serviceParam"), Const("bd:values.var"), Var(n)) => n
    }
    require(vars.size == 1,
      s"bd:values needs exactly one bd:values.var variable, got ${vars.size}")
    val vals = pats.collect {
      case TriplePattern(Const("bd:serviceParam"), Const("bd:values.val"), Const(v)) => v
    }
    require(vals.nonEmpty, "bd:values needs at least one bd:values.val value")
    src.triples.sparkSession.createDataFrame(vals.map(Tuple1(_))).toDF(vars.head)
  }

  /** Registration hook — referenced from [[ServiceRegistry]]'s
    * initializer so the built-ins exist before any lookup. */
  private[sparql] def all: Seq[(String, ServiceRegistry.Handler)] = Seq(
    "bds:searchInSearch" -> searchInSearch,
    "bd:slice" -> slice,
    "bd:sample" -> sample,
    "bd:values" -> values,
    // the external-fulltext service registers under its prefixed name
    // AND the reference's full service IRI (FTS.SEARCH) — this closes
    // the reference's default registry (ServiceRegistry.java:129-147:
    // SEARCH, GEO, FTS, SEARCH_IN_SEARCH, SAMPLE, SLICE, VALUES) 7/7
    "fts:search" -> FtsService.handler,
    "http://www.bigdata.com/rdf/fts#search" -> FtsService.handler)

  /** Built-in magic-service names: these always bind their declared
    * output variables (every hit row carries the hit term), so their
    * joins stay plain EQUI joins — only user-registered/remote
    * endpoints get §8.3 unbound-compatible treatment. */
  private[sparql] lazy val names: Set[String] = all.map(_._1).toSet
}
