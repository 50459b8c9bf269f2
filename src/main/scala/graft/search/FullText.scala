package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Spread

/** Distributed full-text index + search.
  *
  * Blazegraph embeds a full-text index over literal values
  * (bigdata-core/bigdata-rdf/src/java/com/bigdata/search/FullTextIndex.java:
  * tokenize → (token, docId, termFreq) keys; ReadIndexTask scores hits
  * by token weight overlap). Spark-native shape: the inverted index IS
  * a DataFrame `(term, doc_id, tf)` — built with one shuffle on
  * (doc, term) and one on term for document frequencies — and a search
  * is a broadcast semi-join of the (tiny) query-term set against the
  * postings, then a per-doc score aggregation. Scoring = TF·IDF with
  * natural-log IDF, deterministic across engines.
  */
object FullText {

  def tokens(c: Column): Column = Analyzer.Latin().tokenize(c)

  /** Inverted postings (term, doc_id, tf) from docs(doc_id, text);
    * `analyzer` picks the tokenization (per-language/per-namespace —
    * the ConfigurableAnalyzerFactory seam, see [[Analyzer]]). */
  def invertedIndex(docs: DataFrame,
                    analyzer: Analyzer = Analyzer.Latin()): DataFrame = {
    val tfs = Spread.narrow(docs)
      .select(col("doc_id"), explode(analyzer.tokenize(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    // the NORMALIZED local weight rides in the postings — the
    // reference stores it in the tuple at index time
    // (TokenBuffer.flush → TermFrequencyData.normalize), so a search
    // never re-derives document norms. The norm is a WINDOW over the
    // same tf rows (one doc_id exchange + sort) rather than a
    // groupBy-then-join (which re-exchanged the postings by doc_id a
    // second time for the join); values identical — the Σtf² is exact
    // integer arithmetic either way.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    tfs.select(col("term"), col("doc_id"), col("tf"),
      (col("tf") / sqrt(sum(col("tf") * col("tf")).over(w))).as("dw"))
  }

  /** Incremental maintenance of a persisted inverted index — the
    * reference keeps its text index in step with statement
    * assert/retract (com.bigdata.search text indexer hooks) rather
    * than rebuilding. Replaces changed docs (an id present in both
    * inputs re-indexes), drops removed ones. Cost scales with the
    * DELTA: the anti-join prunes on doc_id and only the added docs
    * tokenize; at production scale this is the lakehouse MERGE keyed
    * on doc_id (partition the persisted index by a doc_id hash bucket
    * so the anti-join touches only matching buckets). */
  def updateIndex(index: DataFrame, addedDocs: DataFrame,
                  removedDocIds: DataFrame,
                  analyzer: Analyzer = Analyzer.Latin()): DataFrame = {
    val gone = removedDocIds.select("doc_id")
      .unionByName(addedDocs.select("doc_id")).distinct()
    index.join(gone, Seq("doc_id"), "left_anti")
      .unionByName(invertedIndex(addedDocs, analyzer)
        .select("doc_id", "term", "tf", "dw"))
  }

  /** Top-k docs for the query terms, scored Σ tf·ln(N/df).
    *
    * Document frequencies are computed from the postings that ALREADY
    * matched the query — for a matched term that subset contains every
    * posting of the term, so the df values are identical to global
    * ones, but nothing vocabulary-sized is ever aggregated or
    * broadcast: the only broadcast is |query| rows and |matched terms|
    * df rows. (The earlier shape broadcast df for every term in the
    * corpus — billions of rows at 100 TB.)
    *
    * Options mirror the reference's FULL search API
    * (com/bigdata/search/FullTextIndex.java:1004 region; FullTextQuery):
    *  - `prefixMatch`: query entries match any term they prefix;
    *  - `matchAll`: only docs matching EVERY query entry score;
    *  - `regex`: match index terms by regex instead of the query list
    *    (the reference's REGEX match option);
    *  - `minScore`/`maxScore`: relevance window (minCosine/maxCosine);
    *  - `minRank`/`maxRank`: rank window — keep ranked hits in
    *    [minRank, maxRank] (rank = order by score desc, doc_id asc;
    *    compiles to a bounded sort-limit with offset, never a window);
    *  - `matchExact`: keep only docs whose TEXT contains the original
    *    query string verbatim (the reference's MATCH_EXACT —
    *    BigdataValueCentricFullTextIndex.matchExact:390 tests
    *    `stringValue().contains(query)`); one candidate-sized join
    *    back to the corpus text.
    * The reference's searchTimeout has no per-operator analog here —
    * evaluation is a Spark job, and cancellation and the query
    * deadline belong to the job group the server's reply seam opens for
    * every exchange ([[graft.plans.Jobs]]); callers consume-and-ignore
    * it, documented. */
  def search(docs: DataFrame, queryIn: Seq[String], k: Int = 20,
             prefixMatch: Boolean = false, matchAll: Boolean = false,
             regex: Option[String] = None,
             minScore: Option[Double] = None,
             maxRank: Option[Int] = None,
             analyzer: Analyzer = Analyzer.Latin(),
             maxScore: Option[Double] = None,
             minRank: Option[Int] = None,
             matchExact: Seq[String] = Nil): DataFrame = {
    // duplicate query entries would double-count tf in scores and make
    // matchAll unsatisfiable (n_matched counts DISTINCT entries)
    val query = queryIn.distinct
    val matched = matchPostings(docs, query, prefixMatch, regex, analyzer)
    val scored0 = scoreMatched(matched, query.size, matchAll, regex,
      minScore, maxScore)
    val scored = exactFilter(scored0, docs, matchExact)
    rankWindow(scored, minRank, maxRank, k)
  }

  /** MATCH_EXACT: keep hits whose corpus text contains EVERY given
    * query string verbatim (case-sensitive, the reference's
    * contains() test; a multi-bds:query group phrase-checks each
    * query literal — dropping all but the first would silently widen
    * results) — a candidate-sized join back to the text. */
  private def exactFilter(scored: DataFrame, docs: DataFrame,
                          matchExact: Seq[String]): DataFrame =
    if (matchExact.isEmpty) scored
    else scored.join(docs.select("doc_id", "text"), "doc_id")
      .filter(matchExact.map(q => col("text").contains(lit(q))).reduce(_ && _))
      .drop("text")

  /** Shared matching front of [[search]]/[[searchAll]]: query-matched
    * postings (term, q_term, doc_id, tf), materialized once, plus the
    * corpus-size relation the IDF needs.
    *
    * The query-term match runs on RAW tokens, BELOW the tf
    * aggregation: the (term, doc_id) shuffle then carries only
    * matched postings, not the whole corpus index (a matched term
    * keeps every one of its postings, so tf and df are identical to
    * index-then-filter). The corpus is tokenized in one map-side pass
    * either way; at production scale the inverted index is a
    * persisted table and the build cost disappears entirely. */
  private def matchPostings(docs: DataFrame, query: Seq[String],
                            prefixMatch: Boolean, regex: Option[String],
                            analyzer: Analyzer): DataFrame = {
    // two consumers (match join + candidate norms) tokenize this —
    // spread a narrow corpus once so both passes use the box
    val raw = Spread.narrow(docs).select(col("doc_id"),
      explode(analyzer.tokenize(col("text"))).as("term"))
    val matchedRaw = regex match {
      case Some(re) =>
        // regex match runs on the TERM DICTIONARY (distinct terms),
        // never per-posting: at scale the dictionary is orders of
        // magnitude smaller than the postings. NO broadcast hint —
        // the matched set is sized by the pattern, not the query
        // (`.*` matches the whole dictionary); AQE broadcasts only
        // when the runtime size fits
        val terms = raw.select("term").distinct()
          .filter(col("term").rlike(re))
          .withColumn("q_term", col("term"))
        raw.join(terms, "term")
      case None =>
        val q = docs.sparkSession.createDataFrame(query.map(Tuple1(_))).toDF("q_term")
        val cond =
          if (prefixMatch) col("term").startsWith(col("q_term"))
          else col("term") === col("q_term")
        raw.join(broadcast(q), cond)
    }
    // two consumers (norm join + scoring) — materialize the
    // query-scoped postings once
    val matched = matchedRaw
      .groupBy("term", "q_term", "doc_id").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // per-CANDIDATE-doc L2 norm over the doc's WHOLE term vector (the
    // reference's TermFrequencyData.normalize()) — candidate-keyed
    // semi-join, never a corpus-wide aggregate
    val cand = matched.select("doc_id").distinct()
    val norms = raw.join(cand, Seq("doc_id"), "left_semi")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id").agg(sqrt(sum(col("tf") * col("tf"))).as("_dn"))
    val withDw = matched.join(norms, "doc_id")
      .select(col("term"), col("q_term"), col("doc_id"),
        (col("tf") / col("_dn")).as("dw"))
    withDw
  }

  /** Search a PERSISTED inverted-index table `(term, doc_id, tf)` —
    * the production shape the build-per-query path's scaladoc promises:
    * `invertedIndex(docs)` is written ONCE as a parquet table
    * (bucketing/partitioning by term is the 100-TB layout) and every
    * query is then a broadcast semi-join against the postings with NO
    * tokenize/build stage in its plan. `nDocs` is the corpus size the
    * IDF needs — a one-row statistic a deployment stores alongside the
    * index at build time. */
  def searchIndex(index: DataFrame, nDocs: Long, queryIn: Seq[String], k: Int = 20,
                  prefixMatch: Boolean = false, matchAll: Boolean = false,
                  regex: Option[String] = None,
                  minScore: Option[Double] = None,
                  maxRank: Option[Int] = None,
                  maxScore: Option[Double] = None,
                  minRank: Option[Int] = None,
                  matchExact: Seq[String] = Nil,
                  exactTextOf: Option[Column => Column] = None): DataFrame = {
    val query = queryIn.distinct
    val matched = matchIndexPostings(index, nDocs, query, prefixMatch, regex)
    val scored0 = scoreMatched(matched, query.size, matchAll, regex,
      minScore, maxScore)
    // MATCH_EXACT against a postings-only index: the caller supplies
    // how to recompute a doc's text from its id (a value-centric
    // literal index: doc_id IS the term, text = its lexical form).
    // A deployment whose ids are opaque keeps a (doc_id, text) side
    // table and filters hits through search()'s inline shape instead.
    val scored = matchExact match {
      case Nil => scored0
      case qs =>
        val textOf = exactTextOf.getOrElse(sys.error(
          "matchExact on a postings index needs exactTextOf (how to " +
            "recompute doc text from doc_id); use search() with a corpus otherwise"))
        scored0.filter(qs.map(q => textOf(col("doc_id")).contains(lit(q))).reduce(_ && _))
    }
    rankWindow(scored, minRank, maxRank, k)
  }

  /** ALL matching docs of a PERSISTED index with scores — the
    * [[searchAll]] sibling for the index-backed path (no rank cut, no
    * global sort; semi-join consumers like bds:searchInSearch read
    * the hit set as a filter). */
  def searchIndexAll(index: DataFrame, nDocs: Long, queryIn: Seq[String],
                     prefixMatch: Boolean = false, matchAll: Boolean = false,
                     regex: Option[String] = None,
                     minScore: Option[Double] = None): DataFrame = {
    val query = queryIn.distinct
    val matched = matchIndexPostings(index, nDocs, query, prefixMatch, regex)
    scoreMatched(matched, query.size, matchAll, regex, minScore)
      .select("doc_id", "score")
  }

  /** Shared matching front of the index-backed paths: query-matched
    * postings from a persisted `(term, doc_id, tf)` relation — NO
    * tokenize/build stage; the plan is the postings scan + a
    * broadcast semi-join (term-bucketed layout prunes the scan to the
    * query's buckets at production scale). */
  private def matchIndexPostings(index: DataFrame, nDocs: Long,
                                 query: Seq[String], prefixMatch: Boolean,
                                 regex: Option[String]): DataFrame = {
    val spark = index.sparkSession
    // exact-term queries against a bucket-partitioned index
    // ([[PersistedSearchIndex]] lays adds segments out by term-hash
    // `pb`) name their partition directories up front — the postings
    // scan prunes to |query| buckets of 64 instead of reading the
    // postings table. Prefix/regex queries span buckets; a postings
    // relation without `pb` (e.g. a hand-built index) scans as before.
    val pruned =
      if (regex.isEmpty && !prefixMatch && index.columns.contains("pb")) {
        val buckets = query.map(PersistedSearchIndex.termBucket).distinct
        index.filter(col("pb").isin(buckets: _*))
      } else index
    val matched = (regex match {
      case Some(re) =>
        val terms = pruned.select("term").distinct()
          .filter(col("term").rlike(re))
          .withColumn("q_term", col("term"))
        pruned.join(terms, "term")
      case None =>
        val q = spark.createDataFrame(query.map(Tuple1(_))).toDF("q_term")
        val cond =
          if (prefixMatch) col("term").startsWith(col("q_term"))
          else col("term") === col("q_term")
        pruned.join(broadcast(q), cond)
    }).select(col("term"), col("q_term"), col("doc_id"), col("dw"))
      .localCheckpoint()
    matched
  }

  /** ALL matching docs with scores — no rank cut, no global sort.
    * The semi-join services (bds:searchInSearch) consume hits as a
    * FILTER over another relation: a top-k would change the
    * semantics, and a global sort would move the entire hit set to
    * one partition for an ordering nothing downstream reads. Same
    * matching/scoring pipeline as [[search]] minus the ranked tail. */
  def searchAll(docs: DataFrame, queryIn: Seq[String],
                prefixMatch: Boolean = false, matchAll: Boolean = false,
                regex: Option[String] = None,
                minScore: Option[Double] = None,
                analyzer: Analyzer = Analyzer.Latin()): DataFrame = {
    val query = queryIn.distinct
    val matched = matchPostings(docs, query, prefixMatch, regex, analyzer)
    scoreMatched(matched, query.size, matchAll, regex, minScore)
      .select("doc_id", "score")
  }

  /** Shared scoring body over query-matched postings
    * (term, q_term, doc_id, tf): per-doc TF·IDF + matchAll and
    * relevance-window filters, NO ordering. */
  private def scoreMatched(matched: DataFrame, nQuery: Int,
                           matchAll: Boolean, regex: Option[String],
                           minScore: Option[Double],
                           maxScore: Option[Double] = None): DataFrame = {
    // the reference's relevance (FullTextIndex: "cosine between the
    // query's and each document's normalized term-frequency vector"):
    // doc weight = tf / ||doc tf vector||  (TermFrequencyData.normalize),
    // query weight = 1/sqrt(|query terms|) (the query's own normalize —
    // every query tf is 1), score = Σ qw·dw ∈ [0,1]. A regex query has
    // no fixed term list — its hits score by the doc-weight sum alone
    // (qw = 1, documented decision). IDF does not participate, matching
    // the reference (its weights carry no document frequency).
    val qw = if (regex.isDefined) 1.0 else 1.0 / math.sqrt(nQuery.toDouble)
    val scored = matched
      .groupBy("doc_id")
      .agg(round(sum(col("dw") * qw), 6).as("score"),
           countDistinct(col("q_term")).as("n_matched"))
    val kept0 =
      if (matchAll && regex.isEmpty) scored.filter(col("n_matched") === nQuery)
      else scored
    val kept1 = minScore.fold(kept0)(ms => kept0.filter(col("score") >= ms))
    maxScore.fold(kept1)(ms => kept1.filter(col("score") <= ms))
  }

  /** Rank window + final top-k over scored hits. The [minRank,
    * maxRank] cutoff compiles to sort-limit-with-offset
    * (TakeOrderedAndProject: per-partition top-K, then merge) — a
    * global row_number window would move every hit to ONE partition.
    * `k == Int.MaxValue` means NO final cut (the classic
    * magic-predicate form returns every hit): the output then stays
    * unordered and unlimited — an unbounded TakeOrdered would
    * otherwise collect the whole hit set into one partition. */
  private def rankWindow(scored: DataFrame, minRank: Option[Int],
                         maxRank: Option[Int], k: Int): DataFrame = {
    val lo = minRank.getOrElse(1)
    require(lo >= 1, s"minRank must be >= 1, got $lo")
    maxRank.foreach(hi => require(hi >= lo,
      s"maxRank ($hi) must be >= minRank ($lo)"))
    val ranked = (minRank, maxRank) match {
      case (None, None) => scored
      case _ =>
        val ordered = scored.orderBy(col("score").desc, col("doc_id"))
          .offset(lo - 1)
        maxRank.fold(ordered)(hi => ordered.limit(hi - lo + 1))
    }
    val out = ranked.select("doc_id", "score")
    if (k == Int.MaxValue) out
    else out.orderBy(col("score").desc, col("doc_id")).limit(k)
  }
}
