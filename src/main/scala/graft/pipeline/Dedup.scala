package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data deduplication operators (SURVEY.md §2, LLM-pipeline
  * block). All operate on docs(doc_id: Long, text: String).
  *
  * Scale design: every variant avoids the O(n²) pair space —
  *  - exact: one hash-groupBy on a 256-bit digest (never shuffles the
  *    full text, only the 32-byte hash + id);
  *  - n-gram Jaccard: inverted shingle index join — pairs materialize
  *    only for docs sharing a shingle;
  *  - MinHash/LSH: per-row signature (map-only) → band explosion →
  *    shuffle on (band, key) only; exact-Jaccard verification runs on
  *    the candidate set, not all pairs;
  *  - SimHash: 64-bit sketch per row, 16-bit band buckets, Hamming
  *    verification per bucket.
  */
object Dedup {

  def words(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** Distinct word 3-gram shingles per doc: (doc_id, shingles).
    *
    * Typed row map rather than an expression: the equivalent
    * transform/element_at/array_distinct chain evaluates interpreted
    * (HOFs are CodegenFallback) at ~5 ms/doc — the sliding-window JVM
    * loop is ~40× faster and equally shuffle-free. */
  def shingleSets(docs: DataFrame, n: Int = 3,
                  keepEmpty: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spread a narrow input before the expensive per-doc map: the
    // tokenize+slide pass is the dominant corpus cost of every shingle
    // consumer (measured 0.6-1.4 s/job single-core at sf0.1)
    val raw = graft.plans.Spread.narrow(docs)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.toLowerCase(java.util.Locale.ROOT)
          .split("[^a-z0-9]+").filter(_.nonEmpty)
        // sorted: the banded verify joins count intersections with the
        // zero-allocation sorted-merge kernel (shingles are ASCII, so
        // Java's sort order IS UTF8 binary order — the kernel contract)
        (id, toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toArray.distinct.sorted)
      }
      .toDF("doc_id", "shingles")
    // pair-producing consumers drop shingle-less docs at the source;
    // per-doc profile operators (substringDup, incrementalDedup) keep
    // them — a doc shorter than the window still needs an output row
    if (keepEmpty) raw else raw.filter(size(col("shingles")) > 0)
  }

  /** Exact dedup: canonical keeper per identical text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")

  /** All pairs with exact Jaccard ≥ minJ over word n-gram shingles,
    * via PREFIX-FILTERED candidate generation (the Chaudhuri/Xiao
    * all-pairs/ppjoin family) + an exact sorted-merge verify.
    *
    * Candidate generation: rank each doc's df ≥ 2 shingles in ONE
    * global order — document frequency ascending, hash as the tie
    * break (rarest first) — and emit only each doc's ranked prefix to
    * the self-join. With per-doc minimum qualifying intersection
    * `α = ⌈minJ·|s|⌉ − v` over generatable shingles (`v` = the doc's
    * viral count, see maxDf below), the prefix keeps `g − α + k`
    * elements with k = min(α, ⌈(α+M)/2⌉): the extended prefix
    * guarantees a qualifying pair shares ≥ min(M, max(αa,αb)) prefix
    * shingles, so the join aggregates meet-counts per pair and a
    * MATCH FLOOR prunes everything below it. Three in-join prunes run
    * inside the join's codegen before any row materializes: the
    * equality on the 8-byte shingle hash, the length filter
    * (min(sa,sb) ≥ t·max(sa,sb)), and the M-slack positional filter
    * (remaining rank capacity + min(M,maxα) must reach maxα — the
    * slack keeps all first-min(M,maxα) meets of a qualifying pair so
    * the floor count stays sound; proofs inline below). All filters
    * are EXACT: zero qualifying pairs are droppable (spec-asserted
    * against [[ngramJaccardPostings]] and the DuckDB oracle).
    *
    * Verification is a sorted-hash merge on the (floor-surviving)
    * candidate pairs: each candidate doc's df ≥ 2 shingle hashes ride
    * as one sorted long array and the zero-allocation merge kernel
    * computes exact intersections
    * ([[graft.functions.VectorExprs.sorted_long_intersect_count]],
    * the minhashLsh verify shape) — df == 1 shingles can't intersect
    * and stay out of the arrays; union sizes come from |s|. Viral
    * shingles are IN the arrays, so no posting re-join or viral
    * correction pass exists anymore.
    *
    * `maxDf` caps a shingle's document frequency: a shingle in k docs
    * contributes k² candidate rows to the self-join, so one viral
    * boilerplate shingle ("all rights reserved …") turns the join
    * quadratic on a skewed 100-TB corpus. Shingles above the cap are
    * dropped from candidate GENERATION only, and the capped operator
    * is EXACT at any threshold: docs whose viral-shingle mass could
    * cover a qualifying intersection on its own (va ≥ minJ·sa — the
    * only possible missed-pair endpoints) re-run candidate generation
    * uncapped among themselves, pay-as-you-go (asserted against the
    * uncapped oracle, including a viral-only-pairs corpus, and
    * against [[ngramJaccardPostings]] at sf0.1).
    *
    * Scale shape (fresh-JVM, local[32], per BENCH_r12_evidence): the
    * prefix operator's ~6-stage chain carries ~5 s of fixed stage
    * latency, so at 5k docs it ties the posting-join reference and at
    * 50k docs it's within swing — the win is structural from ~10⁵
    * docs up (measured ~2× at 500k: 79–90 s vs 152–178 s), growing
    * with corpus size because the match-floor keeps verified
    * candidates at ~the true-pair count (26.8k for 25.6k true at
    * 500k docs) while the posting join's pair aggregate carries every
    * sharing pair (113M there). */
  def ngramJaccard(docs: DataFrame, minJ: Double, n: Int = 3,
                   maxDf: Long = Long.MaxValue): DataFrame = {
    // rounding-aware threshold: the final filter accepts round(J, 6)
    // >= minJ, i.e. true J down to minJ - 5e-7 — every candidate
    // bound below certifies against THAT threshold, or a boundary
    // pair could slip past the prefix/escalation filters
    val tEff = minJ - 5e-7
    // the shingle typed-map (tokenize + slide + distinct) is the
    // expensive corpus pass — materialize ONCE; the ranking, the
    // escalation and the verify all read it
    val sets = shingleSets(docs, n)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("sz"))
      .localCheckpoint()
    // every stage downstream of the explode needs only shingle
    // IDENTITY, never the text — postings carry the shingle's xxhash64
    // from the start, so every shuffle (df aggregate, rank join,
    // per-doc group, meets, verify arrays) moves fixed-width longs
    // instead of ~30-byte strings (measured ~2× on the perDoc stage at
    // 100×). The operator is EXACT over the hashed-token universe: a
    // 64-bit collision fuses two shingles corpus-wide — identity,
    // df and intersections all move together, exactly as if the
    // tokenizer had emitted one token — the same accepted-risk
    // discipline as minhashLsh's sorted-hash verify (vocab²/2⁶⁵
    // probability; ~10⁻⁷ at the 100× corpus).
    val posts = sets.select(col("doc_id"), col("sz"),
      explode(col("shingles")).as("sh0"))
      .select(col("doc_id"), col("sz"), xxhash64(col("sh0")).as("h"))
    // dfreq is vocabulary-sized (an aggregate, orders of magnitude
    // smaller than the corpus) — materialized because the rank join,
    // the viral precheck and the escalation filter all read it
    val dfreq = posts.groupBy("h").agg(count(lit(1)).as("c")).localCheckpoint()
    // viral handling is PAY-AS-YOU-GO: one cheap aggregate on the
    // persisted dfreq decides whether the escalation branch exists at
    // all (usually false — then the plan carries no extra shuffles)
    val hasViral = maxDf != Long.MaxValue && !dfreq.filter(col("c") > maxDf).isEmpty
    // per-doc ranking WITHOUT a window: df == 1 postings can't be in
    // ANY intersection and leave immediately; the rest group per doc
    // in one shuffle, generatable postings (df <= maxDf) collect as
    // (df, hash) structs whose lexicographic sort_array IS the global
    // rarest-first rank order (a total order: hashes are the token
    // identity), and the viral hashes fall out of the same aggregate.
    // Materialized ONCE — the prefix projection (both self-join
    // sides), the escalation filter and the verify arrays all derive
    // from it map-side. (The row_number window variant measured 2.5×
    // slower at 100×: an extra full posting shuffle + two sort passes.)
    val perDoc = posts.join(dfreq.filter(col("c") > 1), "h")
      .groupBy("doc_id", "sz")
      .agg(
        sort_array(collect_list(
          when(col("c") <= maxDf, struct(col("c"), col("h"))))).as("gen"),
        collect_list(when(col("c") > maxDf, col("h"))).as("vh"))
      .withColumn("vc", size(col("vh")).cast("long"))
      .localCheckpoint()
    // EXTENDED prefix (the multi-match generalization of the classic
    // gx − α + 1 prefix): keeping kx = min(αx, ⌈(αx+M)/2⌉) instead of
    // 1 of the last α elements guarantees a qualifying pair shares
    // not one but ≥ min(M, maxα) prefix shingles — and requiring that
    // MATCH FLOOR in the aggregate below is what separates true pairs
    // from the one-shared-rare-shingle noise floor (measured on the
    // driver corpus: 206k candidates/5k docs at the single-match
    // prefix vs 268 at M = 4, for 256 true pairs, zero misses; the
    // corpus's dense shared vocabulary makes single-match prefixes
    // nearly unselective). α ≤ 1 keeps the whole list; α > gx proves
    // no qualifying pair exists for the doc and emits none.
    val M = 4L
    val prefix = perDoc
      .withColumn("gx", size(col("gen")))
      .withColumn("alpha", ceil(lit(tEff) * col("sz")) - col("vc"))
      // α > gx: I_gen ≤ gx < α means no qualifying pair can involve
      // this doc at all — clamp to zero prefix rows (without the
      // clamp, gx < α ≤ gx + k − 1 still emitted dead rows)
      .withColumn("px", when(col("alpha") > col("gx"), lit(0L))
        .when(col("alpha") <= 1, col("gx"))
        .otherwise(col("gx") - col("alpha") +
          least(col("alpha"),
            floor((col("alpha") + lit(M + 1)) / lit(2)).cast("long"))))
      .select(col("doc_id"), col("sz"), col("gx"), col("alpha"),
        posexplode(slice(col("gen"), lit(1), greatest(col("px"), lit(0L)))))
      .select(col("doc_id"), col("sz"), col("gx"), col("alpha"),
        (col("pos") + 1).as("rk"), col("col.h").as("h"))
    // self-join with the ppjoin in-join prunes, evaluated inside the
    // join's codegen BEFORE any meet row exists:
    //  - length filter: J ≥ t forces min(sa,sb) ≥ I ≥ t·max(sa,sb);
    //  - positional filter with M slack: at the pair's i-th (i ≤ m' =
    //    min(M, maxα)) common prefix shingle, every common shingle
    //    ranked at-or-before it is itself a common-prefix shingle
    //    (order ≤ a prefix element pins it inside BOTH prefixes), so
    //    the commons after it number ≥ maxα − i ≥ maxα − m', and both
    //    remaining-capacity terms must cover them. The slack keeps
    //    ALL first-m' meets of a qualifying pair, so the match-floor
    //    count below still reaches m' — a 1-slack positional filter
    //    here would drop later meets and break the floor (caught in
    //    design simulation: m ≥ 6 lost true pairs).
    // The aggregate then counts surviving meets per pair and applies
    // the match floor; maxα ≤ 0 (viral-heavy ends) degrades the floor
    // to 0 — conservative, the escalation path owns those docs.
    val pairMaxA = greatest(col("x.alpha"), col("y.alpha"))
    val candPrefix = prefix.alias("x").join(prefix.alias("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id") &&
        least(col("x.sz"), col("y.sz")).cast("double") >=
          lit(tEff) * greatest(col("x.sz"), col("y.sz")) &&
        (least(col("x.gx") - col("x.rk"), col("y.gx") - col("y.rk")) +
          least(lit(M), pairMaxA)) >= pairMaxA)
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("npfx"), max(pairMaxA).as("maxa"))
      .filter(col("npfx") >= least(lit(M), col("maxa")))
      .select("a", "b")
    // CAP ESCALATION (round-9, unchanged by the prefix filter): a pair
    // whose ENTIRE intersection is viral shares no generatable shingle
    // and never reaches the prefix join. Both endpoints of such a pair
    // need va ≥ tEff·sa (I ≤ min(va, vb) and I ≥ tEff·max(sa, sb)), so
    // candidate generation re-runs EXACTLY (all shingles, no cap, no
    // prefix) for those docs alone — empty unless viral mass dominates
    // a doc's shingle set.
    val cand0 = if (!hasViral) candPrefix else {
      val uncert = perDoc
        .filter(col("vc").cast("double") >= lit(tEff) * col("sz"))
        .select("doc_id")
      val uPosts = posts.select("doc_id", "h")
        .join(uncert, "doc_id").localCheckpoint()
      candPrefix.unionByName(
        uPosts.alias("x").join(uPosts.alias("y"),
            col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")))
    }
    // distinct BEFORE the array join: candidate rows are two longs, so
    // the dedup shuffle is cheap, while verifying per duplicate row
    // would re-ship the hash arrays once per shared prefix shingle
    val cand = cand0.distinct().localCheckpoint()
    // exact verify on a sorted-hash merge (the minhashLsh kernel).
    // The verify array holds ONLY df ≥ 2 shingle hashes (gen + viral):
    // a df == 1 shingle can never be in an intersection, and the
    // union size comes from sz — on a diverse corpus this cuts the
    // per-doc payload by the unique-shingle fraction (the bulk of
    // every real document). Built from the checkpointed perDoc for
    // docs that appear in a candidate pair only (the semi-join keeps
    // the two verify-side shuffles candidate-sized, not corpus-sized).
    val inCand = cand.select(col("a").as("doc_id"))
      .unionByName(cand.select(col("b").as("doc_id"))).distinct()
    val arrs = perDoc.join(inCand, "doc_id")
      .select(col("doc_id"), col("sz"),
        sort_array(concat(
          transform(col("gen"), g => g.getField("h")),
          col("vh"))).as("hs"))
      .localCheckpoint() // read twice (a and b sides)
    cand
      .join(arrs.select(col("doc_id").as("a"), col("hs").as("ha"),
        col("sz").as("sa")), "a")
      .join(arrs.select(col("doc_id").as("b"), col("hs").as("hb"),
        col("sz").as("sb")), "b")
      .withColumn("inter", graft.functions.VectorExprs
        .sorted_long_intersect_count(col("ha"), col("hb")).cast("double"))
      // RAW prefilter per candidate; round(_, 6) (a BigDecimal per
      // call) runs only on survivors — the minhashLsh discipline
      .withColumn("raw", col("inter") / (col("sa") + col("sb") - col("inter")))
      .filter(col("raw") >= minJ - 1e-6)
      .withColumn("jaccard", round(col("raw"), 6))
      .filter(col("jaccard") >= minJ)
      .select("a", "b", "jaccard")
  }

  /** Pre-round-12 reference shape: the full df-capped posting
    * self-join with the pay-as-you-go viral correction + escalation.
    * KEPT (not dead code) as the independent implementation the
    * equivalence spec replays [[ngramJaccard]] against at sf0.1 and
    * on the viral-heavy synthetic corpus, and as the A/B baseline for
    * the prefix-filter scale evidence — its intersection counts come
    * from posting joins on the shingle STRINGS, a fully disjoint code
    * path from the prefix+merge-kernel operator. */
  private[graft] def ngramJaccardPostings(docs: DataFrame, minJ: Double, n: Int = 3,
                   maxDf: Long = Long.MaxValue): DataFrame = {
    // the shingle computation (typed map: tokenize + slide + distinct)
    // is the expensive pass over the corpus — materialize it ONCE; five
    // consumers read it (sizes, dfreq, both self-join sides, viral).
    // At production scale this IS the persisted shingle index, the
    // same index-materialization trade FullText documents.
    // localCheckpoint (not persist): checkpointed RDDs are released by
    // the ContextCleaner once unreferenced, while persist() pins cache
    // entries for the session lifetime with no unpersist seam here.
    val sets = shingleSets(docs, n).localCheckpoint()
    val sizes = sets.select(col("doc_id"), size(col("shingles")).as("sz"))
    val posts = sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
    // dfreq is vocabulary-sized (an aggregate, orders of magnitude
    // smaller than the corpus) — materialized because both the
    // candidate filter and the viral-cap precheck read it
    val dfreq = posts.groupBy("sh").agg(count(lit(1)).as("c")).localCheckpoint()
    // a shingle occurring in a single doc can't produce a pair, and one
    // above the df cap would go quadratic — drop both from candidate
    // generation before the self-join
    val shared = dfreq.filter(col("c") > 1 && col("c") <= maxDf).select("sh")
    // materialized: the self-join reads it twice (x and y sides)
    val sharedPosts = posts.join(shared, "sh").localCheckpoint()
    // partial intersection counts from the bounded (≤ maxDf²/shingle)
    // self-join — no shingle arrays ever shipped
    val interC = sharedPosts.alias("x").join(sharedPosts.alias("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter_c"))
    // viral-shingle correction is PAY-AS-YOU-GO: its two extra joins
    // on the candidate set exist only when some shingle actually
    // exceeds the cap (one cheap aggregate on the persisted dfreq
    // decides — usually false, and then the plan carries no
    // correction shuffles at all)
    val hasViral = maxDf != Long.MaxValue && !dfreq.filter(col("c") > maxDf).isEmpty
    val inter = if (!hasViral) {
      interC.select(col("a"), col("b"), col("inter_c").as("inter"))
    } else {
      // for the (few) shingles above the cap, count their contribution
      // per CANDIDATE pair — cost is |candidates| × viral-shingles-
      // per-doc, never viral-df²
      val viralPosts = posts.join(dfreq.filter(col("c") > maxDf).select("sh"), "sh")
      val interV = interC.select("a", "b")
        .join(viralPosts.select(col("doc_id").as("a"), col("sh")), "a")
        .join(viralPosts.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter_v"))
      interC.join(interV, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (col("inter_c") + coalesce(col("inter_v"), lit(0L))).as("inter"))
    }
    // CAP ESCALATION (round-9): a pair whose ENTIRE intersection is
    // viral shingles never surfaces as a candidate — the regime where
    // the cap was previously inexact. Certification bound: J ≥ minJ
    // forces I ≥ minJ·max(sa, sb) (from I ≥ minJ/(1+minJ)·(sa+sb) and
    // sb ≥ I), and an all-viral intersection needs I ≤ min(va, vb) —
    // so only a doc with viral-shingle count va ≥ minJ·sa can be a
    // missed-pair endpoint. Candidate generation re-runs EXACTLY (all
    // shingles, no cap) for those docs alone: pay-as-you-go, the set
    // is empty unless viral mass dominates a doc's shingle set, and
    // both paths compute exact intersections so the merge is a
    // same-value dedup. This makes the capped operator exact at ANY
    // threshold, not just the no-viral-qualifying-pairs regime.
    val interX = if (!hasViral) inter else {
      val vc = posts.join(dfreq.filter(col("c") > maxDf).select("sh"), "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("vc"))
      // rounding-aware bound: the final filter accepts round(J, 6) >=
      // minJ, i.e. true J down to minJ - 5e-7 — certify against THAT
      // threshold or a boundary pair with an all-viral intersection
      // could slip past the escalation (its endpoint va can sit just
      // below minJ*sz while the rounded J still qualifies)
      val uncert = sizes.join(vc, "doc_id")
        .filter(col("vc").cast("double") >= (lit(minJ) - lit(5e-7)) * col("sz"))
        .select("doc_id")
      val uPosts = posts.join(uncert, "doc_id").localCheckpoint()
      val interU = uPosts.alias("x").join(uPosts.alias("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("inter"))
      inter.unionByName(interU).groupBy("a", "b").agg(max("inter").as("inter"))
    }
    interX
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sa"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "sb"), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sa") + col("sb") - col("inter")), 6))
      .filter(col("jaccard") >= minJ)
      .select("a", "b", "jaccard")
  }

  /** MinHash signature of `numHashes` permutations as an array column.
    * h_i(S) = min_{s∈S} xxhash64(s, i) — map-only, no shuffle. Native
    * one-pass kernel (one UTF8 hash per shingle, then numHashes int
    * mixes); values identical to the HOF formulation. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.VectorExprs.minhash_sig(shingles, numHashes)

  /** MinHash + LSH banding (bandRows rows per band) → candidate pairs →
    * exact-Jaccard verification ≥ minJ. Defaults: 128 hashes in 32
    * bands of 4 — at J=0.8 a true pair misses every band with
    * P=(1−0.8⁴)^32 ≈ 5·10⁻⁸, while a background pair at J≈0.3 collides
    * per band with J⁴≈0.8% instead of J²≈9%: the round-8 sf1 run
    * measured template corpora hold thousands of moderate-J docs per
    * 2-row band bucket, and that noise enumeration (not the true
    * pairs) was the whole cost — 4-row bands cut it ~11× for the same
    * band count and shuffle size.
    *
    * Verification is INLINE in the band join: the banding rows carry
    * the shingle set, and exact Jaccard evaluates as the join's
    * post-condition — candidate pairs are enumerated inside the
    * sort-merge join's codegen and NEVER shuffled or materialized.
    * The round-8 sf1 evidence run measured why this matters: on a
    * template-heavy corpus, band buckets hold O(family) docs, so
    * candidates run 30 000× the true-pair count (79M candidates /
    * 2 560 pairs at 50k docs) — the old candidates→distinct→re-join
    * shape shuffled that 79M twice with shingle-array payloads,
    * while this shape shuffles |docs|·bands rows once and emits only
    * verified pairs. Same pairs, same Jaccard values, same recall. */
  def minhashLsh(docs: DataFrame, minJ: Double,
                 numHashes: Int = 128, bandRows: Int = 4): DataFrame = {
    val numBands = numHashes / bandRows
    // the shingle typed-map is the expensive corpus pass — materialize
    // once; the banding (the join's only shuffle) reads it once per side.
    // The verify payload is the SORTED xxhash64 of each shingle, not
    // the strings: the merge kernel then reads primitive longs (zero
    // allocation per pair) and the banded rows shuffle ~2× smaller
    val sets = shingleSets(docs).localCheckpoint()
    val sigs = sets.select(col("doc_id"),
      sort_array(transform(col("shingles"), s => xxhash64(s))).as("hs"),
      size(col("shingles")).as("sz"),
      minhashSignature(col("shingles"), numHashes).as("sig"))
    // band key = hash of the band's signature slice + band index
    val banded = sigs.select(col("doc_id"), col("hs"), col("sz"),
        explode(transform(sequence(lit(0), lit(numBands - 1)),
          b => xxhash64(b, slice(col("sig"), b * bandRows + 1, lit(bandRows)).cast("string"))))
          .as("band_key"))
    // SHUFFLE_MERGE pinned: a broadcast of the banded side would
    // inherit the SCAN's partitioning for the enumeration (measured:
    // one task burning the whole pair space); the shuffle join
    // repartitions both sides on band_key across the cluster — which
    // is also the only strategy that exists at 100 TB. The explicit
    // high-fanout repartition satisfies the join's distribution
    // requirement directly, so enumeration-heavy buckets spread over
    // 8× the default partitions (within-group work is the skew unit)
    val parts = docs.sparkSession.sparkContext.defaultParallelism * 8
    def side(n: String) = banded.repartition(parts, col("band_key")).alias(n)
    side("x").hint("SHUFFLE_MERGE").join(side("y"),
        col("x.band_key") === col("y.band_key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        graft.functions.VectorExprs
          .sorted_long_intersect_count(col("x.hs"), col("y.hs"))
          .cast("double").as("inter"),
        col("x.sz").as("sa"), col("y.sz").as("sb"))
      .withColumn("raw", col("inter") / (col("sa") + col("sb") - col("inter")))
      // the RAW prefilter runs per enumerated pair; round(_, 6) runs
      // only on survivors — Spark's ROUND allocates a BigDecimal via
      // Double.toString per call (measured: the dominant per-pair
      // cost at 10⁸ enumerated pairs). The 1e-6 slack admits every
      // value that could round up past minJ, and the exact
      // filter-on-rounded below keeps the oracle's semantics
      .filter(col("raw") >= minJ - 1e-6)
      .withColumn("jaccard", round(col("raw"), 6))
      .filter(col("jaccard") >= minJ)
      // distinct LAST, on verified rows only: a pair colliding in k
      // bands emits k identical rows — |result|·k is tiny, while the
      // old pre-verify distinct shuffled the full candidate space
      .select("a", "b", "jaccard")
      .distinct()
  }

  /** 64-bit SimHash over the doc's distinct word-3-gram SHINGLES —
    * native single-pass kernel, map-only (no shuffle).
    *
    * Shingles, not unigrams, on purpose: over a small shared vocabulary
    * every document converges to the same majority-sign unigram bits
    * (signatures collapse into one band bucket and the banded self-join
    * goes quadratic — measured 10.6M result pairs at sf0.1). Shingles
    * keep the feature space diverse, so signatures separate unless the
    * documents genuinely overlap — 119 pairs on the same corpus. */
  def simhash(docs: DataFrame): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"), graft.functions.VectorExprs.simhash64(col("shingles")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, candidates
    * from 16-bit band buckets (pigeonhole: d ≤ 3 ⇒ some band equal). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    // 4 bands of 16 bits: the pigeonhole guarantees a band collision
    // only for Hamming distance ≤ 3 — a larger maxDist would silently
    // lose pairs, so refuse it (more bands = the recall knob)
    require(maxDist <= 3,
      s"simhashPairs with 4 bands guarantees recall only for maxDist <= 3, got $maxDist")
    val sh = simhash(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        concat(lit(b + ":"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).cast("string"))): _*))
        .as("band"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("int").as("hamming"))
      // Hamming verify BEFORE the distinct: the bit_count is one codegen
      // instruction per joined row, while distinct is a shuffle — on a
      // skew-bucketed corpus this keeps the shuffle at |result| rows,
      // not |candidate pairs| rows
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Duplicate-span profile per document (the distributed analog of
    * suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): the fraction of a
    * doc's `w`-word windows that occur verbatim in ANY other doc.
    * A pipeline gates on `dup_frac` ("drop docs >50% duplicated
    * spans") — per-doc output, so NO pair enumeration ever happens:
    * the plan is window-frequency (one shuffle on the window key, a
    * windowed count, map-side combine) + per-doc re-aggregation.
    * Shuffle volume is |distinct windows|, never |pairs|.
    *
    * Short docs (< w words) have zero windows and dup_frac 0. */
  def substringDup(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = shingleSets(docs, w, keepEmpty = true)
      .select(col("doc_id"), col("shingles").as("wins"))
    // zero-window docs must survive to the output, but a shared NULL
    // window key would funnel ALL of them into one window partition
    // (a guaranteed hot key at corpus scale) — give each a per-doc
    // sentinel instead (a leading space can't collide with real
    // space-joined [a-z0-9]+ windows): unique keys spread evenly and
    // count as wdf=1 → never "duplicated"
    val e = wins
      .select(col("doc_id"), size(col("wins")).as("n_windows"),
        explode_outer(col("wins")).as("w0"))
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("w0"),
          concat(lit(" "), col("doc_id").cast("string"))).as("win"))
    // document frequency per window via a partition-window count: one
    // shuffle keyed on the window, reused directly by the per-doc
    // re-aggregation (vs groupBy+self-join = two scans of the postings)
    val wdf = count(lit(1)).over(Window.partitionBy("win"))
    e.withColumn("dup", when(wdf > 1 && !col("win").startsWith(" "), 1L)
        .otherwise(0L))
      .groupBy("doc_id")
      .agg(first(col("n_windows")).as("n_windows"), sum(col("dup")).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows").cast("long").as("n_windows"),
        col("n_dup_windows"),
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
          .as("dup_frac"))
  }

  /** Incremental dedup of a NEW batch against a PRIOR corpus snapshot
    * (the cross-snapshot dedup step of a recurring crawl pipeline):
    * a new doc is a duplicate when it shares ≥1 verbatim `w`-word
    * window with any prior doc. Returns one row per new doc:
    * (doc_id, n_shared, is_dup).
    *
    * Scale shape: the prior corpus is consumed ONCE to build a bloom
    * sketch over window hashes (distributed aggregate, driver holds
    * only the O(expectedItems)-bit sketch). The new batch probes the
    * sketch MAP-SIDE ([[graft.functions.BloomMightContain]], codegen) —
    * at a typical 1‰ inter-snapshot overlap, ~99.9% of new windows
    * (minus fpp) never reach a shuffle. Bloom survivors are then
    * exact-verified with a join against the prior windows, so false
    * positives cannot flag a doc: results are EXACTLY the semi-join
    * semantics, the sketch only prunes join input. */
  def incrementalDedup(newDocs: DataFrame, prior: DataFrame, w: Int = 8,
                       fpp: Double = 0.01): DataFrame = {
    // three consumers (count, sketch build, exact verify) — pay the
    // prior-corpus tokenize/window pass once
    val priorWins = shingleSets(prior, w)
      .select(explode(col("shingles")).as("win")).distinct()
      .localCheckpoint()
    // sketch over 64-bit window hashes (hashing first keeps the
    // aggregate's traffic fixed-width; the exact verify below joins on
    // the window text, so hash collisions cannot create false dups)
    val nPrior = math.max(1L, priorWins.count())
    val sketch = priorWins.select(xxhash64(col("win")).as("h"))
      .stat.bloomFilter("h", nPrior, fpp)
    // keepEmpty: a short new doc still gets its (0, false) output row
    val newWins = shingleSets(newDocs, w, keepEmpty = true).localCheckpoint()
    val survivors = newWins
      .select(col("doc_id"), explode(col("shingles")).as("win"))
      .filter(graft.functions.BloomExprs.bloom_might_contain(xxhash64(col("win")), sketch))
      .join(priorWins, "win")                       // exact verify
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    newWins.select("doc_id")
      .join(survivors, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("is_dup"))
  }
}
