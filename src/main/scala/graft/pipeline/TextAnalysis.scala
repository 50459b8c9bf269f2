package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash.polyhash
import graft.plans.{Fixpoint, LocalTier}

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All are map-only
  * codegen'd projections (no shuffle, no UDF) — at 100 TB they run at
  * parquet scan speed.
  */
object TextAnalysis {

  import Dedup.words

  private val markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "is", "and", "of"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("de", "shi", "he", "zai", "le"))

  /** Marker-token language ID: argmax of per-language stopword hits,
    * alphabetical tie-break, 'und' when nothing matches. One typed-map
    * pass (tokenize once, count all languages) — the HOF formulation
    * (`filter` per language) is CodegenFallback and evaluated
    * interpreted five times per row, the exact cost Dedup.shingleSets
    * documents avoiding. Tokenization matches [[Dedup.words]]. */
  def langId(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val langSets = markers.toSeq.sortBy(_._1).map { case (l, ms) => l -> ms.toSet }
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        // null text → no tokens → 'und' (the column-based path this
        // replaced was null-safe; the typed map must be too)
        val t = if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT)
        val toks = t.split("[^a-z0-9]+").filter(_.nonEmpty)
        val counts = langSets.map { case (_, s) => toks.count(s.contains) }
        val best = if (counts.isEmpty) 0 else counts.max
        // alphabetical-first tie-break: first sorted language at max
        val pred = if (best == 0) "und" else langSets(counts.indexOf(best))._1
        (id, pred)
      }
      .toDF("doc_id", "pred_lang")
  }

  /** Deterministic quality score in [0,1]:
    * 0.4·min(1, n_tokens/50) + 0.3·type_token_ratio + 0.3·alpha_ratio. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = words(col("text"))
    docs.select(col("doc_id"), toks.as("ws"), col("text"))
      .withColumn("n_tokens", size(col("ws")).cast("double"))
      .withColumn("ttr", size(array_distinct(col("ws"))) / col("n_tokens"))
      .withColumn("alpha_ratio",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double") /
          length(col("text")))
      .select(col("doc_id"),
        round(lit(0.4) * least(lit(1.0), col("n_tokens") / 50.0)
          + lit(0.3) * col("ttr") + lit(0.3) * col("alpha_ratio"), 6).as("quality"))
  }

  /** Token counts: whitespace tokens + BPE-ish regex tokens (word
    * pieces and standalone punctuation). */
  /** Whitespace-token count; 0 for empty/blank text (split of an
    * empty string yields [""] — 1 phantom token — in both engines). */
  private def wsTokens(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      wsTokens(col("text")).cast("long").as("n_ws_tokens"),
      size(expr("regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\\\s]', 0)"))
        .cast("long").as("n_bpe_tokens"))

  /** Unigram log-probability quality signal — the LM-scored gate of a
    * training-data pipeline (higher = more typical of the corpus):
    * mean ln p(token) per doc under the corpus' OWN unigram
    * distribution. The vocabulary-sized (term → count) aggregate stays
    * in the shuffle and joins back on the term — never broadcast or
    * collected; the token pass is materialized once for its two
    * consumers (frequency build + scoring join). Docs with no tokens
    * drop. 4-dp rounding keeps engine ulp drift (ln + summation
    * order) away from the compare boundary — the float policy every
    * scoring oracle here uses. */
  def logprobScore(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z0-9]+")).as("t"))
      .filter(col("t") =!= "")
      .localCheckpoint()
    val freq = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").cast("double").as("tot"))
    toks.join(freq, "t").crossJoin(total)
      .groupBy("doc_id")
      .agg(round(avg(log(col("cnt") / col("tot"))), 4).as("logprob"))
  }

  /** Rolling-hash fingerprint of the normalized text (native Catalyst
    * expression, whole-stage codegen). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      polyhash(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("fingerprint"))

  // PII patterns shared with the DuckDB oracle (kept RE2-compatible —
  // no backrefs/lookaround — so both engines compile them identically)
  private[pipeline] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[pipeline] val PhoneRe = "\\+[0-9]{7,15}|\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  private[pipeline] val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scan + redaction — the privacy gate of a training-data
    * pipeline: per-doc counts of emails / phone numbers / IPv4
    * addresses, and the fingerprint of the REDACTED text (classes
    * replaced in a fixed order: email → phone → ip, so both engines
    * see the same intermediate strings when classes overlap). All
    * regex work is codegen'd `regexp_count`/`regexp_replace` — a
    * map-only projection that runs at scan speed at 100 TB; the
    * redacted text itself never shuffles, only its 8-byte
    * fingerprint. Detection correctness (on text that HAS PII — the
    * oracle corpus has none) is pinned by PipelineSpec fixtures. */
  def pii(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ips"),
      polyhash(redacted).as("redacted_fp"))
  }

  /** Repetition signals (the Gopher-rules repetition family): fraction
    * of tokens that are the single most frequent token, and the
    * duplicate word-2-gram fraction. One typed-map pass per doc (same
    * rationale as [[langId]]: per-row hash counting beats the
    * CodegenFallback HOF chain ~40×); docs with zero tokens drop —
    * they have no repetition to measure. Raw doubles leave the map;
    * rounding happens in the column layer so both engines round the
    * identical IEEE value. */
  def repetition(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT)
        val toks = t.split("[^a-z0-9]+").filter(_.nonEmpty)
        if (toks.isEmpty) None
        else {
          val counts = new java.util.HashMap[String, Int]()
          toks.foreach(w => counts.merge(w, 1, Integer.sum))
          var mx = 0
          counts.values.forEach(c => if (c > mx) mx = c)
          val topFrac = mx.toDouble / toks.length
          val dupFrac =
            if (toks.length < 2) 0.0
            else {
              val grams = new java.util.HashSet[String]()
              var i = 0
              while (i < toks.length - 1) { grams.add(toks(i) + " " + toks(i + 1)); i += 1 }
              1.0 - grams.size.toDouble / (toks.length - 1)
            }
          Some((id, topFrac, dupFrac))
        }
      }
      .toDF("doc_id", "raw_top", "raw_dup")
      .select(col("doc_id"), round(col("raw_top"), 6).as("top_word_frac"),
        round(col("raw_dup"), 6).as("dup_2gram_frac"))
  }

  /** Byte-distribution Shannon entropy of the lowercased text (nats) —
    * see [[graft.functions.ByteEntropy]]: native codegen, histogram in
    * operator mutable state, zero per-row allocation. 4-dp rounding
    * absorbs cross-engine summation-order ulp drift. */
  def charEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      round(graft.functions.ByteEntropy.byte_entropy(lower(col("text"))), 4)
        .as("char_entropy"))

  /** Context-window chunking: overlapping fixed-token windows (size
    * `chunkTokens`, step `stride`) — how a training pipeline splits
    * long documents into model-context-sized sequences. Map-only:
    * tokenize once, explode the window-start sequence, slice — the
    * chunk fingerprint (not the chunk text) is what downstream dedup
    * consumes, so at 100 TB the wide strings never shuffle. Chunk k
    * covers tokens [k·stride, k·stride + chunkTokens); the last chunk
    * may run short; zero-token docs drop. */
  def chunk(docs: DataFrame, chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && chunkTokens >= stride,
      s"chunk: need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0),
          floor((size(col("ws")) - 1) / stride).cast("int"))).as("k"))
      .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
        slice(col("ws"), col("k") * stride + 1, lit(chunkTokens)).as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("cw")).cast("long").as("n_tokens"),
        polyhash(concat_ws(" ", col("cw"))).as("chunk_fp"))
  }

  /** Sequence packing: assign docs to fixed-token-budget training
    * packs. Deterministic greedy-by-id within a shard: the running
    * token cumsum (window per shard, ordered by doc_id) divides by the
    * budget — a doc lands in the pack its PRECEDING cumsum falls in,
    * so packs fill in id order and every shard packs independently
    * (the shard key is the parallelism unit at 100 TB: one sequential
    * window per shard, never a global sort). A doc longer than the
    * budget OVERFLOWS the pack it lands in (greedy semantics — packs
    * are budget-sized except where a single oversized doc runs over;
    * consumers needing hard caps split such docs upstream). */
  def packSequences(docs: DataFrame, shardCol: Column, tokensPerPack: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), shardCol.as("shard"),
      wsTokens(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / tokensPerPack).as("pack_id"))
  }

  /** Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003
    * — the MOSS algorithm): select a position-attributed subset of
    * k-gram hashes such that any shared substring of length ≥ k+w−1
    * between two docs is guaranteed to share a fingerprint. Per doc:
    * char k-gram rolling hashes over the normalized text, then each
    * sliding window of w hashes selects its minimum (ties → the
    * RIGHTMOST minimal position — the "robust" rule that keeps
    * fingerprint density ~2/(w+1)); consecutive windows re-selecting
    * the same (pos, hash) dedupe. Docs shorter than one window emit
    * the single whole-text selection; docs shorter than k emit none.
    *
    * Map-only typed pass (tokenize-free: the hash array and the
    * window scan live entirely in one row's computation) — at 100 TB
    * this is scan-speed and emits ~n/w·2 fingerprint rows per doc,
    * the compact unit downstream plagiarism/overlap joins key on.
    * All-integer arithmetic: the oracle replays it exactly, no float
    * policy needed. */
  def winnow(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = (if (text == null) "" else text)
          .toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]+", " ")
        if (t.length < k) Iterator.empty
        else {
          val n = t.length - k + 1
          val h = Array.tabulate(n)(i => graft.functions.PolyHash.hash(
            t.substring(i, i + k).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          val sel = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
          var j = 0
          val lastStart = math.max(0, n - w)
          while (j <= lastStart) {
            val end = math.min(j + w, n) // short final corpus handled by clamp
            var m = h(j); var mp = j
            var p = j + 1
            while (p < end) { if (h(p) <= m) { m = h(p); mp = p }; p += 1 }
            sel += (((mp + 1).toLong, m)) // 1-based pos, SQL substr convention
            j += 1
          }
          sel.iterator.map { case (pos, fp) => (id, pos, fp) }
        }
      }
      .toDF("doc_id", "pos", "fp")
  }

  /** BPE merge-candidate table (Sennrich et al. 2016): the first round
    * of byte-pair-encoding tokenizer training — corpus-wide counts of
    * adjacent character pairs, ranked by frequency. The top-ranked
    * pair is the first merge a BPE trainer would apply; the full
    * ranked table is the trainer's working set.
    *
    * Scale shape — the classic BPE trick: pair counting runs over the
    * DISTINCT-WORD table weighted by word frequency, never over corpus
    * positions. The one corpus-wide shuffle is the vocabulary build
    * (word → count, vocabulary-sized); pair extraction then fans out
    * per distinct word, and the pair aggregate is bounded by
    * |charset|² rows (~1.3k for [a-z0-9]) regardless of corpus size —
    * so the final rank window runs over a charset²-bounded table, not
    * data-sized (the single-partition window is safe by construction).
    * Pairs count occurrences within a word (not distinct), matching
    * BPE's merge-frequency semantics. */
  def bpePairCounts(docs: DataFrame, topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = docs.select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val pairs = vocab
      .filter(length(col("w")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("f").as("cnt"))
    pairs
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .filter(col("rank") <= topK)
      .select("pair", "cnt", "rank")
  }

  /** BPE training, round 2: APPLY the round-1 top merge (standard BPE
    * application — left-to-right non-overlapping replacement, the
    * exact semantics of `replace` in both engines; the merged unit
    * becomes the single symbol '#', outside the [a-z0-9] alphabet)
    * and re-rank the adjacent-symbol pairs. Demonstrates the
    * iterate step of [[bpePairCounts]]' trainer: the whole round is
    * two vocabulary-sized aggregates + a 1-row broadcast (the chosen
    * merge), so k rounds cost k vocabulary passes — corpus positions
    * are never revisited. */
  def bpeSecondRound(docs: DataFrame, topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = docs.select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .localCheckpoint() // two consumers: round-1 pairs + re-merge
    // word/freq are bare attribute NAMES (not Columns): the lambda body
    // is a SQL string, and interpolating Column.toString only resolves
    // for unqualified attributes — a derived column would mis-parse
    def pairCounts(word: String, freq: String, df: DataFrame) =
      df.filter(length(col(word)) >= 2)
        .select(col(freq).as("f"), explode(expr(
          s"transform(sequence(1, length($word) - 1), i -> substring($word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("f").as("cnt"))
    val pairs1 = pairCounts("w", "f", vocab)
    val m1 = pairs1.orderBy(col("cnt").desc, col("pair")).limit(1)
      .select(col("pair").as("merge1"))
    val vocab2 = vocab.crossJoin(broadcast(m1))
      .select(col("merge1"), col("f"), expr("replace(w, merge1, '#')").as("w2"))
    val pairs2 = pairCounts("w2", "f", vocab2)
      .crossJoin(broadcast(m1))
    pairs2
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .filter(col("rank") <= topK)
      .select("merge1", "pair", "cnt", "rank")
  }

  /** k-round BPE trainer — the full generalization of
    * [[bpePairCounts]] (round 1) and [[bpeSecondRound]] (round 2):
    * each round counts adjacent-SYMBOL pairs over the
    * frequency-weighted distinct-word table, picks the top pair
    * (cnt desc, then (x, y) lexicographic — deterministic across
    * engines), and applies it as a greedy left-to-right
    * non-overlapping merge before the next round. Returns the merge
    * table (round, x, y, cnt) — the trained tokenizer's merge list.
    *
    * Scale shape (the gas_pr driver-loop discipline): the corpus is
    * read ONCE into the vocabulary table (word → count); every round
    * after that is a vocabulary-sized pair aggregate + a 1-row driver
    * collect (the chosen merge) + a typed-map merge application,
    * `localCheckpoint`ed so the plan never grows with k — k rounds
    * cost k vocabulary passes, and corpus positions are never
    * revisited. At 100 TB the vocabulary is millions of rows while the
    * corpus is billions, so the per-round cost is corpus-independent.
    *
    * Merge application is a left fold (append, or coalesce the tail
    * when (last, cur) == (x, y)); the fold is exactly greedy
    * left-to-right non-overlap because a merged symbol x·y can never
    * re-match as the x of the same round's pair (|x·y| > |x|) —
    * spec-asserted on overlap-heavy synthetic words ("aaaa"). */
  def bpeTrain(docs: DataFrame, k: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLoop(docs, k)._1.toDF("round", "x", "y", "cnt")
  }

  /** BPE ENCODE — the inference side of [[bpeTrain]]: train k merges,
    * then tokenize the corpus with the resulting vocabulary. Returns
    * (doc_id, n_words, n_tokens) where n_tokens counts the symbols of
    * each word AFTER the k merges (the sequence length a trainer's
    * data loader budgets on).
    *
    * Scale shape: the per-word symbol count lives on the
    * vocabulary table (the loop's own state — no extra passes), so
    * encoding is ONE corpus token pass joined against a
    * vocabulary-sized (word → length) table; AQE broadcasts it when
    * it fits. Document text never shuffles. */
  def bpeEncode(docs: DataFrame, k: Int = 8): DataFrame = {
    val (_, vocab) = bpeLoop(docs, k)
    val wordLen = vocab.toDF("w", "syms", "f")
      .select(col("w"), size(col("syms")).cast("long").as("n_sym"))
    docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .join(wordLen, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_tokens"))
  }

  /** Tokenizer FERTILITY per language — the tokenizer-quality gate of
    * a multilingual pipeline (how many BPE tokens a word costs, how
    * many characters a token carries): languages the vocabulary
    * under-serves show high tokens_per_word, the signal behind
    * "train the tokenizer on a balanced corpus". Reuses the k-round
    * trainer's vocabulary ([[bpeEncode]]'s state — no extra corpus
    * pass beyond the one word explode); per-language sums are
    * all-integer, so the single rounded division per metric is
    * engine-exact with no float policy needed. */
  def bpeFertility(docs: DataFrame, k: Int = 8): DataFrame = {
    val (_, vocab) = bpeLoop(docs, k)
    val wordLen = vocab.toDF("w", "syms", "f")
      .select(col("w"), size(col("syms")).cast("long").as("n_sym"),
        length(col("w")).cast("long").as("n_wchars"))
    docs.select(col("lang"), explode(words(col("text"))).as("w"))
      .join(wordLen, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_tokens"),
        sum("n_wchars").as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 4)
          .as("tokens_per_word"),
        round(col("n_chars").cast("double") / col("n_tokens"), 4)
          .as("chars_per_token"))
  }

  /** Shared trainer: k rounds of pair-count → top merge → greedy fold
    * application over the frequency-weighted word table; returns
    * (merge list, final vocabulary (word, symbols, freq)). */
  private[graft] def bpeLoop(docs: DataFrame, k: Int)
      : (Seq[(Long, String, String, Long)],
         org.apache.spark.sql.Dataset[(String, Array[String], Long)]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Small-input tier: the whole trainer state is the vocabulary
    // table. Below the tier budget it lands on the driver and the k
    // rounds run in plain Scala — zero Spark jobs per round instead of
    // a vocabulary-sized aggregate + 1-row collect + checkpoint each.
    // The returned vocabulary is a LocalRelation, so the
    // encode/fertility corpus join broadcasts it without a stats
    // gamble. Identical merges by construction: Long pair sums,
    // (cnt desc, x, y) tie-break, and the same left-to-right fold.
    LocalTier.probe(bpeVocab(docs), LocalTier.Budget) match {
      case Some(rows) =>
        var vocab = rows.map { r =>
          val w = r.getString(0)
          (w, w.map(_.toString).toArray, r.getLong(1))
        }
        val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
        Fixpoint.loop("text.bpe", k) { round =>
          val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
          vocab.foreach { case (_, syms, f) =>
            var i = 0
            while (i < syms.length - 1) {
              val key = (syms(i), syms(i + 1))
              cnt(key) = cnt.getOrElse(key, 0L) + f
              i += 1
            }
          }
          if (cnt.nonEmpty) {
            val ((mx, my), c) = cnt.minBy { case ((x, y), n) => (-n, x, y) }
            merges += ((round.toLong, mx, my, c))
            vocab = vocab.map { case (w, syms, f) => (w, bpeFold(syms, mx, my), f) }
          }
          cnt.nonEmpty
        }
        (merges.toSeq, spark.createDataset(vocab.toSeq))
      case None => bpeDistributed(docs, k)
    }
  }

  /** The trainer's input: (w, f) word frequencies of the corpus. */
  private def bpeVocab(docs: DataFrame): DataFrame =
    docs.select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** One merge applied to a word's symbols, left to right. */
  private def bpeFold(syms: Array[String], mx: String, my: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { s =>
      if (out.nonEmpty && out.last == mx && s == my) out(out.length - 1) = mx + my
      else out += s
    }
    out.toArray
  }

  /** The distributed trainer loop: a vocabulary-sized pair aggregate,
    * one top-merge collect and one checkpoint per round. */
  private[graft] def bpeDistributed(docs: DataFrame, k: Int)
      : (Seq[(Long, String, String, Long)],
         org.apache.spark.sql.Dataset[(String, Array[String], Long)]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab0 = bpeVocab(docs).as[(String, Long)]
    var vocab = vocab0
      .map { case (w, f) => (w, w.map(_.toString).toArray, f) }
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // the top-merge collect is the round's data and its stop test: no
    // pair left means the vocabulary is exhausted
    Fixpoint.loop("text.bpe", k) { round =>
      val pairs = vocab.toDF("w", "syms", "f")
        .filter(size(col("syms")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS x, element_at(syms, i + 1) AS y))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y")).agg(sum("f").as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("x"), col("y")).limit(1).collect()
      top.headOption.foreach { t =>
        val (mx, my, cnt) = (t.getString(0), t.getString(1), t.getLong(2))
        merges += ((round.toLong, mx, my, cnt))
        vocab = vocab.map { case (w, syms, f) => (w, bpeFold(syms, mx, my), f) }
          .localCheckpoint()
      }
      top.nonEmpty
    }
    (merges.toSeq, vocab)
  }

  /** PMI-ranked collocations (Church & Hanks 1990): adjacent word
    * pairs scored by pointwise mutual information
    * ln(c(ab)·N / (c(a)·c(b))) against the corpus' own unigram
    * distribution, minimum pair count `minCount`, top `topK` by
    * (rounded PMI desc, bigram). The "which word pairs are a unit"
    * signal a tokenizer/phrase-mining pass feeds on.
    *
    * Scale shape: one token pass feeds both the unigram and the
    * adjacent-bigram aggregates (both vocabulary-sized shuffles);
    * scoring joins are count-table-sized. The rank window runs over
    * the minCount-filtered PMI table — heavy-bigram-sized, not
    * corpus-sized. Ranking uses the ROUNDED pmi so cross-engine tie
    * order is deterministic. */
  def collocations(docs: DataFrame, minCount: Long = 5, topK: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .localCheckpoint()
    val uni = toks.select(explode(col("ws")).as("t"))
    val n = uni.count()
    val uc = uni.groupBy("t").agg(count(lit(1)).as("c"))
    val bg = toks.select(col("ws")).as[Seq[String]]
      .flatMap(ws => ws.iterator.zip(ws.iterator.drop(1)))
      .toDF("w1", "w2")
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    val pmi = bc
      .join(uc.select(col("t").as("w1"), col("c").as("ca")), "w1")
      .join(uc.select(col("t").as("w2"), col("c").as("cb")), "w2")
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
        col("cab").as("n_pair"),
        round(log(col("cab").cast("double") * lit(n) / (col("ca") * col("cb"))), 4)
          .as("pmi"))
    pmi.withColumn("rank", row_number()
        .over(Window.orderBy(col("pmi").desc, col("bigram"))).cast("long"))
      .filter(col("rank") <= topK)
      .select("bigram", "n_pair", "pmi", "rank")
  }

  /** Bigram language-model score — [[logprobScore]]'s context-aware
    * sibling: mean ln p(wᵢ | wᵢ₋₁) under the corpus' own add-1
    * smoothed bigram model, p = (c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V). The
    * fluency gate that catches shuffled-word text a unigram score
    * can't. Same scale discipline as logprob: the bigram and unigram
    * count tables stay in the shuffle (vocabulary-sized) and join
    * back on their keys — never broadcast, never collected; the
    * bigram stream is materialized once for its two consumers. Docs
    * with < 2 tokens drop; 4-dp float policy. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bg = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, ws) =>
        ws.iterator.zip(ws.iterator.drop(1)).map { case (a, b) => (id, a, b) }
      }
      .toDF("doc_id", "w1", "w2")
      .localCheckpoint()
    val uni = docs.select(explode(words(col("text"))).as("t")).localCheckpoint()
    val v = uni.distinct().count()
    val uc = uni.groupBy("t").agg(count(lit(1)).as("cu"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    bg.join(bc, Seq("w1", "w2"))
      .join(uc.withColumnRenamed("t", "w1"), "w1")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("cb") + lit(1.0)) / (col("cu") + lit(v)))), 4).as("lm_score"))
  }

  /** T5-style span corruption digest (Raffel et al. 2020): mask
    * fixed-length token spans at a deterministic stride (span k
    * covers positions [1 + k·stride, …+spanLen), full spans only),
    * replace each with a `mask_k` sentinel, and emit the corrupted
    * sequence's fingerprint plus the targets sequence's
    * ("mask_0 t₁ t₂ t₃ mask_1 …") fingerprint — the input/label pair
    * digest of a span-corruption pretraining pipeline. Map-only typed
    * pass; only doc_id + counts + two 8-byte fingerprints shuffle,
    * never the corrupted text. All-integer/string arithmetic: the
    * oracle replays it exactly. */
  def spanCorruption(docs: DataFrame, stride: Int = 10, spanLen: Int = 3): DataFrame = {
    require(stride >= spanLen && spanLen >= 1,
      s"spanCorruption: need spanLen <= stride, got $spanLen/$stride")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT)
        val ws = t.split("[^a-z0-9]+").filter(_.nonEmpty)
        if (ws.isEmpty) None
        else {
          val n = ws.length
          val corrupted = new StringBuilder
          val targets = new StringBuilder
          var nSpans = 0
          var i = 0 // 0-based position
          while (i < n) {
            val r = i % stride
            val spanStart = i - r
            val fullSpan = spanStart + spanLen <= n
            if (r == 0 && fullSpan) {
              val k = i / stride
              if (corrupted.nonEmpty) corrupted.append(' ')
              corrupted.append("mask_").append(k)
              if (targets.nonEmpty) targets.append(' ')
              targets.append("mask_").append(k)
              var j = 0
              while (j < spanLen) { targets.append(' ').append(ws(i + j)); j += 1 }
              nSpans += 1
            } else if (r < spanLen && fullSpan) {
              // interior of a masked span: dropped from the input
            } else {
              if (corrupted.nonEmpty) corrupted.append(' ')
              corrupted.append(ws(i))
            }
            i += 1
          }
          def fp(s: String) = graft.functions.PolyHash.hash(
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Some((id, nSpans.toLong, (nSpans * spanLen).toLong,
            fp(corrupted.toString), fp(targets.toString)))
        }
      }
      .toDF("doc_id", "n_spans", "n_masked", "corrupted_fp", "targets_fp")
  }

  /** Hashed linear text classifier (the fastText-style quality/domain
    * gate of a curation pipeline): tokens hash into `dim` buckets
    * (feature hashing, Weinberger et al. 2009), each bucket carries a
    * fixed deterministic weight, and the doc's margin is the summed
    * bucket weights. `label` = margin > 0 is the keep/drop gate.
    *
    * The weight table is IMPLICIT — w(b) = ((b·2654435761) mod
    * 1000003)/1000003 − ½, a Knuth-hash spread over (−½, ½] — so
    * nothing is broadcast and the scoring pass is map-only at scan
    * speed; swapping in trained weights is a broadcast array lookup
    * with the same shape. All arithmetic is exact-integer then one
    * float division per token: the DuckDB oracle replays it
    * bit-for-bit. One typed-map pass per doc (tokenize once), the
    * [[langId]] discipline. */
  def classify(docs: DataFrame, dim: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val t = if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT)
        val toks = t.split("[^a-z0-9]+").filter(_.nonEmpty)
        var margin = 0.0
        toks.foreach { tok =>
          val b = graft.functions.PolyHash.hash(
            tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)) % dim
          margin += (b * 2654435761L % 1000003L).toDouble / 1000003.0 - 0.5
        }
        (id, margin)
      }
      .toDF("doc_id", "margin")
      .select(col("doc_id"), round(col("margin"), 6).as("margin"),
        (col("margin") > 0).as("label"))
  }

  // the 8 stopwords of the Gopher rule set (Rae et al. 2021, A1.1)
  private val GopherStops =
    Set("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality-rule filter (Rae et al. 2021 §A1.1) — the classic
    * rule battery of a web-scale curation pipeline: word-count bounds,
    * mean-word-length bounds, symbol-to-word ratio, bullet-/ellipsis-
    * line fractions, alphabetic-word fraction, stopword presence.
    *
    * One typed-map pass per doc (all 8 counters from a single scan of
    * the string), and every DECISION is all-integer via
    * cross-multiplication (10·symbols ≤ words instead of ratios) — the
    * events_outliers discipline: no float threshold whose rounding
    * could flip a boundary doc between engines. Line trimming strips
    * exactly space/tab in both engines (Java trim and SQL ltrim
    * disagree on other whitespace). Map-only at scan speed; 100 TB =
    * a parquet scan, no shuffle. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, textOrNull) =>
        val text = if (textOrNull == null) "" else textOrNull
        // explicit whitespace class: Java \s and RE2 \s disagree on \x0B
        val ws = text.split("[ \\t\\n\\r\\u000B\\f]+").filter(_.nonEmpty)
        val nWords = ws.length.toLong
        var sumWChars = 0L
        var nAlpha = 0L
        ws.foreach { w =>
          sumWChars += w.length
          if (w.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
            nAlpha += 1
        }
        // symbols: '#' chars + non-overlapping '...' matches + '…'
        var nSym = 0L
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i)
          if (c == '#' || c == '…') { nSym += 1; i += 1 }
          else if (c == '.' && i + 2 < text.length &&
                   text.charAt(i + 1) == '.' && text.charAt(i + 2) == '.') {
            nSym += 1; i += 3
          } else i += 1
        }
        val lines = text.split("\n", -1)
        val nLines = lines.length.toLong
        var nBullet = 0L
        var nEll = 0L
        lines.foreach { ln =>
          val l = ln.dropWhile(c => c == ' ' || c == '\t')
          if (l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))
            nBullet += 1
          val r = l.reverse.dropWhile(c => c == ' ' || c == '\t').reverse
          if (r.endsWith("...") || r.endsWith("…")) nEll += 1
        }
        val toks = text.toLowerCase(java.util.Locale.ROOT)
          .split("[^a-z0-9]+").filter(_.nonEmpty)
        val nStop = toks.iterator.filter(GopherStops).toSet.size.toLong
        (id, nWords, sumWChars, nAlpha, nSym, nLines, nBullet, nEll, nStop)
      }
      .toDF("doc_id", "n_words", "sum_wchars", "n_alpha_words", "n_symbols",
        "n_lines", "n_bullet_lines", "n_ellipsis_lines", "n_stopwords")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= 50L && col("n_words") <= 100000L).as("keep_word_count"),
        (lit(3L) * col("n_words") <= col("sum_wchars") &&
          col("sum_wchars") <= lit(10L) * col("n_words")).as("keep_mean_wlen"),
        (lit(10L) * col("n_symbols") <= col("n_words")).as("keep_symbol"),
        (lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines")).as("keep_bullet"),
        (lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines")).as("keep_ellipsis"),
        (lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words")).as("keep_alpha"),
        (col("n_stopwords") >= 2L).as("keep_stopwords"))
      .withColumn("keep",
        col("keep_word_count") && col("keep_mean_wlen") && col("keep_symbol") &&
          col("keep_bullet") && col("keep_ellipsis") && col("keep_alpha") &&
          col("keep_stopwords"))
  }

  /** CCNet-style per-language perplexity buckets (Wenzek et al. 2020):
    * docs scored by [[logprobScore]] (higher = more corpus-typical)
    * are split into head/middle/tail TERCILES within each language —
    * the standard "keep the head, maybe the middle" curation knob.
    * Semantics are exactly NTILE(3) OVER (PARTITION BY lang ORDER BY
    * logprob DESC, doc_id): deterministic and engine-independent even
    * on score ties.
    *
    * Scale shape: order statistics WITHOUT a per-language doc sort
    * (the [[graft.pipeline.Curation.budgetSelect]] discipline). A
    * per-language doc-level NTILE window would total-sort the
    * dominant language of a 100-TB corpus in ONE task. Instead:
    * logprob is already 4-dp rounded, so the (lang, score) histogram
    * is bounded by languages x the score grid, never the corpus. The
    * tercile cut RANKS (NTILE's ceil distribution) are computed over
    * the histogram; every (lang, score) tie group whose rank interval
    * falls inside one tercile labels map-side via a broadcast join;
    * only the <=2 tie groups per language that STRADDLE a cut pay a
    * doc_id-ordered row_number — and that window is partitioned by
    * (lang, logprob), i.e. one small tie group per task, never a
    * whole language. Doc text never moves; the doc-level side
    * shuffles nothing (broadcast label join). */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select("doc_id", "lang")
      .join(logprobScore(docs), "doc_id")
      .localCheckpoint() // two consumers: histogram + label join
    // bounded: one row per distinct (lang, 4dp score)
    val hist = scored.groupBy("lang", "logprob").agg(count(lit(1)).as("cnt"))
    val byScore = Window.partitionBy("lang").orderBy(col("logprob").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = hist
      .withColumn("hi", sum("cnt").over(byScore))
      .withColumn("n", sum("cnt").over(Window.partitionBy("lang")))
      .withColumn("lo", col("hi") - col("cnt") + 1L)
    // NTILE(3) ceil distribution: the first (n % 3) terciles hold
    // floor(n/3)+1 rows; cut1/cut2 are the last ranks of head/middle.
    val q = floor(col("n") / 3L)
    val c1 = q + when(col("n") % 3L >= 1L, 1L).otherwise(0L)
    val c2 = c1 + q + when(col("n") % 3L >= 2L, 1L).otherwise(0L)
    val labeled = ranks.select(col("lang"), col("logprob"), col("lo"),
      c1.as("c1"), c2.as("c2"),
      when(col("hi") <= c1, "head")
        .when(col("lo") > c2, "tail")
        .when(col("lo") > c1 && col("hi") <= c2, "middle")
        .otherwise(lit(null).cast("string")).as("bucket0")) // null = straddles a cut
    val j = scored.join(broadcast(labeled), Seq("lang", "logprob"))
    val interior = j.filter(col("bucket0").isNotNull)
      .select(col("doc_id"), col("lang"), col("logprob"),
        col("bucket0").as("bucket"))
    val tieGroup = Window.partitionBy("lang", "logprob").orderBy("doc_id")
    val boundary = j.filter(col("bucket0").isNull)
      .withColumn("r", col("lo") - 1L + row_number().over(tieGroup))
      .select(col("doc_id"), col("lang"), col("logprob"),
        when(col("r") <= col("c1"), "head")
          .when(col("r") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
    interior.unionAll(boundary)
  }
}
