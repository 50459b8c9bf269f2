package graft.rdf

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, versioned quad store — the durable half the reference
  * keeps in its Journal (com.bigdata.journal.AbstractJournal: an
  * append-only write path that `commitNow` seals into immutable commit
  * points, with read-only transactions served from any HISTORICAL
  * commit point), re-expressed as a lakehouse commit log instead of a
  * B+Tree write-ahead store:
  *
  * {{{
  *   <dir>/segments/c<version>-adds.parquet   appended quad rows
  *   <dir>/segments/c<version>-dels.parquet   tombstoned quad rows
  *   <dir>/commits/<version>.json             commit record (atomic)
  * }}}
  *
  * A [[commit]] only ever APPENDS parquet segments, then publishes the
  * commit record with an atomic rename — readers either see the whole
  * commit or none of it, and existing data is never rewritten (the
  * 100-TB ingest contract: incremental load cost scales with the
  * delta, not the store). Within one commit, deletes apply before
  * inserts — SPARQL Update's DELETE/INSERT order (§3.1.3) — so
  * delete+insert of the same quad leaves it present.
  *
  * [[snapshot]] resolves a version's state with the base segment kept
  * OUT of the shuffle: only the delta actions since the last
  * compaction go through a per-key latest-action argmax, and the base
  * joins that (broadcast-sized under AQE when deltas are small) key
  * set with one anti-join. [[compact]] rewrites the resolved state as
  * a single base segment, so steady-state reads are a plain parquet
  * scan (fast path: zero shuffles, plan-asserted in EngineSpec); the
  * superseded segments stay on disk, which is what keeps every
  * historical version readable — [[vacuum]] trades that history for
  * space.
  *
  * Single-writer: two racing commits of the same version fail loud on
  * the CREATE_NEW publish (the reference serializes writers through
  * the journal's write lock; a lakehouse serializes through the log).
  */
final class Journal private (spark: SparkSession, dir: Path) {

  import Journal._

  /** Latest committed version (0 = the empty store [[Journal.create]]
    * publishes). */
  def version: Long = records.last.version

  private def commitsDir = dir.resolve("commits")

  /** Parsed log tail, cached per handle. Commit records are immutable
    * and append-only (vacuum is the one remover and invalidates), so a
    * refresh parses ONLY records newer than the cached max — O(new)
    * JSON reads per operation instead of O(commits), the log-checkpoint
    * discipline a long-lived streaming sink needs. The directory
    * listing itself stays (another handle on the same dir may have
    * published), but a listing reads no file bodies. */
  @volatile private var cachedRecords: Vector[Record] = Vector.empty

  /** Commit-record JSON parses performed by this handle — test
    * instrumentation for the one-parse-per-new-record invariant. */
  private[graft] var recordParses: Long = 0L

  private def records: Seq[Record] = synchronized {
    // cold attach seeds from the checkpoint (ONE file read for the
    // whole pre-compaction history — the Delta `_last_checkpoint`
    // discipline) instead of parsing every record file
    if (cachedRecords.isEmpty) cachedRecords = readCheckpoint()
    val listing = Journal.listDir(commitsDir).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".json") && !n.startsWith("_")
    }
    // a vacuum by ANOTHER handle/process REMOVES records: drop cache
    // entries whose commit file is gone (the listing is already in
    // hand — no extra I/O), so a stale handle's read of a vacuumed
    // version fails loud on the "no commit point" require instead of
    // resolving silently wrong from cached metadata
    val onDisk = listing.map(versionOf).toSet
    if (cachedRecords.exists(r => !onDisk.contains(r.version)))
      cachedRecords = cachedRecords.filter(r => onDisk.contains(r.version))
    val maxKnown = if (cachedRecords.isEmpty) -1L else cachedRecords.last.version
    val fresh = listing
      .filter(p => versionOf(p) > maxKnown)
      .map(readRecord)
    if (fresh.nonEmpty)
      cachedRecords = (cachedRecords ++ fresh).sortBy(_.version)
    require(cachedRecords.nonEmpty, s"not a journal (no commit records): $dir")
    cachedRecords
  }

  /** Commit record files are named `<version>.json`. */
  private def versionOf(p: Path): Long =
    p.getFileName.toString.stripSuffix(".json").toLong

  private def checkpointFile = commitsDir.resolve("_checkpoint.json")

  /** Write the full parsed record list as one checkpoint document —
    * called under the existing `synchronized` publish path by
    * [[compact]] and [[vacuum]] (single-writer; the advisory overwrite
    * is atomic-move). */
  private def writeCheckpoint(recs: Seq[Record]): Unit = {
    val body = recs.map(recordJson).mkString("[", ",", "]")
    val tmp = Files.createTempFile(commitsDir, ".ckpt", ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, checkpointFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def readCheckpoint(): Vector[Record] =
    if (!Files.exists(checkpointFile)) Vector.empty
    else {
      val root = mapper.readTree(Files.readAllBytes(checkpointFile))
      val it = root.elements()
      val out = Vector.newBuilder[Record]
      while (it.hasNext) out += parseRecord(it.next())
      out.result().sortBy(_.version)
    }

  private def seg(rec: Record, suffix: String): Option[DataFrame] = {
    val p = dir.resolve("segments").resolve(s"c${rec.version}-$suffix.parquet")
    def read = Some(
      spark.read.schema(QUAD_SCHEMA).parquet(p.toString).select(COLS.map(col): _*))
    rec.segs match {
      // the record manifests its segments: a missing manifested file
      // means the data is GONE (foreign vacuum, manual damage) — fail
      // loud, never resolve an empty state; an unmanifested suffix
      // needs no filesystem probe at all
      case Some(ss) if !ss.contains(suffix) => None
      case Some(_) =>
        require(Files.exists(p), s"journal segment missing (vacuumed by another handle?): $p")
        read
      case None => // legacy record (pre-manifest): probe as before
        if (Files.exists(p)) read else None
    }
  }

  /** The store's state at `v` (default: latest) as a duplicate-free
    * (s,p,o,g) DataFrame — safe to hand straight to [[QuadStore]]'s
    * set-invariant constructor. */
  def snapshot(v: Long = -1L): DataFrame = {
    val recs = records
    val at = if (v < 0) recs.last.version else v
    require(recs.exists(_.version == at), s"no commit point $at in $dir")
    val visible = recs.filter(_.version <= at)
    // Resolution restarts at the last compaction ≤ at: its base segment
    // is the full state then, so earlier segments are irrelevant.
    val baseVer = visible.filter(_.compacted).map(_.version).max
    val base = seg(visible.find(_.version == baseVer).get, "adds")
    val deltas = visible.filter(_.version > baseVer)

    val acts = deltas.flatMap { r =>
      // add outranks delete at equal version (deletes apply first)
      seg(r, "dels").map(_.withColumn("seq", lit(r.version * 2))) ++
        seg(r, "adds").map(_.withColumn("seq", lit(r.version * 2 + 1)))
    }
    if (acts.isEmpty) base.getOrElse(emptyQuads(spark))
    else {
      val resolved = acts.reduce(_ unionAll _)
        .groupBy(COLS.map(col): _*).agg(max(col("seq")).as("seq"))
      val live = resolved.filter(col("seq") % 2 === 1).select(COLS.map(col): _*)
      base match {
        case None    => live
        case Some(b) => b.join(resolved, COLS, "left_anti").unionAll(live)
      }
    }
  }

  /** Append a commit: `dels` tombstones apply first, then `adds`
    * (deduped; inserting an already-present quad is idempotent under
    * resolution). Returns the new version. Either side may be empty —
    * empty sides write no segment. */
  def commit(adds: DataFrame, dels: DataFrame): Long =
    commitWith(adds, dels, None, None)

  private def commitWith(adds: DataFrame, dels: DataFrame,
                         batchId: Option[Long], appId: Option[String],
                         dedup: Boolean = true): Long = {
    val next = version + 1
    // ONE data pass per side: write the segment, read the row count
    // back from parquet FOOTERS (driver-side metadata, no Spark job),
    // and unwrite an empty result. The previous isEmpty-then-write
    // shape computed the deduped side TWICE per commit (isEmpty runs
    // the distinct's map stage before its limit-1 read) — on the
    // commit-heavy paths (truth maintenance, UPDATE) that was a full
    // redundant shuffle per segment side.
    def writeSeg(df: DataFrame, suffix: String): Boolean = {
      val rows0 = df.select(COLS.map(col): _*)
      // PROVABLY-empty side (an empty LocalRelation after optimization
      // — every `append`'s dels side, the TM paths' no-op sides): skip
      // the Spark write job entirely. The write-then-footer-count shape
      // below paid one full parquet write + delete per empty side on
      // EVERY commit — a fixed job-count tax on the commit-heavy
      // engine paths (truth maintenance, UPDATE, streaming sink).
      if (graft.plans.LocalTier.provablyEmpty(rows0)) return false
      val rows = if (dedup) rows0.distinct() else rows0
      val p = dir.resolve("segments").resolve(s"c$next-$suffix.parquet")
      // a crash or a cancelled write between an earlier attempt's
      // segment write and its record publish leaves an ORPHAN directory
      // at this path that `errorifexists` would wedge on forever —
      // `next` is unpublished by construction (single-writer contract),
      // so anything here is unreachable garbage: clear it first. A
      // failed write fails its commit and is not re-run: a cancelled
      // one must not start its whole write again
      if (Files.exists(p) && !records.exists(_.version == next)) Journal.deleteRecursively(p)
      writeSegment(rows, next, suffix)
      if (Journal.parquetRowCount(p) > 0L) true
      else { Journal.deleteRecursively(p); false }
    }
    val wrote = Seq("dels" -> writeSeg(dels, "dels"), "adds" -> writeSeg(adds, "adds"))
    publish(Record(next, compacted = false, batchId, appId,
      segs = Some(wrote.collect { case (s, true) => s }.toSet)))
    next
  }

  /** One segment write — graph-partitioned parquet, so graph-scoped
    * ops (GSP PUT/DELETE, DROP/CLEAR GRAPH) and graph-bound reads
    * prune to one partition directory instead of scanning the head
    * (the quads-mode per-graph access-path scoping the reference gets
    * from its SPOC/POCS B+Tree key order). */
  private def writeSegment(rows: DataFrame, version: Long, suffix: String): Unit =
    rows.write.mode("errorifexists").partitionBy("g")
      .parquet(dir.resolve("segments").resolve(s"c$version-$suffix.parquet").toString)

  /** Convenience: insert-only commit. */
  def append(adds: DataFrame): Long = commit(adds, emptyQuads(spark))

  /** Insert-only commit WITHOUT the write-side `distinct()` — the
    * bulk-ingest path: the one corpus pass is the segment write
    * itself. Duplicate rows inside an adds segment are harmless for
    * correctness (snapshot resolution's per-key argmax dedups, and
    * the next [[compact]] rewrites the deduped state); they only cost
    * segment storage until then. Returns the new version. */
  def appendRaw(adds: DataFrame): Long =
    commitWith(adds, emptyQuads(spark), None, None, dedup = false)

  /** [[commit]] for callers that GUARANTEE both sides are already
    * duplicate-free (closure outputs, anti-joins of distinct inputs —
    * the [[graft.inference.MaintainedClosure]] write paths): skips the
    * write-side `distinct()`, one full shuffle less per segment side.
    * Safety net is the same as [[appendRaw]]'s: a duplicate slipping
    * through costs segment storage only — snapshot resolution's
    * per-key argmax dedups, and the next compact rewrites clean. */
  private[graft] def commitDistinct(adds: DataFrame, dels: DataFrame): Long =
    commitWith(adds, dels, None, None, dedup = false)

  /** Exact row count of a committed version's adds segment from
    * parquet FOOTER metadata — no Spark job, no data read (the
    * reference answers rangeCount from B+Tree page metadata the same
    * way). `graph`: count only that graph's partition directory.
    * None when the version wrote no adds segment. */
  def segmentRowCount(v: Long, graph: Option[String] = None): Option[Long] = {
    val rec = records.find(_.version == v).getOrElse(
      sys.error(s"no commit point $v in $dir"))
    if (rec.segs.exists(!_.contains("adds"))) return None
    val p = dir.resolve("segments").resolve(s"c$v-adds.parquet")
    if (!Files.exists(p)) return None
    graph match {
      case None => Some(Journal.parquetRowCount(p))
      case Some(g) =>
        // a legacy (pre-partitioning) segment keeps g as a data column
        // — footers can't answer a graph-bound count there
        val partitioned = Journal.listDir(p)
          .exists(_.getFileName.toString.startsWith("g="))
        if (!partitioned) None
        else {
          val sub = p.resolve("g=" + escapePathName(g))
          if (!Files.exists(sub)) Some(0L) else Some(Journal.parquetRowCount(sub))
        }
    }
  }

  /** Graphs touched by commit `v` (adds ∪ dels), read from the
    * graph-partitioned segment MANIFESTS (directory names) — no data
    * read, no Spark job. None when a segment predates partitioning
    * (g was a data column: the touched set is unknowable without a
    * scan) — callers must treat None as "could be anything".
    * Feeds graph-level transaction conflict validation (the
    * reference's TxServlet.java:56-58 per-index-range revision check,
    * at partition granularity). */
  def touchedGraphs(v: Long): Option[Set[String]] = {
    val rec = records.find(_.version == v).getOrElse(
      sys.error(s"no commit point $v in $dir"))
    val suffixes = rec.segs.getOrElse(Set("adds", "dels"))
    suffixes.toSeq.foldLeft(Option(Set.empty[String])) { (acc, sfx) =>
      val p = dir.resolve("segments").resolve(s"c$v-$sfx.parquet")
      if (!Files.exists(p)) acc
      else {
        val entries = Journal.listDir(p).map(_.getFileName.toString)
        val parts = entries.filter(_.startsWith("g="))
        val legacyData = entries.exists(_.endsWith(".parquet"))
        if (parts.isEmpty && legacyData) None // legacy unpartitioned
        else for (a <- acc) yield a ++ parts.map(n =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(n.drop(2)))
      }
    }
  }

  /** The LOGICAL change set of commits in `(fromExclusive,
    * toInclusive]` as one (adds, dels) pair — what an incremental
    * maintenance consumer (the persisted text index, a downstream
    * materialization) processes to catch up. Compacted commits
    * rewrite state without changing it and are skipped, so a
    * compaction between two syncs costs the consumer nothing. Fails
    * loud when part of the range was vacuumed (the delta is
    * unknowable then — the consumer must rebuild). */
  def changedQuads(fromExclusive: Long, toInclusive: Long = -1L): (DataFrame, DataFrame) = {
    val recs = records
    val to = if (toInclusive < 0) recs.last.version else toInclusive
    require(to <= recs.last.version, s"no commit point $to in $dir")
    val inRange = recs.filter(r => r.version > fromExclusive && r.version <= to)
    // versions are contiguous by construction (each commit increments
    // by one); a gap means vacuum removed part of the asked-for range
    require(inRange.size == (to - fromExclusive),
      s"commits ($fromExclusive, $to] partially vacuumed in $dir — " +
        "incremental catch-up impossible, rebuild the consumer")
    val rs = inRange.filter(!_.compacted)
    def side(sfx: String): DataFrame =
      rs.flatMap(r => seg(r, sfx)).reduceOption(_ unionAll _)
        .getOrElse(emptyQuads(spark))
    (side("adds"), side("dels"))
  }

  /** The VERSION-ATTRIBUTED change log of commits in `(fromExclusive,
    * toInclusive]`: one row per changed quad per commit — (s, p, o, g,
    * version, action) with action ∈ added|removed. This is the
    * QUERYABLE history surface ([[graft.sparql.HistoryService]] serves
    * it as `SERVICE bd:history { … }`) — the reference REGISTERS
    * bd:history/bd:rdrhistory by default but both factories throw on
    * create (ast/service/history/HistoryServiceFactory.java:104);
    * its usable half was always the change-capture write side, which
    * [[changedQuads]] covers — this read side exceeds it. Same range
    * discipline as changedQuads: compacted commits are no-ops and are
    * skipped, a partially-vacuumed range fails loud. The plan is a
    * union of the range's delta segments (delta-sized, graph-
    * partitioned) with constant version/action columns — no head
    * scan, no shuffle. */
  def changeLog(fromExclusive: Long, toInclusive: Long = -1L): DataFrame = {
    val recs = records
    val to = if (toInclusive < 0) recs.last.version else toInclusive
    require(to <= recs.last.version, s"no commit point $to in $dir")
    val inRange = recs.filter(r => r.version > fromExclusive && r.version <= to)
    require(inRange.size == (to - fromExclusive),
      s"commits ($fromExclusive, $to] partially vacuumed in $dir — " +
        "the change log is unknowable there")
    inRange.filter(!_.compacted).flatMap { r =>
      seg(r, "dels").map(_.withColumn("version", lit(r.version))
          .withColumn("action", lit("removed"))) ++
        seg(r, "adds").map(_.withColumn("version", lit(r.version))
          .withColumn("action", lit("added")))
    }.reduceOption(_ unionAll _).getOrElse(
      emptyQuads(spark).withColumn("version", lit(0L))
        .withColumn("action", lit("added")).limit(0))
  }

  /** Structured Streaming sink body — use from `foreachBatch`:
    * {{{ quads.writeStream.foreachBatch(journal.sink("ingest") _).start() }}}
    * Exactly-once through the commit log itself: the (appId, batchId)
    * pair is recorded on the commit record — the lakehouse
    * `txnAppId/txnVersion` contract — so a REPLAYED batch (Spark
    * re-runs the last batch after failure recovery) is recognized and
    * skipped, while a DIFFERENT query's batch 0 (a fresh checkpoint
    * restarts ids at 0) is a new transaction, not a false replay.
    * `appId` identifies the writing query across restarts: use one
    * stable id per (streaming query, checkpoint location). */
  def sink(appId: String)(adds: DataFrame, batchId: Long): Unit = {
    require(appId.matches("[A-Za-z0-9._-]+"), s"bad sink appId: $appId")
    // empty batches (e.g. a trigger's finalization batch) commit
    // nothing — skipping them is idempotent too, so they need no
    // batch-id record
    val replayed = records.exists(r =>
      r.batchId.contains(batchId) && r.appId.getOrElse(DefaultAppId) == appId)
    if (!replayed && !adds.isEmpty) {
      commitWith(adds, emptyQuads(spark), Some(batchId), Some(appId))
      ()
    }
  }

  /** [[sink]] under the default app id — for a journal bound to ONE
    * streaming query for its lifetime. */
  def sinkBatch(adds: DataFrame, batchId: Long): Unit =
    sink(DefaultAppId)(adds, batchId)

  /** True when commit point v is a compaction snapshot: it rewrites
    * the whole store state as one segment (its manifest names every
    * graph) but makes NO logical change — conflict validation must
    * skip it or every tx racing an auto-compaction 409s spuriously. */
  def compactedAt(v: Long): Boolean =
    records.find(_.version == v).exists(_.compacted)

  /** Version of the most recent compacted commit point (0 = only the
    * empty base). The delta count `version - lastCompacted` is the
    * snapshot-resolution cost driver — compaction policy input. */
  def lastCompacted: Long = records.filter(_.compacted).map(_.version).max

  /** Materialize the current state as a single base segment and seal it
    * as a new compacted commit point: subsequent [[snapshot]]s of it
    * are one parquet scan, zero shuffles. History stays readable.
    *
    * `ospHashTwin`: ALSO write the state's distinct (s,p,o) as an
    * object-hash-keyed twin segment (`c<v>-osph.parquet`, partitioned
    * by crc32(o)%64 — the [[TripleStorage.writeOspHash]] layout), the
    * durable OSP-index analog the reference keeps beside SPO/POS
    * (SPOKeyOrder): connections on this commit point serve
    * hit→subject joins (bds:searchInSearch) from a bucket-pruned scan
    * instead of a full-view pass. */
  def compact(ospHashTwin: Boolean = false): Long = {
    val next = version + 1
    val snap0 = snapshot()
    val snap = if (ospHashTwin) snap0.localCheckpoint() else snap0 // 2 consumers
    val wrote = !snap.isEmpty
    if (wrote) writeSegment(snap, next, "adds")
    val wroteTwin = wrote && ospHashTwin
    if (wroteTwin)
      snap.select("s", "p", "o").distinct()
        .withColumn("obh",
          graft.search.PersistedSearchIndex.termBucketCol(col("o")))
        .repartition(col("obh")).sortWithinPartitions("o")
        .write.mode("errorifexists").partitionBy("obh")
        .parquet(dir.resolve("segments").resolve(s"c$next-osph.parquet").toString)
    publish(Record(next, compacted = true,
      segs = Some(Set("adds").filter(_ => wrote) ++ Set("osph").filter(_ => wroteTwin))))
    // compaction is the natural log-checkpoint moment: a cold open
    // then reads ONE checkpoint file + only post-compaction records
    synchronized { writeCheckpoint(cachedRecords) }
    next
  }

  /** Path of the object-hash twin VALID FOR version `v` (default:
    * head): Some only when `v` itself is a compaction that wrote one —
    * the twin mirrors exactly that commit point's state, so any later
    * delta invalidates it for the head until the next compaction. */
  def ospHashAt(v: Long = -1L): Option[Path] = {
    val recs = records
    val at = if (v < 0) recs.last.version else v
    recs.find(_.version == at)
      .filter(r => r.compacted && r.segs.exists(_.contains("osph")))
      .map(_ => dir.resolve("segments").resolve(s"c$at-osph.parquet"))
      .filter(Files.exists(_))
  }

  /** Drop every segment superseded by the latest compaction — the
    * space-for-history trade. Historical versions BEFORE that
    * compaction become unreadable; their commit records are removed
    * too so a stale read fails loud rather than resolving wrong. */
  def vacuum(): Unit = synchronized {
    val recs = records
    val baseVer = recs.filter(_.compacted).map(_.version).max
    recs.filter(r => r.version < baseVer).foreach { r =>
      Seq("adds", "dels", "osph").foreach { sfx =>
        val p = dir.resolve("segments").resolve(s"c${r.version}-$sfx.parquet")
        if (Files.exists(p)) deleteRecursively(p)
      }
      Files.deleteIfExists(commitsDir.resolve(s"${r.version}.json"))
    }
    // the one operation that REMOVES records — drop them from the tail
    // cache AND rewrite the checkpoint so neither a live handle nor a
    // cold open can resolve a vacuumed version silently wrong
    cachedRecords = cachedRecords.filter(_.version >= baseVer)
    writeCheckpoint(cachedRecords)
  }

  private def recordJson(rec: Record): String = {
    val batch = rec.batchId.map(b => s""","batchId":$b""").getOrElse("")
    val app = rec.appId.map(a => s""","appId":"$a"""").getOrElse("")
    val segs = rec.segs.map(ss =>
      s""","segs":[${ss.toSeq.sorted.map(s => s""""$s"""").mkString(",")}]""").getOrElse("")
    s"""{"version":${rec.version},"compacted":${rec.compacted}$batch$app$segs}"""
  }

  private def publish(rec: Record): Unit = synchronized {
    val tmp = Files.createTempFile(commitsDir, ".publish", ".tmp")
    Files.write(tmp, recordJson(rec).getBytes(StandardCharsets.UTF_8))
    // Atomic AND exclusive: a hard link lands the fully-written record
    // in one namespace operation and FAILS (FileAlreadyExistsException)
    // if a racing writer published the same version first — no
    // check-then-move window where ATOMIC_MOVE would silently replace
    // the winner's record for a segment-free commit.
    val target = commitsDir.resolve(s"${rec.version}.json")
    try Files.createLink(target, tmp)
    catch {
      case _: FileAlreadyExistsException =>
        Files.delete(tmp)
        throw new IllegalStateException(
          s"concurrent commit: version ${rec.version} already published in $dir")
      case _: UnsupportedOperationException =>
        // no hard links on this filesystem: exclusive CREATE_NEW copy.
        // A copy is not atomic, so a crash mid-copy can leave a
        // truncated target — on the next publish of that version,
        // validate the existing file and clear it if unparseable
        // (readers that raced the partial already failed LOUD on the
        // parse; without this, the journal would stay wedged).
        try Files.copy(tmp, target) // CREATE_NEW semantics: throws if exists
        catch {
          case _: FileAlreadyExistsException =>
            val partial =
              try { parseRecord(mapper.readTree(Files.readAllBytes(target))); false }
              catch { case scala.util.control.NonFatal(_) => true }
            if (partial) { Files.delete(target); Files.copy(tmp, target) }
            else {
              Files.delete(tmp)
              throw new IllegalStateException(
                s"concurrent commit: version ${rec.version} already published in $dir")
            }
        }
        Files.delete(tmp)
    }
    Files.deleteIfExists(tmp)
    // the publisher knows its own record — extend the cache directly
    cachedRecords = (cachedRecords :+ rec).sortBy(_.version)
  }

  private def readRecord(p: Path): Record = {
    recordParses += 1
    parseRecord(mapper.readTree(Files.readAllBytes(p)))
  }

  private def parseRecord(node: com.fasterxml.jackson.databind.JsonNode): Record =
    Record(node.get("version").asLong(), node.get("compacted").asBoolean(),
      Option(node.get("batchId")).map(_.asLong()),
      Option(node.get("appId")).map(_.asText()),
      Option(node.get("segs")).map { arr =>
        val it = arr.elements()
        val out = Set.newBuilder[String]
        while (it.hasNext) out += it.next().asText()
        out.result()
      })

  /** Copy this journal's state to `target` (must not exist) — the
    * online-backup primitive (BackupServlet.java:62 snapshots the
    * reference's journal over HTTP the same way). Segments copy
    * BEFORE commit records: every record landed in the backup has its
    * manifested segments already there, so a record published DURING
    * an unquiesced copy at worst goes missing from the backup (the
    * backup is the pre-copy state), never resolves wrong — and the
    * server endpoint holds the namespace write lock anyway. All
    * files are immutable once published, so a plain copy is a
    * consistent snapshot. */
  def backupTo(target: Path): Unit = {
    require(!Files.exists(target), s"backup target already exists: $target")
    def copyTree(from: Path, to: Path): Unit = {
      if (Files.isDirectory(from)) {
        Files.createDirectories(to)
        Journal.listDir(from).foreach(c => copyTree(c, to.resolve(c.getFileName)))
      } else Files.copy(from, to)
    }
    Files.createDirectories(target)
    copyTree(dir.resolve("segments"), target.resolve("segments"))
    copyTree(dir.resolve("commits"), target.resolve("commits"))
  }

  /** Remove segment files of an UNPUBLISHED version — crash-repair
    * support ([[graft.inference.MaintainedClosure]]): a crash between
    * a segment write and its record publish leaves orphan files that
    * no reader can reach but that block re-committing the version
    * (`errorifexists`). Refuses to touch a published version. */
  private[graft] def dropOrphanSegments(v: Long): Unit = synchronized {
    require(!records.exists(_.version == v),
      s"version $v is published in $dir — not an orphan")
    Seq("adds", "dels", "osph").foreach { sfx =>
      Journal.deleteRecursively(
        dir.resolve("segments").resolve(s"c$v-$sfx.parquet"))
    }
  }
}

object Journal {

  private val COLS = Seq("s", "p", "o", "g")
  private val mapper = new ObjectMapper()

  /** App id recorded by [[Journal.sinkBatch]]; pre-appId records (no
    * `"appId"` member) replay-match under it, keeping old journals
    * readable. */
  private val DefaultAppId = "default"

  /** `segs`: which segment files this commit wrote (its manifest) —
    * lets readers skip filesystem probes and fail LOUD when a
    * manifested file is missing. None on legacy (pre-manifest)
    * records, which fall back to existence probes. */
  private final case class Record(version: Long, compacted: Boolean,
                                  batchId: Option[Long] = None,
                                  appId: Option[String] = None,
                                  segs: Option[Set[String]] = None)

  /** Segments are (s,p,o) data files under `g=<value>` partition
    * directories; the explicit schema pins `g` to string (partition
    * values must NOT type-infer — a graph named "123" stays a
    * string) and keeps legacy unpartitioned segments (g as a data
    * column) readable through the same call. */
  private val QUAD_SCHEMA = org.apache.spark.sql.types.StructType(
    Seq("s", "p", "o", "g").map(n =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))

  private def emptyQuads(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, String, String)].toDF(COLS: _*)
  }

  /** Initialize an empty journal at `dir` (must not already hold one):
    * publishes the empty compacted commit 0. */
  def create(spark: SparkSession, dir: String): Journal = {
    val root = Paths.get(dir)
    val commits = root.resolve("commits")
    require(!Files.exists(commits) || listDir(commits).isEmpty,
      s"journal already exists at $dir")
    Files.createDirectories(commits)
    Files.createDirectories(root.resolve("segments"))
    val j = new Journal(spark, root)
    j.publish(Record(0, compacted = true, segs = Some(Set.empty)))
    j
  }

  /** Open an existing journal. */
  def open(spark: SparkSession, dir: String): Journal = {
    val root = Paths.get(dir)
    require(Files.exists(root.resolve("commits")), s"no journal at $dir")
    new Journal(spark, root)
  }

  private def listDir(p: Path): Seq[Path] = {
    val stream = Files.list(p)
    try stream.toArray.toSeq.asInstanceOf[Seq[Path]] finally stream.close()
  }

  /** Hive-style partition-value escaping, matching what
    * `DataFrameWriter.partitionBy` writes into directory names. */
  private[rdf] def escapePathName(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  /** Sum of parquet row counts under `root` from file FOOTERS only —
    * a metadata read (each footer is a few KB at the file tail), not
    * a scan; no Spark job runs. */
  private[graft] def parquetRowCount(root: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    def walk(p: Path): Long =
      if (Files.isDirectory(p)) listDir(p).map(walk).sum
      else if (p.getFileName.toString.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      } else 0L
    walk(root)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
