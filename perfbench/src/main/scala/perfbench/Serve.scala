package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Graft
import graft.rdf.{Journal, Repository, Serializer, TpchRdf}
import graft.server.SparqlServer
import graft.sparql.{Ask, Parser}

/** The serving workloads, driven over HTTP against
  * `SparqlServer.durable` holding the TPC-H RDF store.
  *
  *  - serve_read: one closed-loop reader on the read mix.
  *  - serve_write: one closed-loop writer (SPARQL UPDATE, then a
  *    read-back that must show the write) beside the reader.
  *    Writes touch only subjects `w:<seed>-<i>`, which no read template
  *    matches, so every reader answer stays checkable against DuckDB.
  *
  * Timing is what the client receives: request sent until the body is
  * fully read. Answers are checked after the timed phase. */
final class Serve(spark: SparkSession, cfg: Config, report: Report, probe: Option[Probe],
                  writer: Boolean) {
  private val SetupRepeats = 5
  private val Namespace = "kb"
  /** Journal compaction interval of serve_write (commits). */
  private val CompactEvery = 3
  /** Triples inserted per update; each update also deletes the triples
    * of the update `Window` steps back, so the live set stays bounded. */
  private val Payload = 16
  private val Window = 4
  /** Untimed rounds of the read mix before the window (8 requests each). */
  private val WarmupRounds = 4
  /** Requests replayed in-process per template in a traced run. */
  private val ReplayPerTemplate = 2

  /** One closed-loop reader: each request has the task slots and the
    * JIT compiler threads to itself, so a run measures the engine rather
    * than how the scheduler interleaves clients on a few shared cores. */
  private val readers = 1
  private val clients = if (writer) readers + 1 else readers
  private val spans = new Spans
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(30)).build()

  private final case class Resp(status: Int, body: Array[Byte], t0: Long, ttfb: Long, t1: Long) {
    def ms: Double = (t1 - t0) / 1e6
    def text: String = new String(body, UTF_8)
  }
  private final case class Read(q: ReadQuery, r: Option[Resp])
  /** One writer cycle; `compacted`: the update's commit triggered a compaction. */
  private final case class Write(update: Resp, readBack: Resp, ok: Boolean, compacted: Boolean)

  private def post(url: String, body: String, ctype: String, accept: String): Resp = {
    val req = HttpRequest.newBuilder(URI.create(url)).timeout(Duration.ofSeconds(150))
      .header("Content-Type", ctype).header("Accept", accept)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val t0 = System.nanoTime()
    val r = http.send(req, HttpResponse.BodyHandlers.ofInputStream())
    val ttfb = System.nanoTime()
    val bytes = try r.body().readAllBytes() finally r.body().close()
    Resp(r.statusCode(), bytes, t0, ttfb, System.nanoTime())
  }

  private def query(srv: SparqlServer, q: ReadQuery): Resp =
    post(srv.address + "/sparql", q.sparql, "application/sparql-query",
      if (q.kind == "graph") "application/n-triples" else "application/sparql-results+json")

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def run(): Unit = {
    val (nCust, nOrd, nPart) = (cfg.rows("customer"), cfg.rows("orders"), cfg.rows("part"))
    report.info ++= Map("clients" -> clients, "readers" -> readers,
      "writers" -> (if (writer) 1 else 0), "customers" -> nCust, "orders" -> nOrd,
      "autoCompactEvery" -> (if (writer) CompactEvery else 64))
    val firstQuery = new Templates(nCust, nOrd, nPart, new Random(cfg.seed)).make("point")

    // ---- the store: bulk-loaded into the namespace journal and compacted,
    // once. Like the parquet it is built from, it is the workload's input;
    // set-up is what a server restart costs on it ----
    val dir = cfg.work.resolve("journal")
    val ns = dir.resolve(Namespace)
    val l0 = System.nanoTime()
    val repo = Repository.create(spark, ns.toString)
    repo.journal.append(TpchRdf.quads(spark, cfg.data))
    repo.compact()
    report.layers("rdf.load_ms") = (System.nanoTime() - l0) / 1e6

    // ---- set-up, repeated: open the durable server on the journal (a
    // fresh connection and merged view) and answer the first query ----
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val srv = SparqlServer.durable(Graft.empty(spark), dir.toString,
        defaultNamespace = Namespace, autoCompactEvery = if (writer) CompactEvery else 64).start()
      val r = query(srv, firstQuery)
      require(r.status == 200, s"set-up query failed: ${r.status} ${r.text.take(300)}")
      if (i < SetupRepeats) srv.stop()
      ((System.nanoTime() - t0) / 1e9, srv)
    }
    val srv = setups.last._2
    System.err.println(f"perfbench: store loaded in ${report.layers("rdf.load_ms") / 1e3}%.2f s, " +
      s"set-ups ${setups.map(s => f"${s._1}%.2f").mkString(" ")} s")
    report.e2e("setup_s") = Stats.median(setups.map(_._1))
    report.info("setup_samples_s") = setups.map(_._1)
    report.info("triples") = TpchRdf.schema.map(t => t.props.size.toLong * cfg.rows(t.name)).sum
    var heapMb = Probe.heapAfterGcMb()

    // ---- warm-up: WarmupRounds rounds of each reader's stream, untimed.
    // After 6 s of warm-up the JIT was still speeding up the window,
    // whose first third ran a median 32% slower than its last; after
    // these rounds, 16%. A fixed amount
    // of work, not of time, so that a run on a slower machine does not
    // start its window less warm. The timed phase continues the same
    // streams, so it meets keys the warm-up made hot ----
    val streams = (0 until readers).map(c => new Stream(c, nCust, nOrd, nPart))
    val w0 = System.nanoTime()
    streams.map { st =>
      val th = new Thread(() => (0 until WarmupRounds * st.round).foreach(_ => query(srv, st.next())))
      th.start(); th
    }.foreach(_.join())
    report.info("warmup_s") = (System.nanoTime() - w0) / 1e9

    // ---- timed phase ----
    val reads = new ConcurrentLinkedQueue[Read]()
    val writes = mutable.ArrayBuffer.empty[Write]
    var writeErrors = 0L
    val journal = if (writer) Some(Journal.open(spark, ns.toString)) else None
    val bytesBefore = dirBytes(ns)
    var payloadBytes = 0L
    val mark = probe.map(_.mark())
    val gc0 = Probe.gcMs()
    val t0 = System.nanoTime()
    val deadline = cfg.deadlineAfter(t0)
    val readerThreads = streams.zipWithIndex.map { case (st, c) =>
      val th = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val q = st.next()
          reads.add(Read(q, scala.util.Try(query(srv, q)).toOption))
        }
      }, s"reader-$c")
      th.start(); th
    }
    if (writer) {
      var i = 0
      while (System.nanoTime() < deadline) {
        val (text, bytes) = updateText(i)
        payloadBytes += bytes
        scala.util.Try {
          val u = post(srv.address + "/sparql/update", text, "application/sparql-update", "*/*")
          val rb = query(srv, readBack(i))
          val ok = u.status == 204 && rb.status == 200 &&
            Canon.sparqlJson(rb.text) == expectedReadBack(i)
          val j = journal.get
          Write(u, rb, ok, j.lastCompacted == j.version)
        }.fold(_ => writeErrors += 1, w => writes += w)
        i += 1
      }
    }
    readerThreads.foreach(_.join())
    val t1 = System.nanoTime()
    val layerDelta = probe.map(_.since(mark.get, t0 / 1000000, t1 / 1000000))
    val gcMs = Probe.gcMs() - gc0
    heapMb = math.max(heapMb, Probe.heapAfterGcMb())

    // ---- end-to-end metrics: every client request ----
    val rs = reads.asScala.toVector
    val okReads = rs.flatMap(_.r).filter(_.status == 200)
    val all = okReads.map(_.ms) ++ writes.flatMap(w => Seq(w.update.ms, w.readBack.ms))
    val wallS = (t1 - t0) / 1e9
    report.e2e("p50_ms") = Stats.quantile(all, 0.5)
    report.e2e("p90_ms") = Stats.quantile(all, 0.9)
    report.e2e("ops_per_s") = all.size / wallS
    report.e2e("heap_peak_mb") = heapMb
    report.info("latencies_ms") = rs.flatMap(r => r.r.map(x => Seq(r.q.template, x.ms))) ++
      writes.flatMap(w => Seq(Seq("update", w.update.ms), Seq("read_back", w.readBack.ms)))
    report.info("samples") = all.size
    report.info("samples_beyond_p90") = all.count(_ > report.e2e("p90_ms"))
    report.info("window_s") = wallS

    // ---- answer checks ----
    report.attempted = rs.size + 2L * (writes.size + writeErrors)
    report.failed = rs.count(r => r.r.forall(_.status != 200)) +
      2L * (writes.count(!_.ok) + writeErrors)
    checkReads(rs)

    // ---- layer metrics ----
    val readMs = okReads.map(_.ms)
    val L = report.layers
    L("read_p50_ms") = Stats.quantile(readMs, 0.5)
    L("read_p95_ms") = Stats.quantile(readMs, 0.95)
    L("read_qps") = readMs.size / wallS
    L("server.ttfb_ms") = okReads.map(r => (r.ttfb - r.t0) / 1e6).sum / okReads.size
    L("server.stream_ms") = okReads.map(r => (r.t1 - r.ttfb) / 1e6).sum / okReads.size
    L("server.response_bytes") = okReads.map(_.body.length.toDouble).sum / okReads.size
    L("jvm.gc_ms") = gcMs / all.size
    if (writer && writes.nonEmpty) {
      val upd = writes.map(_.update.ms)
      L("update_p50_ms") = Stats.quantile(upd, 0.5)
      L("update_p95_ms") = Stats.quantile(upd, 0.95)
      L("visible_p50_ms") = Stats.quantile(writes.map(w => (w.readBack.t1 - w.update.t0) / 1e6), 0.5)
      val written = dirBytes(ns) - bytesBefore
      L("write_amp") = written.toDouble / payloadBytes
      L("rdf.compactions") = writes.count(_.compacted)
      L("rdf.live_segments") = journal.get.version - journal.get.lastCompacted
      L("space_amp") = dirBytes(ns).toDouble / liveNtBytes(srv.current())
      report.info("updates") = writes.size
      report.info("compacting_updates") = writes.count(_.compacted)
      // the tail percentile should sit inside the compacting group, not
      // on the boundary between compacting and plain commits
      val plain = writes.filterNot(_.compacted).map(_.update.ms)
      report.info("update_p95_above_plain_commits") =
        plain.isEmpty || plain.max < L("update_p95_ms")
    }
    probe.foreach { p =>
      val d = layerDelta.get
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.job_ms", "spark.sched_wait_ms",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes")
        .foreach(k => L(k) = d.getOrElse(k, 0.0) / all.size)
      replay(p, srv, rs.map(_.q))
    }
    srv.stop()
    probe.foreach(_ => storeLayers(ns))
    report.spans = spans.all
    delete(dir)
  }

  /** Reader c's request stream: the templates in turn, keys from the seed. */
  private final class Stream(c: Int, nCust: Int, nOrd: Int, nPart: Int) {
    private val tpl = new Templates(nCust, nOrd, nPart, new Random(cfg.seed * 7919 + c))
    private var i = c
    val round: Int = tpl.names.size
    def next(): ReadQuery = { val q = tpl.make(tpl.names(i % round)); i += 1; q }
  }

  // ---- writer ----

  private def subj(i: Int) = s"w:${cfg.seed}-$i"
  private def payload(i: Int): Seq[(String, String, String)] = {
    val rnd = new Random(cfg.seed * 31 + i)
    (0 until Payload).map(j => (subj(i), s"wp$j", s"v$i-$j-${rnd.nextInt(1000000)}"))
  }
  private def ntBytes(ts: Seq[(String, String, String)]): Long = ts.map { case (s, p, o) =>
    s"<${Parser.Base}$s> <${Parser.Base}$p> \"$o\" .\n".getBytes(UTF_8).length.toLong
  }.sum
  private def block(ts: Seq[(String, String, String)]) =
    ts.map { case (s, p, o) => s"""$s $p "$o" .""" }.mkString(" ")

  /** Update i: drop the triples of update i - Window, insert payload i.
    * Returns the request and its payload size in N-Triples bytes. */
  private def updateText(i: Int): (String, Long) = {
    val ins = payload(i)
    val del = if (i >= Window) payload(i - Window) else Nil
    val text = (if (del.nonEmpty) s"DELETE DATA { ${block(del)} } ; " else "") +
      s"INSERT DATA { ${block(ins)} }"
    (text, ntBytes(ins) + ntBytes(del))
  }
  private def readBack(i: Int): ReadQuery = {
    val old = if (i >= Window) s", ${subj(i - Window)}" else ""
    ReadQuery("read_back",
      s"SELECT ?s ?k ?v WHERE { ?s ?k ?v FILTER(?s IN (${subj(i)}$old)) }", "", "select")
  }
  /** Read-your-writes: exactly payload i, and nothing of the deleted one. */
  private def expectedReadBack(i: Int): Canon.Rows =
    payload(i).map { case (s, p, o) => Vector(p, s, o) }.toVector.sorted(Canon.rowOrder)

  // ---- answer checks ----

  /** Group reads by query text: every response to one query must give
    * the same canonical answer, and that answer goes to DuckDB. */
  private def checkReads(rs: Vector[Read]): Unit = {
    val dir = Files.createDirectories(cfg.work.resolve("answers"))
    rs.filter(_.r.exists(_.status == 200)).groupBy(_.q.sparql).zipWithIndex.foreach {
      case ((_, group), k) =>
        val canon = group.map(r => scala.util.Try(Canon(r.q.kind, r.r.get.text)).toOption)
        val first = canon.head
        val agree = canon.count(c => c.isDefined && c == first)
        report.failed += group.size - agree
        first.foreach { rows =>
          val f = dir.resolve(s"q$k.jsonl")
          Files.writeString(f, Canon.toJsonLines(rows))
          report.checks += Check(group.head.q.template, group.head.q.sql, f.toString, "rows", agree)
        }
    }
  }

  // ---- traced run: in-process replay of the request stream ----

  /** Replays the first requests of each template through the calls the
    * handler makes — Parser.parse → Graft.query → materialize →
    * Serializer — with a span around each. */
  private def replay(p: Probe, srv: SparqlServer, stream: Vector[ReadQuery]): Unit = {
    val g = srv.current()
    val picked = stream.groupBy(_.template).values.flatMap(_.take(ReplayPerTemplate)).toVector
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    picked.zipWithIndex.foreach { case (q, op) =>
      val m = p.mark()
      val t0 = System.currentTimeMillis()
      var t = Map.empty[String, Double]
      def timed[T](name: String)(body: => T): T = {
        val s0 = System.nanoTime()
        val v = spans(op, name, "request")(body)
        t += name -> (System.nanoTime() - s0) / 1e6
        v
      }
      val resultRows = spans(op, "request", "") {
        val ast = timed("parse")(Parser.parse(q.sparql))
        val df = timed("compile")(g.query(ast))
        val rows = timed("materialize")(df.collect())
        timed("serialize") {
          val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          val out = ast match {
            case _: Ask => Seq(Serializer.sparqlAskJson(rows.head.getBoolean(0)))
            case _ if q.kind == "graph" =>
              Serializer.toNTriples(local).collect().map(_.getString(0)).toSeq
            case _ => Serializer.sparqlJsonBindings(local).collect().map(_.getString(0)).toSeq
          }
          out.map(_.length).sum
        }
        rows.length
      }
      val d = p.since(m, t0, System.currentTimeMillis())
      val vals = Map(
        "sparql.parse_ms" -> t("parse"), "sparql.compile_ms" -> t("compile"),
        "rdf.serialize_ms" -> t("serialize"), "materialize_ms" -> t("materialize"),
        "result_rows" -> resultRows.toDouble) ++
        Seq("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
          "spark.jobs", "spark.job_ms", "spark.driver_gap_ms", "spark.input_rows")
          .map(k => k -> d.getOrElse(k, 0.0))
      report.addOp(q.template, vals)
      vals.foreach { case (k, v) => sums(k) += v }
    }
    val n = picked.size.toDouble
    Seq("sparql.parse_ms", "sparql.compile_ms", "rdf.serialize_ms", "catalyst.analysis_ms",
      "catalyst.optimization_ms", "catalyst.planning_ms", "spark.driver_gap_ms")
      .foreach(k => report.layers(k) = sums(k) / n)
    report.layers("spark.input_rows_per_result_row") =
      sums("spark.input_rows") / math.max(1.0, sums("result_rows"))
  }

  /** Store-layer timings from outside the server, on its namespace
    * directory once the server has stopped: a fresh connection and its
    * first scan, then one compaction cycle of `Repository.update`
    * commits (the writer's update shape) and the compaction. */
  private def storeLayers(ns: Path): Unit = {
    val L = report.layers
    var op = 1000L
    def ms(name: String)(body: => Any): Double = {
      op += 1
      val t0 = System.nanoTime(); spans(op, name, "store")(body); (System.nanoTime() - t0) / 1e6
    }
    val repo = Repository.open(spark, ns.toString)
    var conn: Graft = null
    L("rdf.connection_ms") = ms("connection") { conn = repo.connection() }
    L("rdf.merge_view_ms") =
      ms("merge_view")(conn.store.quads.write.format("noop").mode("overwrite").save())
    val before = dirBytes(ns)
    val commits = (0 until CompactEvery).map(i => updateText(1000000 + i))
    L("rdf.commit_ms") = commits.map(c => ms("commit")(repo.update(c._1))).sum / commits.size
    L("rdf.compact_ms") = ms("compact")(repo.compact())
    val written = dirBytes(ns) - before
    L("rdf.bytes_written") = written.toDouble / commits.size
    if (!writer) {
      // the HTTP writer of serve_write measures these under load instead
      L("write_amp") = written.toDouble / commits.map(_._2).sum
      L("space_amp") = dirBytes(ns).toDouble / liveNtBytes(repo.connection())
    }
  }

  /** N-Triples size of a handle's live triples. */
  private def liveNtBytes(g: Graft): Long =
    Serializer.toNTriples(g.store.quads).agg(sum(length(col("value")) + 1)).head().getLong(0)
}
