package perfbench

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.catalog.GraftCatalog
import graft.ingest.{ColumnarBatch, DirectParquetWriter, DurableIngester, LineProtocol, MsgPack, Wal}
import graft.jobs.Compaction
import graft.query.{ArrowEncoder, MsgPackEncoder}
import graft.server.HttpServer

/** `serve_mixed`: the deployment shape, writes beside dashboard reads
  * over loopback HTTP against an in-process `HttpServer`.
  *
  * Server: buffered ingest with the `ServeMain` flush policy (WAL
  * `SyncEvery`, 500 ms flush tick, 200k-row flush threshold), FAIR
  * scheduling, data root inside the run's scratch directory.
  *
  * Load: four threads, one connection each, all open loop:
  *  - a writer every 250 ms, alternating 4000 msgpack rows to `hot_mp`
  *    and 2000 line-protocol rows to `hot_lp`;
  *  - two dashboard readers, each every 1200 ms and half a period apart,
  *    rotating a `time_bucket(1m)` grouped by host and a
  *    last-value-per-host query over the hot measurements and the
  *    compacted `cold` one;
  *  - a probe reader every 500 ms, alternating `max(time)` freshness
  *    probes of the two hot measurements, with every sixth slot a
  *    100k-row `LIMIT` drain of `cold` in JSON, Arrow or msgpack.
  * On four cores these rates keep the server about half busy, with room
  * for a burst of CPU steal; at twice the dashboard rate a reader falls
  * behind its own schedule and never catches up.
  *
  * The latency figure is freshness: from a write's 204 to the first probe
  * that returns its rows, the geometric mean of the two hot measurements'
  * medians. It spans the flush, the parquet write, the view refresh and a
  * query. The dashboard latencies are per-layer figures: with about seven
  * samples per query kind in a run they spread too widely on a shared
  * four-core host to carry a regression bound.
  *
  * Set-up writes `cold` as 12 small hourly files through the msgpack
  * endpoint, flushes, and compacts it with `Compaction.runHourly` under a
  * fixed `nowMicros`; then it runs every request kind once, untimed.
  */
object ServeMixed {
  private val Db = "default"
  private val Hosts = 16
  private val MpRows = 4000
  private val LpRows = 2000
  private val WriteEveryMs = 250L // one writer, alternating hot_mp and hot_lp
  private val DashEveryMs = 1200L // per dashboard reader
  private val ProbeEveryMs = 500L
  private val ColdHours = 2
  private val ColdFilesPerHour = 6
  private val ColdRowsPerFile = 10000
  private val DrainRows = 100000
  private val HourUs = 3600L * 1000000L
  private val ColdBaseUs = 1717200000000000L // 2024-06-01T00:00:00Z
  private val HotBaseUs = ColdBaseUs + 24 * HourUs
  private val HotStepUs = 10000L

  private def bucket(m: String) =
    s"SELECT time_bucket(INTERVAL '1' MINUTE, time) AS t, host, avg(value) AS v, count(*) AS n FROM $m GROUP BY 1, 2"
  private def last(m: String) =
    s"SELECT host, max_by(value, time) AS v, max(time) AS t FROM $m GROUP BY host"
  private def probe(m: String) = s"SELECT unix_micros(max(time)) AS t FROM $m"
  private def count(m: String) = s"SELECT count(*) AS n FROM $m"
  private val Drain = s"SELECT time, host, value FROM cold LIMIT $DrainRows"

  /** Dashboard mix: (is the measurement hot, sql). */
  private val Dashboard = Seq(true -> bucket("hot_mp"), true -> last("hot_lp"),
    false -> bucket("cold"), false -> last("cold"))
  private val Formats = Seq("json" -> "application/json",
    "arrow" -> "application/vnd.apache.arrow.stream", "msgpack" -> "application/x-msgpack")

  /** Check queries over `cold` whose columns render the same from JSON and
    * from Spark rows. */
  private val ColdChecks = Seq(
    s"SELECT unix_micros(time_bucket(INTERVAL '1' MINUTE, time)) AS t, host, round(avg(value), 6) AS v, count(*) AS n FROM cold GROUP BY 1, 2",
    s"SELECT host, max_by(value, time) AS v, unix_micros(max(time)) AS t FROM cold GROUP BY host")

  private final case class Payload(measurement: String, body: Array[Byte],
      rows: Int, maxTimeUs: Long, lp: Boolean)
  private final case class Ack(measurement: String, ackUs: Long, maxTimeUs: Long)
  private final case class Probe(measurement: String, sentUs: Long, doneUs: Long, visibleUs: Long)
  private final case class Request(hot: Boolean, sql: String, ex: Exchange, dueNanos: Long, queryId: Long)

  private val mapper = new ObjectMapper()

  private def msgpack(m: String, times: Array[Long], hosts: Array[String], values: Array[Double]): Array[Byte] = {
    val out = new ByteArrayOutputStream(times.length * 24)
    val p = new MsgPackEncoder.Packer(out)
    p.packMapHeader(2); p.packString("m"); p.packString(m)
    p.packString("columns"); p.packMapHeader(3)
    p.packString("time"); p.packArrayHeader(times.length); times.foreach(p.packLong)
    p.packString("host"); p.packArrayHeader(hosts.length); hosts.foreach(p.packString)
    p.packString("value"); p.packArrayHeader(values.length); values.foreach(p.packDouble)
    out.toByteArray
  }

  private def lineProtocol(m: String, times: Array[Long], hosts: Array[String], values: Array[Double]): Array[Byte] = {
    val sb = new StringBuilder(times.length * 48)
    times.indices.foreach { i =>
      sb ++= m ++= ",host=" ++= hosts(i) ++= " value=" ++= values(i).toString ++= " " ++= (times(i) * 1000L).toString += '\n'
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Rows `first until first + n` of a measurement: times step from `baseUs`. */
  private def rows(rnd: scala.util.Random, baseUs: Long, stepUs: Long, first: Long, n: Int) = {
    val times = Array.tabulate(n)(j => baseUs + (first + j) * stepUs)
    val hosts = Array.tabulate(n)(j => f"host-${((first + j) % Hosts).toInt}%02d")
    val values = Array.fill(n)(math.rint((50.0 + 10.0 * rnd.nextGaussian()) * 1000.0) / 1000.0)
    (times, hosts, values)
  }

  private def hotPayloads(rnd: scala.util.Random, m: String, n: Int, rowsEach: Int, lp: Boolean): IndexedSeq[Payload] =
    (0 until n).map { i =>
      val (t, h, v) = rows(rnd, HotBaseUs, HotStepUs, i.toLong * rowsEach, rowsEach)
      val body = if (lp) lineProtocol(m, t, h, v) else msgpack(m, t, h, v)
      Payload(m, body, rowsEach, t.last, lp)
    }

  private def post(c: HttpConn, p: Payload): Exchange =
    if (p.lp) c.post("/write?db=default&precision=ns", p.body)
    else c.post("/api/v1/write/msgpack", p.body)

  private def query(c: HttpConn, sql: String, accept: String = "application/json"): Exchange =
    c.post("/api/v1/query", HttpConn.json(sql), Map("Accept" -> accept))

  private def jsonRows(ex: Exchange): Seq[Seq[JsonNode]] = {
    val data = mapper.readTree(ex.body).get("data")
    data.elements().asScala.map(_.elements().asScala.toSeq).toSeq
  }

  private def renderJson(n: JsonNode): String =
    if (n.isNull) "null"
    else if (n.isIntegralNumber) n.asLong().toString
    else if (n.isNumber) Digest.render(n.asDouble())
    else n.asText()

  private def treeFiles(dir: Path, suffix: String = ".parquet"): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix)).toSeq
      finally s.close()
    }

  def run(bench: Bench): RunResult = {
    val args = bench.args
    val r = bench.result
    val rnd = new scala.util.Random(args.seed)
    val spark = bench.session("spark.scheduler.mode" -> "FAIR")
    val root = args.work.resolve("serve-data")
    val server = new HttpServer(spark, root.toString)
    server.enableBufferedIngest(args.work.resolve("serve-wal").toFile,
      flushRows = 200000, flushMillis = 500L, syncMode = Wal.SyncEvery)
    val port = server.start()
    val setupConn = new HttpConn(port)
    def must(ex: Exchange, what: String): Exchange = {
      if (ex.status / 100 != 2) throw new IllegalStateException(
        s"$what answered ${ex.status}: ${new String(ex.body, UTF_8).take(300)}")
      ex
    }

    // cold: many small hourly files, then compaction under a fixed clock
    for (h <- 0 until ColdHours; f <- 0 until ColdFilesPerHour) {
      val first = f.toLong * ColdRowsPerFile
      val step = HourUs / (ColdFilesPerHour * ColdRowsPerFile)
      val (t, hs, v) = rows(rnd, ColdBaseUs + h * HourUs + f * step, ColdFilesPerHour * step, 0L, ColdRowsPerFile)
      must(setupConn.post("/api/v1/write/msgpack", msgpack("cold", t, hs, v)), "cold preload")
    }
    val nWrites = (args.seconds * 1000L / (2 * WriteEveryMs)).toInt + 2
    val mp = hotPayloads(rnd, "hot_mp", nWrites + 1, MpRows, lp = false)
    val lp = hotPayloads(rnd, "hot_lp", nWrites + 1, LpRows, lp = true)
    must(post(setupConn, mp.head), "hot_mp seed write")
    must(post(setupConn, lp.head), "hot_lp seed write")
    must(setupConn.post("/api/v1/write/line-protocol/flush", Array.emptyByteArray), "flush")
    val coldDir = root.resolve(Db).resolve("cold")
    val coldFilesBefore = treeFiles(coldDir).size
    val compactT0 = System.nanoTime()
    val compacted = Compaction.runHourly(server.catalog, Db, "cold",
      nowMicros = () => ColdBaseUs + (ColdHours + 2) * HourUs, parallelism = args.cpus)
    val compactMs = (System.nanoTime() - compactT0) / 1e6
    val coldFilesAfter = treeFiles(coldDir)
    bench.setLayer("jobs.compact_ms", compactMs)
    bench.setLayer("jobs.compact_files_in", compacted.map(_.filesIn).sum.toDouble)
    bench.setLayer("jobs.compact_files_out", coldFilesAfter.size.toDouble)
    bench.setLayer("jobs.compact_bytes_rewritten", coldFilesAfter.map(Files.size).sum.toDouble)
    System.err.println(f"[perfbench] serve: cold $coldFilesBefore files compacted to ${coldFilesAfter.size} in $compactMs%.0f ms")

    // untimed warm-up of every request kind
    (Dashboard.map(_._2) ++ Seq(probe("hot_mp"), probe("hot_lp"))).foreach(q => must(query(setupConn, q), q))
    Formats.foreach { case (_, accept) => must(query(setupConn, Drain, accept), "drain") }
    setupConn.close()
    val setupS = bench.sinceStartS()

    // measured phase
    val acks = new ConcurrentLinkedQueue[Ack]()
    val probes = new ConcurrentLinkedQueue[Probe]()
    val requests = new ConcurrentLinkedQueue[Request]()
    val drains = new ConcurrentLinkedQueue[Long]() // drain wall micros
    val writeMs = new ConcurrentLinkedQueue[Double]()
    val acked = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val ackedBodies = new ConcurrentLinkedQueue[Payload]()
    Seq("hot_mp", "hot_lp").foreach(m => acked.put(m, 0L))
    val failures = new java.util.concurrent.atomic.AtomicLong
    def failed(what: String): Boolean = { failures.incrementAndGet(); System.err.println(s"[perfbench] $what"); false }

    bench.beginMeasured()
    val start = System.nanoTime() + 50000000L
    val end = start + args.seconds * 1000000000L
    // the loops start at staggered offsets so their requests do not all
    // fall due at the same instant
    val ms = 1000000L
    val writer: () => Seq[OpenLoop.Sample] = () => {
      val c = new HttpConn(port)
      try new OpenLoop(WriteEveryMs * ms).run(start, end) { i =>
        val p = (if (i % 2 == 0) mp else lp)(i / 2 + 1)
        val ex = post(c, p)
        if (ex.status == 204) {
          acks.add(Ack(p.measurement, ex.lastByteUs, p.maxTimeUs))
          acked.merge(p.measurement, p.rows.toLong, (a, b) => a + b)
          ackedBodies.add(p)
          true
        } else failed(s"write to ${p.measurement} answered ${ex.status}")
      } finally c.close()
    }
    // two dashboard readers, half a period apart, each rotating the four
    // dashboard queries from a different one
    def dashboard(offsetMs: Long, firstKind: Int): () => Seq[OpenLoop.Sample] = () => {
      val c = new HttpConn(port)
      val first = start + offsetMs * ms
      try new OpenLoop(DashEveryMs * ms).run(first, end) { i =>
        val (hot, sql) = Dashboard((i + firstKind) % Dashboard.size)
        val ex = query(c, sql)
        requests.add(Request(hot, sql, ex, first + i * DashEveryMs * ms,
          ex.headers.get("x-graft-query-id").map(_.toLong).getOrElse(-1L)))
        ex.status == 200 || failed(s"dashboard query answered ${ex.status}")
      } finally c.close()
    }
    // freshness probes of the two hot measurements in turn; every sixth
    // slot is a drain instead, cycling through the wire formats
    val prober: () => Seq[OpenLoop.Sample] = () => {
      val c = new HttpConn(port)
      try new OpenLoop(ProbeEveryMs * ms).run(start + ProbeEveryMs * ms / 2, end) { i =>
        if (i % 6 == 5) {
          val (fmt, accept) = Formats((i / 6) % Formats.size)
          val ex = query(c, Drain, accept)
          val ok = ex.status == 200 && (fmt != "json" ||
            mapper.readTree(ex.body).get("row_count").asLong() == DrainRows)
          if (ok) drains.add(ex.lastByteUs - ex.sentUs)
          ok || failed(s"$fmt drain answered ${ex.status}")
        } else {
          val m = if (i % 2 == 1) "hot_lp" else "hot_mp"
          val ex = query(c, probe(m))
          if (ex.status != 200) failed(s"probe answered ${ex.status}")
          else {
            val t = jsonRows(ex).headOption.flatMap(_.headOption).filterNot(_.isNull).map(_.asLong()).getOrElse(0L)
            probes.add(Probe(m, ex.sentUs, ex.lastByteUs, t))
            true
          }
        }
      } finally c.close()
    }
    val loops = Seq(writer, dashboard(DashEveryMs / 4, 0), dashboard(DashEveryMs * 3 / 4, 2), prober)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(loops.size)
    val samples =
      try loops.map(l => pool.submit(() => l())).map(_.get())
      finally pool.shutdown()
    samples.head.foreach(s => writeMs.add(s.latencyMs))
    val ops = samples.map(_.size).sum
    r.attempted += ops
    r.failed += failures.get
    bench.endMeasured(ops)

    // end-to-end and per-request figures
    val reqs = requests.asScala.toSeq.filter(_.ex.status == 200)
    def latency(q: Request): Double = (q.ex.lastByteUs - Clock.nanosToMicros(q.dueNanos)) / 1e3
    val hotMs = reqs.filter(_.hot).map(latency)
    val coldMs = reqs.filterNot(_.hot).map(latency)
    val ackSeq = acks.asScala.toSeq
    val probeSeq = probes.asScala.toSeq.sortBy(_.sentUs)
    def freshness(m: String): Seq[Double] = ackSeq.filter(_.measurement == m).flatMap { a =>
      probeSeq.find(p => p.measurement == m && p.sentUs >= a.ackUs && p.visibleUs >= a.maxTimeUs)
        .map(p => (p.doneUs - a.ackUs) / 1e3)
    }
    val freshKinds = Seq(freshness("hot_mp"), freshness("hot_lp"))
    val fresh = freshKinds.flatten
    val writes = writeMs.asScala.toSeq
    if (writes.nonEmpty) {
      bench.setLayer("serve.write_p50_ms", Stats.median(writes))
      bench.setLayer("serve.write_tail_ms", Stats.tail(writes).value)
    }
    if (hotMs.nonEmpty) {
      bench.setLayer("serve.query_hot_p50_ms", Stats.median(hotMs))
      bench.setLayer("serve.query_hot_tail_ms", Stats.tail(hotMs).value)
    }
    if (coldMs.nonEmpty) {
      bench.setLayer("serve.query_cold_p50_ms", Stats.median(coldMs))
      bench.setLayer("serve.query_cold_tail_ms", Stats.tail(coldMs).value)
    }
    val drainRate = if (drains.isEmpty) 0.0 else drains.size * DrainRows / (drains.asScala.sum / 1e6)
    bench.setLayer("serve.drain_rows_per_s", drainRate)
    if (fresh.nonEmpty) bench.setLayer("serve.fresh_p50_ms", Stats.median(fresh))
    bench.setLayer("gen.late_ms", Stats.tail(samples.flatten.map(_.lateMs)).value)
    System.err.println(f"[perfbench] serve: ${writes.size} writes p50 ${if (writes.isEmpty) 0.0 else Stats.median(writes)}%.1f ms, " +
      f"hot ${hotMs.size} p50 ${if (hotMs.isEmpty) 0.0 else Stats.median(hotMs)}%.0f ms, cold ${coldMs.size} p50 ${if (coldMs.isEmpty) 0.0 else Stats.median(coldMs)}%.0f ms, ${drains.size} drains at $drainRate%.0f rows/s, " +
      f"fresh p50 ${if (fresh.isEmpty) 0.0 else Stats.median(fresh)}%.0f ms over ${fresh.size} writes")

    // request spans: the client wall, split into server work before the
    // first byte and streaming after it; the query's Spark jobs are its
    // children, and the rest of the wall is the server's own time
    val ttfb = reqs.map(q => (q.ex.firstByteUs - q.ex.sentUs) / 1e3)
    val stream = reqs.map(q => (q.ex.lastByteUs - q.ex.firstByteUs) / 1e3)
    val self = reqs.map { q =>
      val wall = Span(bench.tracer.record("http.query", q.ex.sentUs, q.ex.lastByteUs, request = q.queryId),
        "http.query", q.ex.sentUs, q.ex.lastByteUs, 0L, q.queryId)
      val jobs = bench.sparkStats.groupJobs.get(s"graft-query-${q.queryId}").map(_.asScala.toSeq).getOrElse(Nil)
      val children = jobs.map { case (s, e) =>
        val (s1, e1) = (s.max(wall.startUs), e.min(wall.endUs))
        Span(bench.tracer.record("spark.job", s1, e1, wall.id, q.queryId), "spark.job", s1, e1, wall.id, q.queryId)
      }
      Tracer.selfMicros(wall, children) / 1e3
    }
    if (reqs.nonEmpty) {
      bench.setLayer("server.ttfb_ms", Stats.median(ttfb))
      bench.setLayer("server.stream_ms", Stats.median(stream))
      bench.setLayer("server.self_ms", Stats.median(self))
    }

    // correctness: no lost or phantom writes, cold answers equal a direct read
    val checkConn = new HttpConn(port)
    must(checkConn.post("/api/v1/write/line-protocol/flush", Array.emptyByteArray), "final flush")
    Seq("hot_mp" -> MpRows, "hot_lp" -> LpRows).foreach { case (m, seedRows) =>
      r.attempted += 1
      val want = acked.get(m) + seedRows
      val got = jsonRows(must(query(checkConn, count(m)), s"count $m")).head.head.asLong()
      if (got != want) { r.failed += 1; r.fail(s"$m holds $got rows, $want were acknowledged") }
    }
    val direct = spark.newSession()
    graft.GraftFunctions.registerAll(direct)
    direct.read.option("mergeSchema", "true").parquet(coldDir.toString).createOrReplaceTempView("cold")
    ColdChecks.foreach { sql =>
      r.attempted += 1
      val viaHttp = jsonRows(must(query(checkConn, sql), sql)).map(_.map(renderJson).mkString("|"))
      val viaSpark = direct.sql(sql).collect().toSeq.map(_.toSeq.map(Digest.render).mkString("|"))
      if (viaHttp.size != viaSpark.size || Digest.ofRendered(viaHttp) != Digest.ofRendered(viaSpark)) {
        r.failed += 1
        r.fail(s"cold answer over HTTP (${viaHttp.size} rows) differs from a direct read (${viaSpark.size} rows): $sql")
      }
    }
    checkConn.close()

    // per-layer replays, in a traced run only
    if (args.trace) {
      val hotFiles = Seq("hot_mp", "hot_lp").flatMap(m => treeFiles(root.resolve(Db).resolve(m)))
      val inputBytes = (ackedBodies.asScala.toSeq ++ Seq(mp.head, lp.head)).map(_.body.length.toLong).sum
      val storedRows = acked.get("hot_mp") + acked.get("hot_lp") + MpRows + LpRows
      bench.setLayer("ingest.files_written", hotFiles.size.toDouble)
      bench.setLayer("ingest.rows_per_file", storedRows.toDouble / hotFiles.size.max(1))
      bench.setLayer("ingest.stored_bytes_per_input_byte", hotFiles.map(Files.size).sum.toDouble / inputBytes.max(1L))
      replayIngest(bench, server, ackedBodies.asScala.toSeq)
      replayCatalog(bench, server, root)
      replayEncoders(bench, server)
    }
    server.stop()
    val lat = bench.endToEnd(setupS, freshKinds, drainRate)
    bench.finish(primaryMs = lat)
  }

  /** Every acknowledged body again through the ingest layer's public
    * functions, each call a span, into a scratch catalog. */
  private def replayIngest(bench: Bench, server: HttpServer, bodies: Seq[Payload]): Unit = {
    val t = bench.tracer
    val scratch = bench.args.work.resolve("replay")
    val cat = new GraftCatalog(server.spark, scratch.resolve("data").toString)
    val ing = new DurableIngester(cat, scratch.resolve("wal").toFile, Wal.SyncEvery, flushRows = Int.MaxValue)
    def ms(name: String): Double = {
      val s = t.named(name); if (s.isEmpty) 0.0 else Stats.median(s.map(_.durationUs / 1e3))
    }
    bodies.zipWithIndex.foreach { case (p, i) =>
      val batches =
        if (p.lp) {
          val ((points, _), _) = t.span("ingest.lp_parse")(LineProtocol.parse(new String(p.body, UTF_8), "ns"))
          val (bs, _) = t.span("ingest.pivot")(ColumnarBatch.fromPoints(points))
          t.span("ingest.wal_accept")(ing.acceptDecoded(Db, bs))
          bs
        } else {
          val (bs, _) = t.span("ingest.msgpack_decode")(MsgPack.decodePayload(p.body))
          t.span("ingest.wal_accept")(ing.acceptRaw(Db, p.body, bs))
          bs
        }
      batches.foreach(b => t.span("ingest.parquet_write")(DirectParquetWriter.write(cat, "direct", b)))
      // one flush per 500 ms tick: two acknowledged bodies at 4 writes/s
      if (i % 2 == 1) t.span("ingest.flush")(ing.flush())
    }
    Seq("lp_parse", "pivot", "msgpack_decode", "wal_accept", "flush", "parquet_write")
      .foreach(n => bench.setLayer(s"ingest.${n}_ms", ms(s"ingest.$n")))
  }

  /** One view refresh over the run's file tree: list the measurements and
    * register each, as the server does after a flush invalidates a view. */
  private def replayCatalog(bench: Bench, server: HttpServer, root: Path): Unit = {
    val cat = new GraftCatalog(server.spark.newSession(), root.toString)
    val (_, span) = bench.tracer.span("catalog.refresh")(cat.listTables(Db).foreach(m => cat.register(Db, m)))
    bench.setLayer("catalog.refresh_ms", span.durationUs / 1e3)
    bench.setLayer("catalog.files_listed", treeFiles(root.resolve(Db)).size.toDouble)
  }

  private final class Counting extends OutputStream {
    var bytes = 0L
    override def write(b: Int): Unit = bytes += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes += len
  }

  /** The drain's result through each wire encoder into a counting sink. */
  private def replayEncoders(bench: Bench, server: HttpServer): Unit = {
    val df = server.dbSession(Db).sql(Drain)
    val encoders = Seq[(String, OutputStream => Long)](
      "json" -> (o => server.facade.writeJsonEnvelope(df, o)),
      "arrow" -> (o => ArrowEncoder.writeStream(df, o)),
      "msgpack" -> (o => MsgPackEncoder.writeStream(df, o)))
    encoders.foreach { case (fmt, enc) =>
      val sink = new Counting
      val (rows, span) = bench.tracer.span(s"query.${fmt}_encode")(enc(sink))
      bench.setLayer(s"query.${fmt}_encode_ms", span.durationUs / 1e3)
      bench.setLayer(s"query.${fmt}_bytes_per_row", sink.bytes.toDouble / rows.max(1L))
    }
  }
}
