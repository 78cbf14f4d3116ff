package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.catalog.GraftCatalog
import graft.streaming.{StreamingCq, StreamingHeavyHitters, StreamingNearDup}
import org.apache.spark.sql.{Dataset, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

/** `stream_microbatch`: a generator feeds `MemoryStream` sources closed
  * loop, stamping each `addData` with its creation time and waiting for
  * the batch that takes it to commit before the next add. Every add is
  * then a batch of its own and the engine is never saturated, so a
  * batch's latency and CPU time carry the fixed per-batch cost (the
  * floor) rather than the number of adds a slow batch merges.
  * Three operators take turns, one batch each, all with a zero-delay
  * processing-time trigger:
  *  - `StreamingCq.start`: a 10-second windowed aggregate per host into
  *    hour-partitioned parquet, 500 rows per add;
  *  - `StreamingHeavyHitters.track`: Zipf-like tokens, 2000 per add;
  *  - `StreamingNearDup.pairs`: 100 documents per add, every tenth a copy
  *    of an earlier one.
  * A batch's latency runs from the creation of its rows to its commit.
  * State partitions are the session's shuffle partitions.
  *
  * Set-up starts the three queries and runs `WarmBatches` untimed
  * batches through each, so that the JIT has compiled the batch path.
  */
object StreamMicrobatch {
  private val CqRows = 500
  private val HhRows = 2000
  private val NdDocs = 100
  private val HhK = 64
  private val WarmBatches = 4
  private val EventBaseUs = 1717200000000000L
  private val EventStepUs = 2L * 1000000L // event time per add

  /** Progress of every query, as the engine reports it after a commit. */
  private final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** One operator under test: its source, query and input generator. */
  private final class Stage[T](val name: String, val mem: MemoryStream[T],
      val make: Int => Seq[T]) {
    var query: StreamingQuery = _
    val created = TrieMap.empty[Long, (Long, Long)] // offset -> (created us, cumulative rows)
    val all = new ConcurrentLinkedQueue[T]()
    private var rowsAdded = 0L
    private var adds = 0

    /** Add the next input; inputs are numbered from 0 across set-up and
      * the measured phase. */
    def add(): Unit = {
      val rows = make(adds)
      adds += 1
      val at = Clock.micros()
      val off = mem.addData(rows).asInstanceOf[LongOffset].offset
      rowsAdded += rows.size
      created.put(off, (at, rowsAdded))
      all.addAll(rows.asJava)
    }
  }

  /** A committed batch: latency, trigger time and rows added but not yet
    * committed when it committed (0 while each add is its own batch). */
  private final case class Batch(stage: String, latencyMs: Double, triggerMs: Double, rows: Long,
      backlog: Long, p: StreamingQueryProgress)

  def run(bench: Bench): RunResult = {
    val args = bench.args
    val r = bench.result
    val spark = bench.session()
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val progress = new Progress
    spark.streams.addListener(progress)
    val rnd = new scala.util.Random(args.seed)
    val catalog = new GraftCatalog(spark, args.work.resolve("stream-data").toString)
    def checkpoint(n: String) = args.work.resolve("checkpoints").resolve(n).toString

    // continuous query over (time, host, value)
    val cq = new Stage[(Timestamp, String, Long)]("cq", MemoryStream[(Timestamp, String, Long)], i => {
      val base = EventBaseUs + i.toLong * EventStepUs
      (0 until CqRows).map { j =>
        (new Timestamp((base + j * (EventStepUs / CqRows)) / 1000L), s"host-${j % 8}", rnd.nextInt(1000).toLong)
      }
    })
    cq.query = StreamingCq.start(catalog, "bench", "cq", cq.mem.toDF().toDF("time", "host", "value"),
      "10 seconds", "0 seconds", Seq(count(lit(1)).as("n"), sum("value").as("s"), max("value").as("mx")),
      Seq("host"), checkpoint("cq"), Trigger.ProcessingTime(0L))

    // heavy hitters over Zipf-like tokens
    val summaries = TrieMap.empty[Int, Seq[StreamingHeavyHitters.Hitter]]
    val hh = new Stage[String]("heavy_hitters", MemoryStream[String], _ => (0 until HhRows).map { _ =>
      s"t${math.min((1.0 / math.max(rnd.nextDouble(), 1e-6)).toInt, 100000)}"
    })
    hh.query = StreamingHeavyHitters.track(hh.mem.toDF().toDF("item"), "item", k = HhK)
      .writeStream.outputMode("update").option("checkpointLocation", checkpoint("hh"))
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (ds: Dataset[StreamingHeavyHitters.Hitter], _: Long) =>
        ds.collect().groupBy(_.shard).foreach { case (s, hs) => summaries.put(s, hs.toSeq) }
      }.start()

    // near-duplicate pairs, every tenth document a copy of an earlier one
    val vocab = (0 until 5000).map(i => s"w$i")
    val texts = TrieMap.empty[Long, String]
    val planted = new ConcurrentLinkedQueue[(Long, Long)]()
    val candidates = TrieMap.empty[(Long, Long), Unit]
    val nd = new Stage[(Long, String)]("near_dup", MemoryStream[(Long, String)], i => (0 until NdDocs).map { j =>
      val id = i.toLong * NdDocs + j
      val text =
        if (j % 10 == 9) {
          val orig = id - 1 - rnd.nextInt(j)
          planted.add((orig, id)); texts(orig)
        } else (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      texts.put(id, text)
      (id, text)
    })
    nd.query = StreamingNearDup.pairs(nd.mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 4, maxBucketState = 1000, idleTimeout = null)
      .writeStream.outputMode("append").option("checkpointLocation", checkpoint("nd"))
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (ds: Dataset[StreamingNearDup.Candidate], _: Long) =>
        ds.collect().foreach(c => candidates.put((c.doc1, c.doc2), ()))
      }.start()

    val stages = Seq[Stage[_]](cq, hh, nd)
    stages.foreach(_.add()) // the three first batches run concurrently
    stages.foreach(_.query.processAllAvailable())
    stages.foreach(s => (1 until WarmBatches).foreach { _ => s.add(); s.query.processAllAvailable() })
    val setupS = bench.sinceStartS()

    bench.beginMeasured()
    val tasks0 = bench.sparkStats.tasks.sum
    progress.events.clear()
    // the operators take turns, one batch each, so that a burst of host
    // noise falls on a share of every operator's batches, not on all of one
    val end = System.nanoTime() + args.seconds * 1000000000L
    var adds = 0L
    while (System.nanoTime() < end) {
      val s = stages((adds % stages.size).toInt)
      s.add()
      s.query.processAllAvailable()
      adds += 1
    }
    r.attempted += adds
    val events = progress.events.asScala.toSeq.filter(_.numInputRows > 0)
    val measured = stages.flatMap { s =>
      events.filter(_.id == s.query.id).flatMap { p =>
        s.created.get(p.sources.head.endOffset.trim.toLong).map { case (createdUs, cumRows) =>
          val trigger = p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
          val commitUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L + (trigger * 1000).toLong
          val addedByCommit = s.created.values.filter(_._1 <= commitUs).map(_._2).maxOption.getOrElse(0L)
          Batch(s.name, (commitUs - createdUs) / 1e3, trigger, p.numInputRows, (addedByCommit - cumRows).max(0L), p)
        }
      }
    }
    bench.endMeasured(adds)
    layerFigures(bench, measured, bench.sparkStats.tasks.sum - tasks0)
    System.err.println(f"[perfbench] stream: ${measured.size} batches, ${measured.map(_.rows).sum} rows")

    checkCq(bench, spark, catalog, cq)
    checkHeavyHitters(bench, hh, summaries)
    r.attempted += 1
    val missed = planted.asScala.filterNot(p => candidates.contains(p))
    if (missed.nonEmpty) { r.failed += 1; r.fail(s"near-dup missed ${missed.size} of ${planted.size} planted copies") }
    stages.foreach(_.query.stop())

    val busyS = measured.map(_.triggerMs).sum / 1000.0
    val latency = bench.endToEnd(setupS, stages.map(s => measured.filter(_.stage == s.name).map(_.latencyMs)),
      if (busyS > 0) measured.map(_.rows).sum / busyS else 0.0)
    bench.finish(primaryMs = latency)
  }

  private def layerFigures(bench: Bench, bs: Seq[Batch], tasks: Long): Unit = if (bs.nonEmpty) {
    def med(f: Batch => Double): Double = Stats.median(bs.map(f))
    def phase(k: String): Batch => Double = b => b.p.durationMs.getOrDefault(k, 0L).toDouble
    Seq("latest_offset" -> "latestOffset", "get_batch" -> "getBatch", "query_planning" -> "queryPlanning",
      "add_batch" -> "addBatch", "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets",
      "trigger" -> "triggerExecution").foreach { case (n, k) => bench.setLayer(s"stream.${n}_ms", med(phase(k))) }
    bench.setLayer("stream.state_rows", med(_.p.stateOperators.map(_.numRowsTotal).sum.toDouble))
    bench.setLayer("stream.state_memory_bytes", med(_.p.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
    bench.setLayer("stream.state_commit_ms", med(_.p.stateOperators.map(_.commitTimeMs).sum.toDouble))
    bench.setLayer("stream.tasks_per_batch", tasks.toDouble / bs.size)
    bench.setLayer("stream.backlog_rows", med(_.backlog.toDouble))
  }

  /** Push the watermark past every window, then compare the CQ's output
    * with a batch GROUP BY over the same rows. */
  private def checkCq(bench: Bench, spark: SparkSession, catalog: GraftCatalog,
      cq: Stage[(Timestamp, String, Long)]): Unit = {
    import spark.implicits._
    val r = bench.result
    val input = cq.all.asScala.toSeq
    val far = new Timestamp((EventBaseUs + 1000L * 86400L * 1000000L) / 1000L)
    Seq(1, 2).foreach { _ => cq.mem.addData(Seq((far, "sentinel", 0L))); cq.query.processAllAvailable() }
    r.attempted += 1
    val expected = input.toDF("time", "host", "value")
      .groupBy(window(col("time"), "10 seconds"), col("host"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"), max("value").as("mx"))
      .select(unix_micros(col("window.start")).as("t"), col("host"), col("n"), col("s"), col("mx"))
    val actual = catalog.table("bench", "cq").where(col("host") =!= "sentinel")
      .select(unix_micros(col("time")).as("t"), col("host"), col("n"), col("s"), col("mx"))
    val (e, a) = (expected.collect().toSeq, actual.collect().toSeq)
    if (e.size != a.size || Digest.of(e) != Digest.of(a)) {
      r.failed += 1
      r.fail(s"continuous query wrote ${a.size} windows, a batch GROUP BY gives ${e.size} (or their values differ)")
    }
  }

  /** Every token above the Misra-Gries guarantee threshold is a candidate,
    * and every candidate's counter brackets its exact count. */
  private def checkHeavyHitters(bench: Bench, hh: Stage[String],
      summaries: TrieMap[Int, Seq[StreamingHeavyHitters.Hitter]]): Unit = {
    val r = bench.result
    r.attempted += 1
    val exact = hh.all.asScala.groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    val total = exact.values.sum
    val cands = summaries.values.flatten.toSeq
    val byToken = cands.map(c => c.token -> c).toMap
    val threshold = total / (HhK + 1)
    val missing = exact.filter { case (t, c) => c > threshold && !byToken.contains(t) }
    val wrong = cands.filterNot { c =>
      val e = exact.getOrElse(c.token, 0L)
      c.lower <= e && e <= c.lower + c.shardTotal / (HhK + 1)
    }
    if (missing.nonEmpty || wrong.nonEmpty) {
      r.failed += 1
      r.fail(s"heavy hitters: ${missing.size} tokens above ${threshold} missing, ${wrong.size} counters outside their bound")
    }
  }
}
