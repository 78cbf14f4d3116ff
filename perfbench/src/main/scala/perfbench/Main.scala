package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.HarnessSession
import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, data: Path, cpus: Int, expected: Path,
    baselineMs: Option[Double])

/** What a workload hands back: correctness, operation counts and metrics
  * in the order they are printed. */
final class RunResult {
  var correct = true
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Record a failed check; the run then exits non-zero. */
  def fail(what: String): Unit = {
    correct = false
    System.err.println(s"[perfbench] CHECK FAILED: $what")
  }

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": ${attempted.max(1L)}, "failed": $failed, "metrics": $ms}"""
  }
}

/** Per-layer metrics every workload reports in a traced run. A workload
  * that does not use a layer reports zero for it. */
object Layers {
  val Families: Seq[String] = Seq("agg", "dedup", "extra", "function", "join",
    "misc", "reshape", "retrieval", "sample", "sortset", "sql", "text",
    "timeseries", "vector", "window")

  val All: Seq[(String, String)] = Seq(
    "host.cpu_steal_ms" -> "ms", "host.cpu_pressure_pct" -> "%",
    "jvm.gc_ms" -> "ms", "jvm.alloc_mb" -> "MB", "jvm.jit_cpu_ms" -> "ms",
    "gen.late_ms" -> "ms", "trace.overhead_ratio" -> "ratio",
    "op.p50_ms" -> "ms", "op.tail_ms" -> "ms", "op.samples" -> "count",
    "op.tail_pct" -> "%", "op.throughput_per_s" -> "1/s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "spark.codegen_compile_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms", "plan.files_scanned" -> "count",
    "plan.files_pruned" -> "count",
    "server.ttfb_ms" -> "ms", "server.stream_ms" -> "ms", "server.self_ms" -> "ms",
    "serve.write_p50_ms" -> "ms", "serve.write_tail_ms" -> "ms",
    "serve.query_hot_p50_ms" -> "ms", "serve.query_hot_tail_ms" -> "ms",
    "serve.query_cold_p50_ms" -> "ms", "serve.query_cold_tail_ms" -> "ms",
    "serve.drain_rows_per_s" -> "1/s", "serve.fresh_p50_ms" -> "ms",
    "ingest.lp_parse_ms" -> "ms", "ingest.pivot_ms" -> "ms",
    "ingest.msgpack_decode_ms" -> "ms", "ingest.wal_accept_ms" -> "ms",
    "ingest.flush_ms" -> "ms", "ingest.parquet_write_ms" -> "ms",
    "ingest.files_written" -> "count", "ingest.rows_per_file" -> "count",
    "ingest.stored_bytes_per_input_byte" -> "ratio",
    "catalog.refresh_ms" -> "ms", "catalog.files_listed" -> "count",
    "query.json_encode_ms" -> "ms", "query.arrow_encode_ms" -> "ms",
    "query.msgpack_encode_ms" -> "ms", "query.json_bytes_per_row" -> "bytes",
    "query.arrow_bytes_per_row" -> "bytes", "query.msgpack_bytes_per_row" -> "bytes",
    "jobs.compact_ms" -> "ms", "jobs.compact_files_in" -> "count",
    "jobs.compact_files_out" -> "count", "jobs.compact_bytes_rewritten" -> "bytes",
    "analytics.suite_s" -> "s", "analytics.query_geomean_ms" -> "ms",
  ) ++ Families.map(f => s"suite.${f}_s" -> "s") ++ Seq(
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.trigger_ms" -> "ms", "stream.state_rows" -> "count",
    "stream.state_memory_bytes" -> "bytes", "stream.state_commit_ms" -> "ms",
    "stream.tasks_per_batch" -> "count", "stream.backlog_rows" -> "count",
  )
}

/** State every workload shares: the session, the tracer and the listeners
  * that are attached only in a traced run. */
final class Bench(val args: RunArgs) {
  val result = new RunResult
  val tracer = new Tracer
  val sparkStats = new SparkStats
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private var phaseMark: Option[(HostNoise.Mark, Long, Long, Long, Long)] = None
  private var cpuPerOpMs = 0.0

  def setLayer(name: String, value: Double): Unit = {
    require(Layers.All.exists(_._1 == name), s"unknown layer metric $name")
    layer(name) = value
  }

  /** The one session of the run, built through the shared harness. */
  def session(extra: (String, String)*): SparkSession = {
    val b = HarnessSession.builder(args.cpus.toString)
      .appName(s"perfbench-${args.workload}")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    if (args.trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.trace) spark.sparkContext.addSparkListener(sparkStats)
    spark
  }

  /** Seconds from JVM start to now: the set-up time of a run. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private val sparkCounters = Seq[(String, SparkStats => Double)](
    "spark.jobs" -> (_.jobs.sum.toDouble), "spark.stages" -> (_.stages.sum.toDouble),
    "spark.tasks" -> (_.tasks.sum.toDouble), "spark.task_run_ms" -> (_.taskRunMs.sum.toDouble),
    "spark.task_cpu_ms" -> (_.taskCpuNs.sum / 1e6),
    "spark.scheduler_delay_ms" -> (_.schedulerDelayMs.sum.toDouble),
    "spark.shuffle_write_bytes" -> (_.shuffleWriteBytes.sum.toDouble),
    "spark.shuffle_read_bytes" -> (_.shuffleReadBytes.sum.toDouble),
    "spark.spill_bytes" -> (_.spillBytes.sum.toDouble),
    "spark.input_bytes" -> (_.inputBytes.sum.toDouble), "spark.gc_ms" -> (_.gcMs.sum.toDouble))
  private var sparkAtStart: Map[String, Double] = Map.empty
  private var planAtStart: Seq[Long] = Nil
  private var codegenAtStart = 0.0

  private def planCounters: Seq[Long] = Seq(PlanListener.queries, PlanListener.analysisMs,
    PlanListener.optimizationMs, PlanListener.planningMs, PlanListener.filesScanned,
    PlanListener.filesPruned).map(_.sum)

  /** Codegen compile time so far: Spark keeps a histogram of compile
    * times; count times mean is the total. */
  private def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  /** Start of the measured phase: marks host noise and counter baselines. */
  def beginMeasured(): Unit = {
    phaseMark = Some((HostNoise.mark(), Jvm.gcMs(), Jvm.allocatedBytes(), Jvm.cpuNanos(), Jvm.jitCpuNanos()))
    sparkAtStart = sparkCounters.map { case (k, f) => k -> f(sparkStats) }.toMap
    planAtStart = planCounters
    codegenAtStart = codegenMs()
  }

  /** End of the measured phase; `ops` normalises CPU time, Spark and plan
    * counters to one measured operation. The CPU time leaves out the JIT
    * compiler threads: a JVM this young is still compiling, and how much
    * depends on timing, not on the work measured. */
  def endMeasured(ops: Long): Unit = {
    val (m0, gc0, alloc0, cpu0, jit0) = phaseMark.getOrElse(
      throw new IllegalStateException("endMeasured before beginMeasured"))
    val jitNs = Jvm.jitCpuNanos() - jit0
    cpuPerOpMs = (Jvm.cpuNanos() - cpu0 - jitNs) / 1e6 / ops.max(1L)
    setLayer("jvm.jit_cpu_ms", jitNs / 1e6)
    val (steal, pressure) = HostNoise.between(m0, HostNoise.mark())
    System.err.println(f"[perfbench] host noise over the measured phase: steal $steal%.0f ms, cpu pressure $pressure%.1f%%")
    setLayer("host.cpu_steal_ms", steal)
    setLayer("host.cpu_pressure_pct", pressure)
    setLayer("jvm.gc_ms", (Jvm.gcMs() - gc0).toDouble)
    setLayer("jvm.alloc_mb", ((Jvm.allocatedBytes() - alloc0).max(0L)) / 1e6)
    val per = ops.max(1L).toDouble
    sparkCounters.foreach { case (k, f) => setLayer(k, (f(sparkStats) - sparkAtStart(k)) / per) }
    setLayer("spark.codegen_compile_ms", (codegenMs() - codegenAtStart) / per)
    val plan = planCounters.zip(planAtStart).map { case (a, b) => (a - b).toDouble }
    val execs = plan.head.max(1.0)
    setLayer("plan.analysis_ms", plan(1) / execs)
    setLayer("plan.optimization_ms", plan(2) / execs)
    setLayer("plan.planning_ms", plan(3) / execs)
    setLayer("plan.files_scanned", plan(4) / execs)
    setLayer("plan.files_pruned", plan(5) / execs)
  }

  /** The end-to-end metrics every workload reports. `kinds` holds the
    * latency samples of each kind of user-facing operation; the latency
    * figure is the geometric mean of the kinds' medians, which stays put
    * when run-to-run noise reorders kinds around a pooled median. CPU time
    * per operation sits beside it, so a change that trades waiting for
    * cores shows on one of the two. */
  def endToEnd(setupS: Double, kinds: Seq[Seq[Double]], throughputPerS: Double): Double = {
    val all = kinds.flatten
    require(all.nonEmpty, "no operation completed in the measured phase")
    val latency = Stats.geomean(kinds.filter(_.nonEmpty).map(Stats.median))
    val t = Stats.tail(all)
    def show(f: Seq[Double] => Double) = kinds.map(k => if (k.isEmpty) "-" else f"${f(k)}%.0f").mkString(" ")
    System.err.println(s"[perfbench] per-kind medians ${show(Stats.median)} ms, means ${show(k => k.sum / k.size)} ms")
    System.err.println(f"[perfbench] ${args.workload}: ${all.size} ops in ${kinds.size} kinds, latency $latency%.2f ms, " +
      f"p50 ${Stats.median(all)}%.2f ms, p${t.pct} ${t.value}%.2f ms, cpu $cpuPerOpMs%.2f ms/op")
    result.put("setup_s", setupS, "s")
    result.put("cpu_ms_per_op", cpuPerOpMs, "ms")
    result.put("live_heap_mb", Jvm.liveHeapMb(), "MB")
    result.put("op.latency_ms", latency, "ms")
    setLayer("op.p50_ms", Stats.median(all))
    setLayer("op.tail_ms", t.value)
    setLayer("op.samples", all.size.toDouble)
    setLayer("op.tail_pct", t.pct)
    setLayer("op.throughput_per_s", throughputPerS)
    latency
  }

  /** Replace the end-to-end metrics with the per-layer ones in a traced
    * run. The overhead ratio compares this run's latency with that of an
    * untraced run of the same tree and seed, which run.py supplies. */
  def finish(primaryMs: Double): RunResult = {
    if (args.trace) {
      args.baselineMs.foreach(base => setLayer("trace.overhead_ratio", primaryMs / base))
      tracer.write(args.work.getParent.resolve("records").resolve(s"${args.workload}-seed${args.seed}-spans.jsonl"))
      val e2e = result.metrics.toSeq
      result.metrics.clear()
      Layers.All.foreach { case (name, unit) => result.put(name, layer.getOrElse(name, 0.0), unit) }
      System.err.println("[perfbench] end-to-end figures of this traced run: " +
        e2e.map { case (k, (v, _)) => f"$k=$v%.4f" }.mkString(" "))
    }
    result
  }
}

object Main {
  private def parse(argv: Array[String]): RunArgs = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    RunArgs(
      workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toInt, trace = need("trace") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      data = Paths.get(m.getOrElse("data", ".")).toAbsolutePath,
      cpus = m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      expected = Paths.get(m.getOrElse("expected", ".")).toAbsolutePath,
      baselineMs = m.get("baseline-ms").map(_.toDouble).filter(_ > 0))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(args.seconds >= 1, "--seconds must be at least 1")
    require(!args.trace || args.baselineMs.nonEmpty, "a traced run needs --baseline-ms from an untraced run")
    Files.createDirectories(args.work)
    val bench = new Bench(args)
    val result =
      try args.workload match {
        case "analytics_sf01" => Analytics.run(bench)
        case "serve_mixed" => ServeMixed.run(bench)
        case "stream_microbatch" => StreamMicrobatch.run(bench)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          System.err.println(s"[perfbench] run aborted: $e")
          System.out.flush()
          Runtime.getRuntime.halt(2)
          throw e
      }
    System.out.println(result.json)
    System.out.flush()
    Runtime.getRuntime.halt(if (result.correct && result.failed == 0) 0 else 1)
  }
}
