package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * recorded here line up with Spark listener timestamps (epoch ms). */
object Clock {
  private val baseMicros = System.currentTimeMillis() * 1000L
  private val baseNanos = System.nanoTime()
  def micros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
  def nanosToMicros(n: Long): Long = baseMicros + (n - baseNanos) / 1000L
}

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for a root); spans of one request share `request`. */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, request: Long) {
  def durationUs: Long = endUs - startUs
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()

  def record(name: String, startUs: Long, endUs: Long,
      parent: Long = 0L, request: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, startUs, endUs, parent, request))
    id
  }

  /** Time `f` as a span; returns the result and the span. */
  def span[A](name: String, parent: Long = 0L, request: Long = 0L)(f: => A): (A, Span) = {
    val s = Clock.micros()
    val r = f
    val e = Clock.micros()
    (r, Span(record(name, s, e, parent, request), name, s, e, parent, request))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs},"parent":${s.parent},"request":${s.request}}"""
    }
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Duration of `s` minus the part of it that its children cover. */
  def selfMicros(s: Span, children: Seq[Span]): Long =
    s.durationUs - Stats.covered(s.startUs, s.endUs, children.map(c => (c.startUs, c.endUs)))
}

/** Spark execution counters, summed over the listener's lifetime, plus
  * the wall intervals of each job group's jobs (the serving facade tags a
  * query's jobs with `graft-query-<id>`). */
final class SparkStats extends SparkListener {
  val jobs, stages, tasks = new LongAdder
  val taskRunMs, taskCpuNs, schedulerDelayMs, gcMs = new LongAdder
  val shuffleWriteBytes, shuffleReadBytes, spillBytes, inputBytes = new LongAdder
  private val jobStart = TrieMap.empty[Int, (Long, String)]
  val groupJobs = TrieMap.empty[String, ConcurrentLinkedQueue[(Long, Long)]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart.put(e.jobId, (e.time, group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, group) =>
      if (group.nonEmpty)
        groupJobs.getOrElseUpdate(group, new ConcurrentLinkedQueue)
          .add((t0 * 1000L, e.time * 1000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.add(m.diskBytesSpilled + m.memoryBytesSpilled)
      inputBytes.add(m.inputMetrics.bytesRead)
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        val overhead = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        schedulerDelayMs.add(overhead.max(0L))
      }
    }
  }
}

/** Catalyst phase times and scan file counts of every executed query.
  * Registered through `spark.sql.queryExecutionListeners`, so it reaches
  * the serving layer's per-database child sessions too. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanListener.observe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanListener extends AdaptiveSparkPlanHelper {
  val queries, analysisMs, optimizationMs, planningMs = new LongAdder
  val filesScanned, filesPruned = new LongAdder

  def observe(qe: QueryExecution): Unit = {
    queries.increment()
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs.add(ms(QueryPlanningTracker.ANALYSIS))
    optimizationMs.add(ms(QueryPlanningTracker.OPTIMIZATION))
    planningMs.add(ms(QueryPlanningTracker.PLANNING))
    collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
      val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      val total = s.relation.location.inputFiles.length.toLong
      filesScanned.add(read)
      filesPruned.add((total - read).max(0L))
    }
  }
}

/** Host noise read from /proc around a measured phase: CPU steal and the
  * share of time some task waited for a CPU. Zero where /proc lacks them. */
object HostNoise {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "US-ASCII"))
    catch { case _: Exception => None }

  /** Cumulative steal time in ms (the 8th value of the `cpu` line). */
  def stealMs(): Long = read("/proc/stat").flatMap { s =>
    s.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+")
      val hz = 100L // USER_HZ on Linux
      if (f.length > 8) f(8).toLong * 1000L / hz else 0L
    }
  }.getOrElse(0L)

  /** Cumulative "some" CPU pressure stall time in microseconds. */
  def pressureUs(): Long = read("/proc/pressure/cpu").flatMap { s =>
    s.linesIterator.find(_.startsWith("some")).flatMap(
      _.split(" ").find(_.startsWith("total=")).map(_.drop(6).toLong))
  }.getOrElse(0L)

  final case class Mark(stealMs: Long, pressureUs: Long, atUs: Long)
  def mark(): Mark = Mark(stealMs(), pressureUs(), Clock.micros())

  /** (steal ms, pressure %) between two marks. */
  def between(a: Mark, b: Mark): (Double, Double) = {
    val wall = (b.atUs - a.atUs).max(1L)
    ((b.stealMs - a.stealMs).toDouble, 100.0 * (b.pressureUs - a.pressureUs) / wall)
  }
}

/** JVM-wide GC time, allocation and old-generation occupancy. */
object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** CPU time the whole JVM has used so far. */
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** CPU time the JIT compiler threads have used so far, from
    * /proc/self/task in clock ticks; 0 where /proc lacks it. The difference
    * of two readings is the compilation CPU between them as long as the
    * compiler threads live as long as the JVM, which run.py ensures with
    * -XX:-UseDynamicNumberOfCompilerThreads. */
  def jitCpuNanos(): Long = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) 0L
    else {
      val s = Files.list(tasks)
      try s.iterator().asScala.map { t =>
        try {
          val stat = new String(Files.readAllBytes(t.resolve("stat")), "US-ASCII")
          val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
          if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) {
            // utime and stime are fields 14 and 15; the split starts at field 3
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
            (f(11).toLong + f(12).toLong) * 10000000L // USER_HZ = 100
          } else 0L
        } catch { case _: Exception => 0L } // the thread ended meanwhile
      }.sum
      finally s.close()
    }
  }

  /** Bytes allocated by live threads since they started. */
  def allocatedBytes(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean if t.isThreadAllocatedMemorySupported =>
      t.getThreadAllocatedBytes(t.getAllThreadIds).filter(_ > 0).sum
    case _ => 0L
  }

  /** Old-generation occupancy in MB after full collections: the least of
    * three, a moment apart, since Spark's context cleaner releases
    * broadcasts and shuffles only after a collection has found them. */
  def liveHeapMb(): Double = {
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def used(): Long =
      if (old.nonEmpty) old.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (1 to 3).map { _ => System.gc(); Thread.sleep(300); System.gc(); used() }.min / 1e6
  }
}
