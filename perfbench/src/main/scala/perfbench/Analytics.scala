package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{ModelCheckpoint, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `analytics_sf01`: one closed-loop client runs a fixed slice of the
  * `SparkEntry.queries` inventory in process over the generated sf0.1
  * tables. Every result is materialised through the `noop` sink, not
  * `count()`, so Catalyst cannot prune the columns a user receives.
  *
  * The slice is one query per query object that `SparkEntry.queries`
  * unions, each with an oracle and a warm run time of 0.1-1 s on four
  * cores, so a run takes well under a minute while every family is
  * measured. The seed only permutes the order; the tables are the same
  * on every seed.
  *
  * Set-up is the session plus one untimed pass that collects every
  * result and checks its row count and digest, which also fills the
  * codegen, JIT and file-index caches before timing.
  */
object Analytics {

  /** (family, query): one per query object of the inventory. */
  val Slice: Seq[(String, String)] = Seq(
    "agg" -> "q02_agg_distinct",
    "dedup" -> "q64_dedup_exact",
    "extra" -> "q35_like_stack",
    "function" -> "q40_time_bucket",
    "join" -> "q12_join_left",
    "misc" -> "q18_join_asof",
    "reshape" -> "q37_pivot",
    "retrieval" -> "q160_chunk_windows",
    "sample" -> "q165_seqlen_planning",
    "sortset" -> "q31_topk",
    "sql" -> "q50_cte",
    "text" -> "q63_text_fingerprint",
    "timeseries" -> "q93_event_funnel",
    "vector" -> "q72_vector_stats",
    "window" -> "q21_window_lag",
  )

  /** Warm wall time of one pass over the slice on four cores. */
  private val NominalPassS = 4.5

  private def frame(bench: Bench, q: String): DataFrame =
    SparkEntry.queries(q)(SparkSession.active, bench.args.data.toString)

  private def materialise(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(bench: Bench): RunResult = {
    val args = bench.args
    val spark = bench.session()
    val r = bench.result
    val rnd = new scala.util.Random(args.seed)

    check(bench)
    val setupS = bench.sinceStartS()

    bench.beginMeasured()
    // whole passes only, so every query has as many samples as the others;
    // the pass count is fixed from the nominal pass length, not from the
    // clock, so a slow run measures the same work as a fast one
    val passes = math.max(2, math.round(args.seconds / NominalPassS).toInt)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    (0 until passes).foreach { _ =>
      rnd.shuffle(Slice.map(_._2)).foreach { q =>
        r.attempted += 1
        val (ok, ms) = timed(bench, q)
        if (ok) samples(q) = samples.getOrElse(q, Vector.empty) :+ ms
        else r.failed += 1
      }
    }
    val ops = samples.values.map(_.size).sum
    bench.endMeasured(ops)

    val perQuery = Slice.flatMap { case (fam, q) => samples.get(q).map(s => (fam, q, Stats.median(s))) }
    val suiteS = perQuery.map(_._3).sum / 1000.0
    System.err.println(f"[perfbench] analytics: $passes passes, suite $suiteS%.3f s over ${perQuery.size} queries")
    perQuery.foreach { case (fam, q, ms) =>
      bench.setLayer(s"suite.${fam}_s", ms / 1000.0)
      System.err.println(f"[perfbench]   $q%-24s $ms%9.1f ms  (${samples(q).size} runs)")
    }
    bench.setLayer("analytics.suite_s", suiteS)
    if (perQuery.nonEmpty) bench.setLayer("analytics.query_geomean_ms", Stats.geomean(perQuery.map(_._3)))

    val latency = bench.endToEnd(setupS, Slice.flatMap(q => samples.get(q._2)),
      throughputPerS = if (suiteS > 0) perQuery.size / suiteS else 0.0)
    bench.finish(primaryMs = latency)
  }

  private def timed(bench: Bench, q: String): (Boolean, Double) = {
    val spark = SparkSession.active
    val t0 = System.nanoTime()
    val ok =
      try {
        bench.tracer.span(s"query.$q") { materialise(frame(bench, q)) }
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e"); false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    ModelCheckpoint.sweep(spark)
    (ok, ms)
  }

  /** Row count and order-insensitive digest of every query in the slice,
    * against the expected file kept beside the benchmark. */
  private def check(bench: Bench): Unit = {
    val file = bench.args.expected.resolve("analytics_sf01.tsv")
    val spark = SparkSession.active
    // the queries run concurrently here, one per core: this pass is set-up
    // (JIT and codegen warm-up), not a timed figure
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bench.args.cpus)
    val got =
      try Slice.map { case (_, q) =>
        pool.submit { () =>
          SparkSession.setActiveSession(spark)
          val rows = frame(bench, q).collect().toSeq
          q -> (rows.size.toLong, Digest.of(rows))
        }
      }.map(_.get())
      finally pool.shutdown()
    ModelCheckpoint.sweep(spark)
    val expected = Files.readAllLines(file).asScala.filterNot(_.startsWith("#")).map { l =>
      val f = l.split("\t"); f(0) -> (f(1).toLong, f(2))
    }.toMap
    got.foreach { case (q, (n, d)) =>
      bench.result.attempted += 1
      expected.get(q) match {
        case Some((en, ed)) if en == n && ed == d.toString => ()
        case Some((en, ed)) =>
          bench.result.failed += 1
          bench.result.fail(s"$q: got $n rows digest $d, expected $en rows digest $ed")
        case None =>
          bench.result.failed += 1
          bench.result.fail(s"$q: no expected row in $file")
      }
    }
  }
}
