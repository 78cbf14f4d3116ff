package graft.examples

import graft.HarnessSession
import graft.catalog.GraftCatalog
import graft.ingest.HourPartitionedWriter
import graft.jobs.{Compaction, Retention}
import org.apache.spark.sql.functions._

/** Lifecycle jobs at sf1 (round-11 VERDICT #8): ingest the 1 M-row /
  * 30-day events table as a fragmented hour-partitioned engine tree
  * (8 writes → 8 files per hour partition, the shape a day of buffered
  * flushes produces), then run the J1/J2/J4 jobs and pin the
  * invariants the reference's compaction contract documents
  * (README.md:120-123 — 43→1 files per partition):
  *
  *  - hourly compaction: every due partition ends at EXACTLY 1 file,
  *    zero rows lost;
  *  - daily compaction: day-level rewrite keeps the row count and
  *    leaves ≤ filesPerDay files under each day;
  *  - retention: partitions strictly older than the cutoff are gone,
  *    newer ones intact, count preserved on the survivors.
  *
  * Prints one [lifecycle] line per stage with wall time + file counts;
  * the round's SCALE.md records the run.
  */
object LifecycleSf1 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata_sf1")
    val spark = HarnessSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("graft_sf1_cat").toString
    val cat = new GraftCatalog(spark, root)
    val events = spark.read.parquet(s"$dir/events.parquet")
      .withColumnRenamed("ts", "time")
    val total = events.count()

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[lifecycle] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // 8 buffered-flush-shaped writes -> 8 files per hour partition
    timed("ingest 8 slices") {
      (0 until 8).foreach { s =>
        HourPartitionedWriter.write(cat, "default", "events",
          events.where(pmod(col("event_id"), lit(8)) === s))
      }
    }
    def fileStats(): (Int, Int, Long) = {
      val parts = cat.listHourPartitions("default", "events")
      val conf = spark.sparkContext.hadoopConfiguration
      val perPart = parts.map { p =>
        p.getFileSystem(conf).listStatus(p)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }
      (parts.length, perPart.max, cat.table("default", "events").count())
    }
    val (parts0, maxF0, rows0) = fileStats()
    println(s"[lifecycle] pre-compaction: $parts0 hour partitions, " +
      s"max $maxF0 files/partition, $rows0 rows")
    assert(rows0 == total, s"ingest lost rows: $rows0 != $total")

    // J1 hourly compaction: everything is due (data is 2024, now is real)
    val results = timed("hourly compaction") {
      Compaction.runHourly(cat, "default", "events", minFiles = 2,
        minAgeHours = 1, parallelism = 16)
    }
    val (parts1, maxF1, rows1) = fileStats()
    println(s"[lifecycle] post-hourly: $parts1 partitions, " +
      s"max $maxF1 files/partition, $rows1 rows " +
      s"(${results.count(_.filesIn > 1)} compacted)")
    assert(parts1 == parts0 && maxF1 == 1 && rows1 == total,
      s"hourly contract violated: parts=$parts1 maxFiles=$maxF1 rows=$rows1")

    // J2 daily compaction over every day dir
    val dailyRes = timed("daily compaction") {
      Compaction.runDaily(cat, "default", "events")
    }
    val rows2 = cat.table("default", "events").count()
    println(s"[lifecycle] post-daily: ${dailyRes.size} day rewrites, $rows2 rows")
    assert(rows2 == total, s"daily compaction lost rows: $rows2")

    // J4 retention: keep the newest ~15 days of the 30-day window
    val nowMicros = () => 1706745600000000L // 2024-02-01T00:00:00Z
    val ret = timed("retention (15d)") {
      Retention(cat, "default", "events", retentionDays = 15,
        nowMicros = nowMicros)
    }
    val dfAfter = cat.table("default", "events")
    val rows3 = dfAfter.count()
    val minT = dfAfter.agg(min(col("time"))).head().getTimestamp(0)
    println(s"[lifecycle] post-retention: dropped ${ret.deleted.size} " +
      s"partitions, kept ${ret.keptCount}, $rows3 rows, oldest $minT")
    assert(ret.deleted.nonEmpty && rows3 < total && rows3 > 0,
      "retention must drop the old half and keep the new")
    spark.stop()
    println("[lifecycle] OK")
  }
}
