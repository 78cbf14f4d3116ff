package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TimeBucketSpec extends SparkSpec {
  import graft.functions.TimeBucket.time_bucket

  private def bucketOf(tsUs: Long, n: Int, unit: String): Long = {
    import spark.implicits._
    val df = Seq(tsUs).toDF("us")
      .select(time_bucket(expr(s"INTERVAL '$n' $unit"), timestamp_micros(col("us"))).as("b"))
    df.select(unix_micros(col("b"))).head().getLong(0)
  }

  test("floors to 15-minute buckets") {
    val t = 1717200000000000L + 17L * 60 * 1000000 // 00:17
    assert(bucketOf(t, 15, "MINUTE") == 1717200000000000L + 15L * 60 * 1000000)
  }

  test("hour buckets align with date_trunc") {
    val t = 1717203723000000L
    assert(bucketOf(t, 1, "HOUR") == 1717203600000000L)
  }

  test("pre-epoch timestamps floor (not truncate toward zero)") {
    // -10s with 15s bucket -> floor(-10/15)=-1 -> -15s
    assert(bucketOf(-10000000L, 15, "SECOND") == -15000000L)
  }

  test("SQL registration works and codegen path evaluates") {
    graft.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      """SELECT time_bucket(INTERVAL '1' HOUR, ts) AS b, COUNT(*) AS n
        |FROM events GROUP BY b""".stripMargin).count()
    assert(n > 0)
  }

  test("month-width interval rejected") {
    intercept[Exception] { bucketOf(0L, 1, "MONTH") }
  }
}
