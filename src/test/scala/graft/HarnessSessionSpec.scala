package graft

/** The harness session carries graft's SQL functions as an extension,
  * so sessions derived from it need no registration call — the
  * per-database serving sessions are exactly such `newSession()`s. */
class HarnessSessionSpec extends SparkSpec {

  test("a fresh newSession() resolves every GraftFunctions entry") {
    val fresh = spark.newSession()
    val missing = GraftFunctions.table.map(_._1).filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved in a derived session: ${missing.mkString(", ")}")
    // 2024-06-01T00:17Z floors to 00:15Z (1717200000 s + 900 s)
    val bucket = fresh.sql("SELECT unix_micros(time_bucket(INTERVAL '15' MINUTE, " +
      "timestamp_micros(1717201020000000)))").head().getLong(0)
    assert(bucket == 1717200900000000L)
  }
}
