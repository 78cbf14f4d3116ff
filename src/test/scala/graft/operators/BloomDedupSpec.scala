package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the bloom-prefiltered cross-corpus dedup: exact parity with the
  * plain anti-join (including under a deliberately terrible fpp, which
  * exercises the false-positive rescue), and the prune property that
  * makes it the scale path (near-all new docs never reach the join). */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus() = {
    val hist = (0 until 40).map(i => (i.toLong, s"history document number $i body"))
    val dups = Seq((100L, hist(3)._2), (101L, hist(17)._2), (102L, hist(3)._2))
    val fresh = (110 until 160).map(i => (i.toLong, s"brand new content $i payload"))
    (hist.toDF("doc_id", "text"), (dups ++ fresh).toDF("doc_id", "text"))
  }

  private def oracle(hist: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame) = {
    val fp = (d: org.apache.spark.sql.DataFrame) => d.select(col("doc_id"),
      graft.functions.TextFunctions.charFingerprint(col("text")).as("fp"))
    fp(batch).join(fp(hist).select("fp").distinct(), Seq("fp"), "left_anti")
      .select("doc_id", "fp").orderBy("doc_id").collect().toSeq
  }

  test("equals the plain anti-join: dups dropped, uniques kept") {
    val (hist, batch) = corpus()
    val got = BloomDedup.newDocs(hist, batch, "doc_id", "text")
      .select("doc_id", "fp").orderBy("doc_id").collect().toSeq
    assert(got == oracle(hist, batch))
    val ids = got.map(_.getLong(0))
    assert(!ids.contains(100L) && !ids.contains(101L) && !ids.contains(102L))
    assert(ids.contains(110L) && ids.size == 50)
  }

  test("false positives at a terrible fpp are rescued by the exact join") {
    val (hist, batch) = corpus()
    // fpp 0.5 over 53 probes: false positives occur with certainty in
    // practice (P(none) ~ 2^-50, and the sketch is seed-deterministic) —
    // the rescue anti-join must still produce the exact answer
    val got = BloomDedup.newDocs(hist, batch, "doc_id", "text", fpp = 0.5)
      .select("doc_id", "fp").orderBy("doc_id").collect().toSeq
    assert(got == oracle(hist, batch))
  }

  test("prune property: at fpp 0.01 nearly all new docs miss the bloom") {
    val (hist, batch) = corpus()
    val histFp = hist.select(
      graft.functions.TextFunctions.charFingerprint(col("text")).as("fp"))
    val bloom = histFp.stat.bloomFilter("fp", 40, 0.01)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    val hits = batch.select(
        graft.functions.TextFunctions.charFingerprint(col("text")).as("fp"))
      .where(call_function("bloom_might_contain", col("fp"), lit(bytes)))
      .count()
    // 3 true dups; allow a small FP budget over the 50 new docs
    assert(hits >= 3 && hits <= 3 + 3, s"hits=$hits")
  }

  test("deterministic across partition layouts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) = {
      val d = docs.repartition(parts)
      val split = d.agg(max(col("doc_id")).cast("long")).head.getLong(0) * 8L / 10L
      BloomDedup.newDocs(
          d.where(col("doc_id") < split), d.where(col("doc_id") >= split),
          "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
    }
    assert(run(1) == run(6))
  }
}
