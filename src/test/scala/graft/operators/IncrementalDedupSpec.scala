package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("incremental pairs equal the full-corpus pairs with new doc2") {
    val split = 25L
    val full = MinHashDedup.candidatePairs(docs, "doc_id", "text",
      shingleK = 2, numHashes = 16, bands = 4)
    val expected = pairSet(full.where(col("doc2") >= split))

    val history = MinHashDedup.signatures(
      docs.where(col("doc_id") < split), "doc_id", "text", 2, 16)
    val fresh = MinHashDedup.signatures(
      docs.where(col("doc_id") >= split), "doc_id", "text", 2, 16)
    val got = pairSet(MinHashDedup.incrementalPairsFromSignatures(
      history, fresh, "doc_id", numHashes = 16, bands = 4))

    assert(got == expected)
    // sanity: the corpus actually has near-dup pairs crossing the split
    assert(expected.nonEmpty, "fixture should produce cross-split pairs")
    // and no pair pairs history against history
    assert(got.forall(_._2 >= split))
  }

  test("incremental hot-bucket cap equals the capped full-corpus result") {
    val split = 25L
    val expected = pairSet(
      MinHashDedup.candidatePairs(docs, "doc_id", "text",
          shingleK = 2, numHashes = 16, bands = 4, maxBucketSize = 3)
        .where(col("doc2") >= split))
    val sigs = MinHashDedup.signatures(docs, "doc_id", "text", 2, 16)
    val got = pairSet(MinHashDedup.incrementalPairsFromSignatures(
      sigs.where(col("doc_id") < split), sigs.where(col("doc_id") >= split),
      "doc_id", 16, 4, maxBucketSize = 3))
    assert(got == expected)
    // the cap at 3 must actually bite on this fixture (otherwise this
    // test collapses into the uncapped parity test above)
    val uncapped = pairSet(MinHashDedup.incrementalPairsFromSignatures(
      sigs.where(col("doc_id") < split), sigs.where(col("doc_id") >= split),
      "doc_id", 16, 4))
    assert(got != uncapped, "cap should drop at least one hot-bucket pair")
  }

  test("empty new batch yields no pairs without touching history pairs") {
    val history = MinHashDedup.signatures(docs, "doc_id", "text", 2, 16)
    val fresh = history.where(lit(false))
    val got = MinHashDedup.incrementalPairsFromSignatures(
      history, fresh, "doc_id", 16, 4)
    assert(got.count() == 0)
  }
}
