package graft.streaming

import graft.functions.TextFunctions
import graft.operators.MinHashDedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection: MinHash-LSH candidate pairs over
  * a document STREAM, so duplicates are flagged as they arrive instead
  * of waiting for the nightly batch pass.
  *
  * This is the custom-state streaming operator the built-ins cannot
  * express (SURVEY §2.L / §2.I): the per-bucket "documents seen so far"
  * memory is genuine cross-batch state, held in
  * `flatMapGroupsWithState` keyed by LSH bucket — NOT a stream-stream
  * join (which would re-pair history against history every epoch) and
  * NOT `dropDuplicates` (near-dup keys are not equality keys; band
  * buckets are).
  *
  * Banding is shared verbatim with the batch path
  * ([[MinHashDedup.bandStructs]]) so a stream and a batch pass bucket
  * identically — the parity spec pins streamed candidate pairs ==
  * batch candidate pairs on the same corpus.
  *
  * Contract differences vs batch, both inherent to streaming and
  * documented rather than hidden:
  *  - A pair agreeing in k bands is emitted up to k times (once per
  *    bucket group); batch suppresses repeats with its first-matching-
  *    band trick, which needs every band of both docs in one task.
  *    Downstream verification dedupes — compare DISTINCT pairs.
  *  - State is bounded two ways: per-bucket membership caps at
  *    `maxBucketState` ids (the batch hot-bucket cap's streaming twin —
  *    a viral boilerplate bucket stops pairing instead of going
  *    quadratic), and idle buckets expire after `idleTimeout`
  *    (processing-time TTL; pass null for unbounded test runs). A dup
  *    arriving after its bucket expired is missed HERE — the batch
  *    incremental pass (q91's `incrementalPairsFromSignatures`) remains
  *    the full-history backstop; this operator is the low-latency tier
  *    of the same two-tier design as streaming dedup + compaction.
  *
  * Scale shape: signatures are per-row native expressions (no shuffle);
  * the one shuffle is the groupByKey on (band, bucket) — the same key
  * the batch band-join shuffles on — and state per bucket is O(cap).
  */
object StreamingNearDup {

  /** A candidate near-dup pair (doc1 < doc2) from one matching band. */
  case class Candidate(doc1: Long, doc2: Long, band: Int)

  /** Per-bucket state: ids seen, saturated once the cap is hit. */
  case class BucketState(ids: List[Long])

  /** Candidate pairs for a streaming `(id, text)` document source.
    *
    * @param docs streaming DataFrame
    * @param maxBucketState per-bucket id cap (hot-bucket guard)
    * @param idleTimeout e.g. "1 hour": buckets idle this long are
    *        dropped; null disables expiry (tests / bounded replays)
    */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 2, numHashes: Int = 16, bands: Int = 4,
      maxBucketState: Int = 1000,
      idleTimeout: String = null): Dataset[Candidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = docs.select(col(idCol).cast("long").as("id"),
      TextFunctions.minhashSignature(
        MinHashDedup.shingleHashesFromTokens(col(textCol), shingleK),
        numHashes).as("sig"))
    val banded = sigs
      .select(col("id"),
        explode(MinHashDedup.bandStructs(col("sig"), numHashes, bands)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.key").as("key"))
      .toDF("_1", "_2", "_3").as[(Long, Int, String)]
    val timeoutConf =
      if (idleTimeout == null) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.ProcessingTimeTimeout
    banded
      .groupByKey { case (_, band, key) => (band, key) }
      .flatMapGroupsWithState[BucketState, Candidate](
        OutputMode.Append, timeoutConf) {
        case ((band, _), rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val seen = state.getOption.map(_.ids).getOrElse(Nil)
            // membership via a set: List.contains made this scan
            // O(batch x cap) per SATURATED bucket — the hot-boilerplate
            // regime the cap exists for is exactly where every arriving
            // id paid a full 1000-element walk (the hot-bucket regime's
            // throughput is in OPTIMIZATION_r15.md §8)
            val seenSet = seen.toSet
            // deterministic within-batch order; iterator order is not
            val fresh = rows.map(_._1).toSeq.distinct.sorted
              .filterNot(seenSet.contains)
            val out = Seq.newBuilder[Candidate]
            var members = seen
            var nMembers = seen.size // List.size is O(n): count once
            fresh.foreach { id =>
              if (nMembers < maxBucketState) {
                members.foreach { other =>
                  out += Candidate(math.min(id, other), math.max(id, other), band)
                }
                members = id :: members
                nMembers += 1
              } // saturated bucket: stop pairing AND storing (hot-key guard)
            }
            state.update(BucketState(members))
            if (idleTimeout != null) state.setTimeoutDuration(idleTimeout)
            out.result().iterator
          }
      }
  }
}
