package graft.streaming

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.collection.mutable

/** Streaming frequent-items tracking: the low-latency tier of the
  * [[graft.operators.HeavyHitters]] two-tier design. The batch operator
  * answers "what are the heavy hitters, exactly" over the full corpus;
  * this one keeps a LIVE candidate set as the stream arrives, so a
  * token going viral is visible within a micro-batch instead of at the
  * next batch recount (which remains the exactness backstop — same
  * relationship as StreamingNearDup vs the q91 incremental pass).
  *
  * Shape: tokens route by hash to a FIXED number of shards
  * (`groupByKey(hash % nShards)`); each shard holds one Misra–Gries
  * summary of capacity k as `mapGroupsWithState` state. Because the
  * routing is BY TOKEN, a token's occurrences all hit one summary, and
  * the MG guarantee applies per shard: an item with global count
  * c ≥ θ·N has c > n_s/(k+1) in its shard (n_s ≤ N) whenever
  * k+1 > 1/θ — so a true heavy hitter is NEVER absent from the live
  * candidate set, at any prefix of the stream. Eviction only loses
  * items below the threshold; counter values are lower bounds with
  * per-shard error ≤ n_s/(k+1).
  *
  * State is O(nShards × k) TOTAL — independent of stream length and
  * vocabulary — and the one shuffle is the shard groupBy over the
  * micro-batch's rows (bounded per trigger). Shards are permanently hot
  * by construction (hash routing), so no TTL applies.
  */
object StreamingHeavyHitters {

  /** One live candidate: MG counter value `lower` is a lower bound on
    * the token's true count; `shardTotal` is the shard's item count, so
    * the true count is < lower + shardTotal/(k+1). */
  case class Hitter(shard: Int, token: String, lower: Long, shardTotal: Long)

  case class ShardState(counters: Map[String, Long], total: Long)

  /** Live candidate sets for a streaming frame bearing a token column.
    * Emits each updated shard's full summary per micro-batch (bounded:
    * ≤ k rows per shard per batch).
    *
    * @param k MG capacity per shard; for threshold θ pick k > 1/θ − 1
    */
  def track(items: DataFrame, itemCol: String, k: Int,
      nShards: Int = 64): Dataset[Hitter] = {
    require(k > 0 && nShards > 0)
    val spark = items.sparkSession
    import spark.implicits._
    // NOTE a declarative pre-count (groupBy.agg before the state op)
    // would itself be an UNBOUNDED streaming aggregation — one state
    // row per token forever, exactly what MG exists to avoid — so the
    // within-batch counting happens inside the shard's state function;
    // the exchange carries the micro-batch's rows (bounded per trigger)
    val routed = items
      .select(col(itemCol).cast("string").as("token"))
      .select(pmod(TextFunctions.tokenHash(col("token")), lit(nShards))
        .cast("int").as("shard"), col("token"))
      .as[(Int, String)]
    routed
      .groupByKey(_._1)
      .flatMapGroupsWithState[ShardState, Hitter](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (shard, rows, state: GroupState[ShardState]) =>
          val counters = mutable.HashMap.empty[String, Long]
          state.getOption.foreach(s => counters ++= s.counters)
          var total = state.getOption.map(_.total).getOrElse(0L)
          // collapse the shard's batch to (token, cnt) first — one MG
          // step per DISTINCT token; folded in sorted order (MG state
          // is order-sensitive; emission guarantees are not, but
          // determinism keeps the spec exact)
          val batch = mutable.HashMap.empty[String, Long]
          rows.foreach { case (_, t) =>
            batch.update(t, batch.getOrElse(t, 0L) + 1L) }
          batch.toSeq.sortBy(_._1).foreach { case (token, cnt) =>
            total += cnt
            counters.get(token) match {
              case Some(c) => counters.update(token, c + cnt)
              case None =>
                if (counters.size < k) counters.update(token, cnt)
                else {
                  // batched decrement: remove min(cnt, current) from
                  // every counter and the incomer, pairing off
                  // occurrences k+1 at a time (same invariant as the
                  // unit-step MG, amortized over the batch count)
                  var incoming = cnt
                  while (incoming > 0 && counters.size >= k) {
                    val dec = math.min(incoming, counters.values.min)
                    val dead = mutable.ArrayBuffer.empty[String]
                    counters.foreach { case (key, c) =>
                      if (c == dec) dead += key
                      else counters.update(key, c - dec)
                    }
                    dead.foreach(counters.remove)
                    incoming -= dec
                  }
                  if (incoming > 0) counters.update(token, incoming)
                }
            }
          }
          state.update(ShardState(counters.toMap, total))
          counters.iterator.map { case (t, c) => Hitter(shard, t, c, total) }
      }
  }
}
