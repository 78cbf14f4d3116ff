package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-corpus exact dedup with a Bloom prefilter: which documents of a
  * new BATCH are genuinely new against an already-ingested HISTORY, by
  * content fingerprint ([[graft.functions.PolyHash]] over the full
  * text). The answer is EXACT — the Bloom filter is purely a
  * performance layer, never a semantics layer:
  *
  *  1. build a Bloom filter over history fingerprints — Spark's
  *     distributed `stat.bloomFilter` treeAggregate; the driver holds
  *     the merged filter (~1.2 GB per 10⁹ docs at 1% fpp — broadcastable
  *     where the fingerprint SET would not be);
  *  2. probe the batch map-side with the codegen'd
  *     [[graft.functions.BloomMightContain]]: a miss is DEFINITELY new
  *     (Bloom filters have no false negatives) and never reaches any
  *     join — at the steady-state ingest shape (most arriving docs are
  *     new) the vast majority of the batch short-circuits here with
  *     zero shuffle;
  *  3. hits (true dups + ~fpp false positives) are the only rows that
  *     continue into an exact anti-join against the history
  *     fingerprints, which decides them precisely.
  *
  * So the join's probe side is `|dups| + fpp·|new|` rows instead of the
  * whole batch; history ships only its 8-byte fingerprint column. In
  * production the filter is built once per corpus epoch and reused per
  * increment (it is additive: `put` new fingerprints as they commit);
  * here it is rebuilt per call for determinism.
  *
  * The reference dedups at compaction by (time, tags) last-write-wins
  * (internal/compaction/dedup.go); content-level cross-corpus dedup has
  * no analog there — SURVEY §2.L family. Oracle: the plain NOT IN
  * anti-join (q115) — identical output, no prefilter.
  */
object BloomDedup {

  /** Batch rows whose content FINGERPRINT does not occur in history —
    * fingerprint-identity, not byte-exact identity: the fingerprint is
    * the shared cross-engine PolyHash mod 1e9+7 (the oracle computes
    * the identical value in DuckDB, so the contract is symmetric), and
    * its ~2^30 space means distinct texts collide with birthday
    * probability ~n²/2e9 — material past ~10^4.5 docs. Callers needing
    * byte-exact semantics at corpus scale should join back on the text
    * after this filter (the candidate set is already tiny); the
    * fingerprint form is what the paired oracle pins.
    * Output: (doc_id-col, fp), ordered by caller.
    *
    * @param expectedItems Bloom sizing (history cardinality); <= 0 means
    *        "count history first" (one extra metadata-cheap scan).
    * @param fpp target false-positive rate; only cost, never results
    *        (at fingerprint granularity), depends on it.
    */
  def newDocs(history: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    val histFp = history
      .select(graft.functions.TextFunctions.charFingerprint(col(textCol)).as("fp"))
    val items = if (expectedItems > 0) expectedItems
      else math.max(histFp.count(), 1L)
    val bloom = histFp.stat.bloomFilter("fp", items, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val probed = batch.select(col(idCol),
        graft.functions.TextFunctions.charFingerprint(col(textCol)).as("fp"))
      .withColumn("_hit", call_function("bloom_might_contain", col("fp"), lit(bytes)))
    // misses: no shuffle at all. Hits: exact anti-join, probe side is
    // only the hit subset. Two narrow batch scans beat persisting the
    // batch (scans are cheap, caching a 100 TB increment is not).
    val definitelyNew = probed.where(!col("_hit")).drop("_hit")
    val rescuedFp = probed.where(col("_hit"))
      .join(histFp.distinct(), Seq("fp"), "left_anti")
      .drop("_hit")
    definitelyNew.unionByName(rescuedFp)
  }
}
