package graft.operators

import graft.Materialize._

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection as a reusable operator:
  * shingle → signature → band → bucket-join → candidate pairs.
  *
  * Performance shape (the 100 TB path):
  *  - token hashes are computed ONCE per token (char fold), and shingle
  *    hashes are a sliding-window combine over token hashes — no
  *    re-hashing of shingle strings;
  *  - signatures are materialized once (localCheckpoint) before the
  *    band self-join, so the two join sides share one computation
  *    instead of re-deriving signatures per side;
  *  - the join is an equi-join on (band, key): shuffles hash-partition
  *    candidates into buckets; nothing quadratic happens outside a
  *    bucket. On a cluster this is the standard LSH join — skew inside
  *    a hot bucket is bounded by band width (tune bands/rows to cap
  *    collision probability).
  */
object MinHashDedup {

  import TextFunctions.Prime
  private val Combine = 1000003L // shingle combine multiplier (< 2^21)

  /** Sliding k-window combine over per-token hashes:
    * h(i..i+k-1) = fold (acc * Combine + tokHash) % P.
    * Native single-pass ShingleHashes expression. */
  def shingleHashesFromTokens(text: Column, k: Int): Column =
    call_function("shingle_hashes", TextFunctions.tokens(text), lit(k), lit(Combine))

  /** DuckDB spelling of the same (for oracles). */
  def shingleHashesFromTokensSql(col: String, k: Int): String =
    s"(SELECT list_distinct(ph) FROM (SELECT ${shingleHashesPosFromTokensSql(col, k)} AS ph))"

  /** Positional variant: one hash per shingle POSITION, in order,
    * duplicates kept — what winnowing consumes. */
  def shingleHashesPosFromTokens(text: Column, k: Int): Column =
    call_function("shingle_hashes_pos", TextFunctions.tokens(text), lit(k), lit(Combine))

  /** DuckDB spelling of [[shingleHashesPosFromTokens]]. */
  def shingleHashesPosFromTokensSql(col: String, k: Int): String = {
    val toks = s"string_split_regex(trim($col), '\\s+')"
    val th = s"list_transform($toks, t -> ${TextFunctions.tokenHashSql("t")})"
    val comb = (0 until k).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc) * $Combine + coalesce(th[i + $j], 0)) % $Prime"
    }
    s"(SELECT list_transform(generate_series(1, greatest(len(th) - ${k - 1}, 1)), " +
      s"i -> $comb) FROM (SELECT $th AS th))"
  }

  /** (doc_id, sig) signatures, materialized (lineage-truncated) so
    * downstream self-joins compute them exactly once.
    *
    * Repartitions to full parallelism first: signature computation is
    * CPU-bound per row, and a table loaded from few parquet files would
    * otherwise compute on as few cores (a single 128 MB input split
    * serializes the whole corpus through one task). */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    // tokens -> shingle hashes -> signature is one nested native
    // expression (single evaluation per row); the checkpoint materializes
    // signatures once for the band self-join
    docs.select(col(idCol), col(textCol))
      .repartition(parallelism)
      .select(col(idCol),
        TextFunctions.minhashSignature(
          shingleHashesFromTokens(col(textCol), shingleK), numHashes).as("sig"))
      .materialize()
  }

  /** Candidate near-duplicate pairs via LSH banding.
    *
    * @param maxBucketSize 0 = unlimited. At corpus scale a degenerate
    *        band key (boilerplate-heavy shards, empty docs) can collect
    *        millions of members and the within-bucket pairing turns
    *        quadratic in ONE task. A positive cap drops buckets larger
    *        than the cap from pair generation (both sides — symmetric),
    *        trading recall ONLY on pathological keys for a hard bound on
    *        per-bucket work: a pair lost here is found again in any of
    *        its other bands, or swept up by clustering transitivity
    *        ([[DedupClusters]]) when any co-member pairs survive.
    */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 2, numHashes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 0): DataFrame =
    candidatePairsFromSignatures(
      signatures(docs, idCol, textCol, shingleK, numHashes),
      idCol, numHashes, bands, maxBucketSize)

  /** The census behind [[candidatePairsAuto]]'s cap choice, exposed so
    * the scale probe and specs can assert WHICH regime ran.
    *
    * @param cap 0 = the full census fits the budget, no cap applied
    * @param cappedPairs band-pair volume the chosen cap admits (= full
    *        when cap == 0; may exceed budget only in the floored case) */
  case class BandCensus(nDocs: Long, fullPairs: Long, budget: Long,
      cap: Int, cappedPairs: Long)

  /** Bucket-size-histogram census over the banded signatures: the EXACT
    * number of within-bucket pairs the band join would emit, and the
    * largest hot-bucket cap whose admitted pair volume fits
    * `budgetPairsPerDoc * nDocs`. One two-level aggregate (the histogram
    * has one row per DISTINCT bucket size — tiny) over the materialized
    * signatures; no pair is ever generated to be counted. */
  def bandCensus(sigs: DataFrame, numHashes: Int, bands: Int,
      budgetPairsPerDoc: Int): BandCensus = {
    require(budgetPairsPerDoc >= 1,
      s"budgetPairsPerDoc must be >= 1, got $budgetPairsPerDoc")
    // the doc count and the bucket histogram are independent jobs over
    // the checkpointed signatures — overlap them (guide §2.6; r14)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val nDocsF = Future(sigs.count())
    val hist = sigs
      .select(explode(bandStructs(col("sig"), numHashes, bands)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2) // size-1 buckets pair nothing, define no cap
      .groupBy(col("n")).agg(count(lit(1)).as("k"))
      .orderBy(col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nDocs = Await.result(nDocsF, Duration.Inf)
    val budget = budgetPairsPerDoc.toLong * nDocs
    def vol(nk: (Long, Long)): Long = nk._2 * nk._1 * (nk._1 - 1) / 2
    val full = hist.map(vol).sum
    if (full <= budget) BandCensus(nDocs, full, budget, 0, full)
    else {
      // largest histogram size whose INCLUSIVE ascending prefix volume
      // fits the budget, floored at 2 (size-2 buckets always pair —
      // dropping them would zero recall; their volume is <= bands*n/2,
      // linear by construction). The oracle SQL (DedupQueries
      // minhashGovernedPairsCtes) spells this same rule.
      val prefix = hist.scanLeft(0L)(_ + vol(_)).drop(1)
      val qualifying = hist.zip(prefix).filter(_._2 <= budget).map(_._1._1)
      val cap = math.max(2L, if (qualifying.isEmpty) 2L else qualifying.max)
      val capped = hist.filter(_._1 <= cap).map(vol).sum
      BandCensus(nDocs, full, budget, cap.toInt, capped)
    }
  }

  /** Census-governed candidate generation — [[candidatePairs]] whose
    * hot-bucket cap is CHOSEN from the measured bucket-size histogram
    * instead of fixed by the caller (same dispatch idiom as
    * [[JaccardDedup.pairsAuto]] / [[CoocLift.pairsAuto]], r12 verdict #2).
    *
    * Why: the LSH-then-verify composition (q114) pays O(len²)
    * Levenshtein per CANDIDATE, so its scale contract is "verify work
    * linear in corpus size" — but with static banding the candidate
    * count is whatever the corpus's bucket structure yields, and on a
    * fixed-vocabulary corpus it grows super-linearly as dfs saturate
    * (measured: Zipf 200k→400k full census 3.6×, wall 2.9× at 2× docs).
    * The governor bounds admitted band pairs to `budgetPairsPerDoc`·n by
    * capping only the largest buckets — the ones saturated boilerplate
    * keys produce, where a bucket member pairs with hundreds of
    * strangers. A planted near-dup pair loses nothing unless EVERY band
    * it collides in is over the cap; its other bands, and cluster
    * transitivity downstream, keep recall. Measured (SCALE.md round 13,
    * budget 2): the governor halves 400k-doc candidates (705k vs 1.41M)
    * while losing 4 of the 23,209 banding-recoverable ground-truth
    * pairs (99.98%); q114 wall 200k→400k = 2.12× at 2× docs (was 2.9×
    * ungoverned), admitted volume budget-pinned linear from there.
    *
    * Budget default 2: generous vs any plausible true-dup rate (a 5%
    * planted rate is 0.05 pairs/doc) while keeping the verify stage
    * within ~2× of the corpus scan. */
  def candidatePairsAuto(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 2, numHashes: Int = 16, bands: Int = 4,
      budgetPairsPerDoc: Int = 2): DataFrame = {
    val sigs = signatures(docs, idCol, textCol, shingleK, numHashes)
    val census = bandCensus(sigs, numHashes, bands, budgetPairsPerDoc)
    candidatePairsFromSignatures(sigs, idCol, numHashes, bands, census.cap)
  }

  /** Pair generation over precomputed `(id, sig)` signatures — split out
    * so alternate signature sources (and the spec's crafted-collision
    * cases) reuse the exact banding/emission logic. */
  def candidatePairsFromSignatures(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int, maxBucketSize: Int): DataFrame = {
    val banded = bandedWithCap(
      sigs.select(col(idCol), col("sig")), idCol, numHashes, bands, maxBucketSize)
    emitPairs(banded, banded, idCol, numHashes, bands)
  }

  /** Incremental pair generation — the daily-increment shape at corpus
    * scale: history×history pairs were already found when history was
    * ingested, so only new×(history ∪ new) needs examining. The band
    * join's probe side carries ONLY the new batch; history signatures
    * are read from their store (one scan), never re-paired against each
    * other — per-increment cost is O(new × collision rate), independent
    * of history size. Emits (doc1, doc2) with doc2 (the higher id) in
    * the new batch; equals the full-corpus [[candidatePairsFromSignatures]]
    * filtered to new doc2 (IncrementalDedupSpec proves it). The
    * hot-bucket cap applies exactly as in the full path (the bucket
    * census spans history ∪ new, so a boilerplate key that went hot in
    * history stays capped for every later increment).
    */
  def incrementalPairsFromSignatures(historySigs: DataFrame,
      newSigs: DataFrame, idCol: String, numHashes: Int,
      bands: Int, maxBucketSize: Int = 0): DataFrame = {
    // tag rows BEFORE banding: the probe side is a filter over the same
    // banded/capped frame — no second banding pass, no id semi-join
    val all = historySigs.select(col(idCol), col("sig"), lit(false).as("_new"))
      .unionByName(newSigs.select(col(idCol), col("sig"), lit(true).as("_new")))
    val banded = bandedWithCap(all, idCol, numHashes, bands, maxBucketSize)
    emitPairs(banded, banded.where(col("_new")), idCol, numHashes, bands)
  }

  /** One `(band, key)` struct per band: the LSH bucket keys for a
    * signature. Shared by the batch banding below and the streaming
    * near-dup filter ([[graft.streaming.StreamingNearDup]]) so both
    * paths bucket identically. */
  def bandStructs(sig: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map(bnd =>
      struct(lit(bnd).as("band"),
        array_join(slice(sig, bnd * rows + 1, rows), ",").as("key"))): _*)
  }

  /** One row per (doc, band) with the band's bucket key; when capped,
    * rows in over-sized buckets are dropped and each doc carries a
    * bitmask of which of ITS bands survived. Extra input columns (e.g.
    * an incremental `_new` tag) pass through. */
  private def bandedWithCap(sigs: DataFrame, idCol: String, numHashes: Int,
      bands: Int, maxBucketSize: Int): DataFrame = {
    val passThrough = sigs.columns.filter(c => c != idCol && c != "sig")
      .map(col).toSeq
    val banded0 = sigs.select(Seq(col(idCol), col("sig"),
      explode(bandStructs(col("sig"), numHashes, bands)).as("b"))
      ++ passThrough: _*)
      .withColumn("band", col("b.band")).withColumn("key", col("b.key"))
      .drop("b")
    if (maxBucketSize <= 0) banded0.withColumn("_survMask", lit(-1L))
    else {
      // bucket sizes via partial+final count — the hot key's size is a
      // single aggregate row, never a materialized member list. Each doc
      // also carries a bitmask of which of ITS bands survived the cap:
      // the first-band suppression below may only defer to an earlier
      // band that actually emitted (capped-away buckets emit nothing).
      val sizes = banded0.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("_bucket_n"))
      val flagged = banded0.join(sizes, Seq("band", "key"))
        .withColumn("_surv", col("_bucket_n") <= maxBucketSize)
      val masks = flagged.groupBy(col(idCol)).agg(
        sum(when(col("_surv"),
          expr("shiftleft(CAST(1 AS BIGINT), band)")).otherwise(lit(0L)))
          .as("_survMask"))
      flagged.where(col("_surv")).join(masks, Seq(idCol))
        .drop("_bucket_n", "_surv")
    }
  }

  /** Band-bucket equi-join with first-matching-band emission instead of
    * distinct(): a pair agreeing in k bands lands in k buckets; only the
    * smallest matching SURVIVING band's bucket emits it. The carried
    * signatures make the earlier-band compare a local array-slice
    * equality (slices equal ⇒ same bucket, so x's survival bit speaks
    * for both docs) — the candidate-pair dedup shuffle disappears
    * (pairs >> docs when buckets run hot). */
  private def emitPairs(bandedX: DataFrame, bandedY: DataFrame,
      idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val firstBand = (0 until bands).map { j =>
      (col("x.band") > j) &&
        (slice(col("x.sig"), j * rows + 1, rows) === slice(col("y.sig"), j * rows + 1, rows)) &&
        (col("x._survMask").bitwiseAND(lit(1L << j)) =!= lit(0L))
    }.reduce(_ || _)
    bandedX.alias("x").join(bandedY.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .where(!firstBand)
      .select(col(s"x.$idCol").as("doc1"), col(s"y.$idCol").as("doc2"))
  }
}
