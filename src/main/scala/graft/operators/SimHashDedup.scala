package graft.operators

import graft.Materialize._

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection with signature-band blocking.
  *
  * The 32-bit signature is split into [[numBands]] contiguous bit bands.
  * By pigeonhole, any pair within Hamming distance `numBands - 1` shares
  * at least one identical band, so a band equi-join finds EVERY such pair
  * — unlike attribute blocking (e.g. on token counts), which silently
  * drops near-dups that differ in the blocked attribute. With the default
  * 7 bands the hd ≤ 6 result is exactly the brute-force result, at
  * band-bucket join cost instead of O(n²).
  *
  * Scale shape (same as [[MinHashDedup]]): signatures computed once
  * (native SimHashBits expression), explode to (band, key) rows, shuffle
  * on the band key into small buckets, pairwise only within buckets,
  * exact Hamming verification, distinct. No cartesian anywhere.
  *
  * Threshold guidance at corpus scale (measured, SCALE.md round-12
  * "Zipf-vocabulary dedup scale study"): UNWEIGHTED token features
  * saturate on open-vocabulary corpora — every document's bit-majority
  * vote is dominated by the same few hundred Zipf-head words, so
  * signatures cluster and hd ≤ 2 over 32 bits flags ~40% of ALL pairs
  * (2.0e9 pairs at 100k docs; the join stays output-bound, the ANSWER
  * is what degenerates). For such corpora weight each token's ±1 vote
  * by idf (rare tokens drive bits) or widen the signature; the
  * closed-vocabulary oracle fixture keeps the unweighted 32-bit form
  * meaningful because it has no frequency tail.
  */
object SimHashDedup {

  val DefaultMaxHammingDistance = 6

  /** Bit widths of the bands covering `bits` signature bits:
    * `maxHd + 1` bands as equal as possible (32 bits / 7 → 5,5,5,5,4,4,4). */
  private[operators] def bandWidths(bits: Int, numBands: Int): Seq[Int] = {
    val base = bits / numBands
    val extra = bits % numBands
    Seq.fill(extra)(base + 1) ++ Seq.fill(numBands - extra)(base)
  }

  private[operators] def bandWidths(numBands: Int): Seq[Int] =
    bandWidths(TextFunctions.SimHashBits, numBands)

  /** (band index, band key) struct array for a signature column. */
  private def bandKeys(sh: Column, bits: Int, numBands: Int): Column = {
    val widths = bandWidths(bits, numBands)
    array(widths.zipWithIndex.map { case (w, i) =>
      struct(lit(i).as("b"), bandKey(sh, bits, numBands, i).as("k"))
    }: _*)
  }

  /** Band `i` of a signature, as a Long key. A full-width 64-bit band
    * would shift a negative mask; widths below 64 by construction when
    * numBands >= 2 (maxHd >= 1). */
  private def bandKey(sh: Column, bits: Int, numBands: Int, i: Int): Column = {
    val widths = bandWidths(bits, numBands)
    val offsets = widths.scanLeft(0)(_ + _)
    shiftrightunsigned(sh, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
  }

  /** Candidate pairs (doc1 < doc2, hd) with hd ≤ maxHd — exact: banding
    * with maxHd+1 bands guarantees no pair within maxHd is missed. */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
      maxHd: Int = DefaultMaxHammingDistance): DataFrame = {
    val spark = docs.sparkSession
    val sigs = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol).as("doc_id"),
        TextFunctions.simhash(col(textCol)).as("sh"))
      .materialize() // signatures are CPU-heavy: compute exactly once
    pairsFromSignatures(sigs, TextFunctions.SimHashBits, maxHd)
  }

  /** The banding/verify kernel over an ARBITRARY signature frame
    * (`doc_id`, `sh`) of `bits`-wide hashes — shared by text SimHash
    * (q67) and image perceptual hashes ([[Multimodal.nearDupImagePairs]]).
    * Pigeonhole-exact for Hamming distance ≤ maxHd. */
  def pairsFromSignatures(sigs: DataFrame, bits: Int,
      maxHd: Int = DefaultMaxHammingDistance): DataFrame = {
    // maxHd=0 with 64-bit signatures makes ONE full-width band whose
    // mask (1L << 64) - 1 wraps to 0 — every band key collapses to 0 and
    // the self-join goes quadratic (r8 advice). Exact-duplicate search
    // at maxHd=0 is a plain groupBy on sh; this kernel requires banding.
    require(maxHd >= 1 || bits < 64,
      s"maxHd=0 with bits=$bits needs no banding — groupBy the signature " +
        "directly (a full-width 64-bit band mask wraps to 0)")
    val numBands = maxHd + 1
    val bands = sigs.select(col("doc_id"), col("sh"),
      explode(bandKeys(col("sh"), bits, numBands)).as("band"))
    val a = bands.select(col("doc_id").as("doc1"), col("sh").as("sh1"), col("band"))
    val b = bands.select(col("doc_id").as("doc2"), col("sh").as("sh2"), col("band"))
    // first-matching-band emission replaces a distinct() over the full
    // candidate set: a pair matching in k bands appears in k buckets, but
    // only the bucket of its SMALLEST matching band emits it (cheap bit
    // compares on the carried signatures) — no dedup shuffle, each pair
    // exactly once. At sf0.1 q67 produces 589k pairs; distinct() shuffled
    // all of them, this filter drops duplicates map-side.
    val firstBand = (0 until numBands).map { j =>
      (col("band.b") > j) &&
        (bandKey(col("sh1"), bits, numBands, j) ===
          bandKey(col("sh2"), bits, numBands, j))
    }.reduce(_ || _)
    a.join(b, "band")
      .where(col("doc1") < col("doc2"))
      .where(!firstBand)
      .withColumn("hd", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .where(col("hd") <= maxHd)
      .select(col("doc1"), col("doc2"), col("hd"))
  }

  /** Idf-WEIGHTED SimHash signatures — the open-vocabulary-corpus form
    * (Charikar's original weighted features; Manku et al., WWW'07 use
    * the same shape for web dedup). Each token occurrence votes
    * ±idf(token) instead of ±1, idf = ln((N+1)/df): on a Zipf corpus
    * the head words that dominate every document carry ~ln(1+1/N) ≈ 0
    * weight while rare content words carry ~ln N, so fingerprints are
    * driven by what DISTINGUISHES documents. The unweighted form
    * saturates there — hd ≤ 2 flags ~40% of ALL pairs at every scale
    * (SCALE.md round-12 study); on an equal-df corpus the two forms
    * produce IDENTICAL signatures (WeightedSimHashSpec pins both).
    *
    * Scale shape: one df census (aggregate row per token — never a
    * member list), one broadcast-or-shuffle join of the token stream
    * against it, then 32 conditional-sum aggregates per doc — all
    * codegen'd built-ins, no UDF, linear in corpus size. Docs with no
    * tokens drop out (no rows to vote); callers needing them keep the
    * unweighted form's convention of signature 0.
    */
  def weightedSignatures(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    weightedSignaturesImpl(docs, idCol, textCol,
      TextFunctions.SimHashBits, TextFunctions.tokenHash)

  /** 64-bit idf-weighted fingerprints over `xxhash64` token features —
    * the Manku et al. (WWW'07) web-dedup configuration. The 32-bit form
    * keeps parity with the native unweighted expression but its
    * polynomial base hash carries only ~30 bits of entropy (its two top
    * bits are structurally 0), which floors the resolution: on the
    * round-12 Zipf fixture, weighting cut hd≤2 saturation 19× (40% →
    * 2.1% of all pairs) but the residual mid-frequency cosine baseline
    * still collides in a 30-bit space. 64 real bits push random-pair
    * collisions at hd≤3 below the birthday floor for corpus-scale N. */
  def weightedSignatures64(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    weightedSignaturesImpl(docs, idCol, textCol, 64, xxhash64(_))

  private def weightedSignaturesImpl(docs: DataFrame, idCol: String,
      textCol: String, bits: Int, hashOf: Column => Column): DataFrame = {
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .repartition(spark.sparkContext.defaultParallelism)
      .materialize() // feeds the census AND the vote stream
    val toks = base.select(col("doc_id"),
      explode(TextFunctions.tokens(col("_t"))).as("tok"))
      .withColumn("h", hashOf(col("tok")))
    // df census: per-row array_distinct BEFORE the generator replaces
    // the (doc, tok) distinct — one map-side-combining exchange instead
    // of a distinct shuffle of the full occurrence stream plus the
    // count exchange (guide §2.3/§2.4; r14)
    val dfc = base.select(explode(
        array_distinct(TextFunctions.tokens(col("_t")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("_df"))
    // N as a broadcast 1-row aggregate instead of a blocking .count()
    // action: same double arithmetic ((N+1.0)/df), one less driver
    // round-trip per signature build (r14)
    val nd = broadcast(base.agg(count(lit(1)).cast("double").as("_nd")))
    val voted = toks.join(dfc, Seq("tok")).crossJoin(nd)
      .withColumn("w", log((col("_nd") + lit(1.0)) / col("_df")))
    val bitSums = (0 until bits).map { b =>
      // shiftrightunsigned: xxhash64 values are full-range longs, and a
      // SIGNED shift of a negative hash drags the sign bit across every
      // vote above the tested bit
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) === 1L,
        col("w")).otherwise(-col("w"))).as(s"_b$b")
    }
    val agg = voted.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(s"_b$b") > 0d, lit(1L << b)).otherwise(lit(0L))
    }
    agg.select(col("doc_id"), sh.as("sh"))
  }

  /** Weighted-fingerprint near-dup pairs through the same
    * pigeonhole-exact banding kernel as the unweighted form. */
  def weightedCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, maxHd: Int = DefaultMaxHammingDistance): DataFrame =
    pairsFromSignatures(
      weightedSignatures(docs, idCol, textCol).materialize(),
      TextFunctions.SimHashBits, maxHd)

  /** 64-bit variant of [[weightedCandidatePairs]] (hd semantics over
    * 64 real entropy bits; default radius 3 per the web-dedup
    * literature). */
  def weightedCandidatePairs64(docs: DataFrame, idCol: String,
      textCol: String, maxHd: Int = 3): DataFrame =
    pairsFromSignatures(
      weightedSignatures64(docs, idCol, textCol).materialize(),
      64, maxHd)
}
