package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Operator-level evidence for the near-dup family: planted
  * near-duplicates must be found, unrelated documents must not pair.
  */
class DedupOperatorsSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = base.replace("today", "tonight") // 1 token of 14 changed
    val unrelated = Seq(
      "spark shuffles partition data across executors during wide transformations",
      "columnar parquet storage enables efficient predicate pushdown and pruning",
      "minhash signatures approximate jaccard similarity between shingle sets",
      "watermarks bound state retention in streaming aggregation pipelines")
    (Seq(base, nearDup) ++ unrelated).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("MinHash LSH surfaces the planted near-duplicate pair") {
    val pairs = MinHashDedup.candidatePairs(corpus, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8) // 2 rows/band: high recall
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"planted pair not found: $pairs")
    // no unrelated docs paired
    assert(pairs.forall { case (a, b) => a == 0L && b == 1L },
      s"false positives: $pairs")
  }

  test("hot-bucket cap drops only the degenerate bucket's pairs") {
    import spark.implicits._
    // 30 identical boilerplate docs (one degenerate bucket in EVERY
    // band) + the planted near-dup pair from the distinct corpus
    val boiler = (100 until 130).map(i => (i.toLong, "empty empty empty empty"))
    val docs = corpus.union(boiler.toDF("doc_id", "text"))
    val uncapped = MinHashDedup.candidatePairs(docs, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = MinHashDedup.candidatePairs(docs, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: boilerplate contributes 30*29/2 pairs; capped: none of
    // them survive, while every pair among ordinary docs is untouched
    assert(uncapped.count { case (a, b) => a >= 100L && b >= 100L } == 435)
    assert(capped.forall { case (a, b) => a < 100L && b < 100L })
    assert(capped == uncapped.filter { case (a, b) => a < 100L && b < 100L })
    assert(capped.contains((0L, 1L)))
  }

  test("census governor: uncapped regime is the identity (cap = 0)") {
    val sigs = MinHashDedup.signatures(corpus, "doc_id", "text",
      shingleK = 2, numHashes = 16)
    val census = MinHashDedup.bandCensus(sigs, 16, 8, budgetPairsPerDoc = 2)
    assert(census.cap == 0 && census.fullPairs == census.cappedPairs)
    assert(census.fullPairs <= census.budget)
    val auto = MinHashDedup.candidatePairsAuto(corpus, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val static = MinHashDedup.candidatePairs(corpus, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == static)
  }

  test("census governor: over-budget histogram picks the largest fitting cap") {
    import spark.implicits._
    // 30 identical boilerplate docs saturate one bucket per band (size
    // 30 ⇒ 435 pairs per band x 8 bands = 3480 band pairs) on top of the
    // 6-doc distinct corpus — budget 2/doc = 72 admits only the small
    // buckets, so the governor must cap below 30 and keep the planted
    // pair, which collides in its own size-2 buckets
    val boiler = (100 until 130).map(i => (i.toLong, "empty empty empty empty"))
    val docs = corpus.union(boiler.toDF("doc_id", "text"))
    val sigs = MinHashDedup.signatures(docs, "doc_id", "text",
      shingleK = 2, numHashes = 16)
    val census = MinHashDedup.bandCensus(sigs, 16, 8, budgetPairsPerDoc = 2)
    assert(census.fullPairs > census.budget, "fixture must exceed budget")
    assert(census.cap >= 2 && census.cap < 30, s"cap=${census.cap}")
    assert(census.cappedPairs <= census.budget)
    val auto = MinHashDedup.candidatePairsAuto(docs, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, budgetPairsPerDoc = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.contains((0L, 1L)), "planted pair lost to the governor")
    assert(auto.forall { case (a, b) => a < 100L && b < 100L },
      "boilerplate bucket pairs must be capped away")
    // the governed result equals the static cap it chose
    val static = MinHashDedup.candidatePairs(docs, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, maxBucketSize = census.cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == static)
  }

  test("census governor: cap floors at 2 when even size-2 buckets blow the budget") {
    import spark.implicits._
    // 4 identical-pair groups (each a size-2 bucket family) but a budget
    // of 1 pair TOTAL (1 per doc x ... forced tiny by many singletons):
    // with budget below the size-2 volume the cap still floors at 2 —
    // size-2 buckets are linear by construction and dropping them would
    // zero recall
    // disjoint vocabularies per group: every bucket is exactly one
    // dup pair (size 2), never a cross-group collision
    val docs = (0 until 8).map { i =>
      val g = i / 2 // 4 duplicate pairs
      (i.toLong, (1 to 7).map(w => s"g${g}w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val sigs = MinHashDedup.signatures(docs, "doc_id", "text",
      shingleK = 2, numHashes = 16)
    // bands=8 -> each dup pair collides in 8 size-2 buckets = 32 band
    // pairs total; budget 1/doc = 8 < 32
    val census = MinHashDedup.bandCensus(sigs, 16, 8, budgetPairsPerDoc = 1)
    assert(census.fullPairs > census.budget, "fixture must exceed budget")
    assert(census.cap == 2, s"cap=${census.cap}")
    val auto = MinHashDedup.candidatePairsAuto(docs, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 8, budgetPairsPerDoc = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 4).forall(g =>
      auto.contains((2L * g, 2L * g + 1))), s"dup pairs lost: $auto")
  }

  test("pair whose FIRST matching band is capped away still emits from a later surviving band") {
    import spark.implicits._
    // crafted signatures (numHashes=8, bands=4 ⇒ 2 rows/band):
    //  - docs 100..119 share band 0's slice (hot bucket, > cap) and are
    //    unique everywhere else;
    //  - docs 1 and 2 ALSO carry that band-0 slice AND share a private
    //    band-2 slice. Their first matching band (0) is capped away, so
    //    emission must come from band 2 — the pre-fix first-band test
    //    suppressed it there and the pair vanished entirely.
    def sig(b0: Long, b1: Long, b2: Long, b3: Long) =
      Array(b0, b0 + 1, b1, b1 + 1, b2, b2 + 1, b3, b3 + 1)
    val hot = (100 until 120).map(i => (i.toLong, sig(7L, 1000L + i, 2000L + i, 3000L + i)))
    val pairDocs = Seq(
      (1L, sig(7L, 41L, 55L, 61L)),
      (2L, sig(7L, 42L, 55L, 62L)))
    val sigs = (hot ++ pairDocs).toDF("doc_id", "sig")
    val capped = MinHashDedup.candidatePairsFromSignatures(sigs, "doc_id",
        numHashes = 8, bands = 4, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"expected the deferred pair only: $capped")
    // and without the cap the same pair emits exactly once (no dup rows)
    val uncapped = MinHashDedup.candidatePairsFromSignatures(sigs, "doc_id",
        numHashes = 8, bands = 4, maxBucketSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.count(_ == (1L, 2L)) == 1)
  }

  test("SimHash band blocking finds near-dups that DIFFER in token count") {
    import spark.implicits._
    // the pair differs by an APPENDED token (14 vs 15 tokens): the old
    // (lang, n_tokens) blocking could never compare these two documents
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val extended = base + " quietly"
    val docs = (Seq(base, extended) ++ Seq(
      "spark shuffles partition data across executors during wide transformations",
      "columnar parquet storage enables efficient predicate pushdown and pruning"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // precondition: the pair really is within the Hamming radius
    val sh = docs.select(col("doc_id"), TextFunctions.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = java.lang.Long.bitCount(sh(0L) ^ sh(1L))
    assert(planted <= 6, s"fixture too weak: planted hd=$planted")

    val pairs = SimHashDedup.candidatePairs(docs, "doc_id", "text", maxHd = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"planted cross-token-count pair missed: $pairs")
    assert(!pairs.contains((2L, 3L)), s"unrelated docs paired: $pairs")
  }

  test("SimHash band widths tile the full 32-bit signature") {
    assert(SimHashDedup.bandWidths(7) == Seq(5, 5, 5, 5, 4, 4, 4))
    assert(SimHashDedup.bandWidths(7).sum == TextFunctions.SimHashBits)
    assert(SimHashDedup.bandWidths(8) == Seq.fill(8)(4))
  }

  test("64-bit signatures with maxHd=0 are refused (full-width band mask wraps)") {
    import spark.implicits._
    // (1L << 64) - 1 wraps to 0: every band key would collapse to 0 and
    // the self-join goes quadratic (r8 advice) — exact-dup at maxHd=0 is
    // a plain groupBy, so the kernel rejects the degenerate banding
    val sigs = Seq((1L, 42L), (2L, 42L)).toDF("doc_id", "sh")
    intercept[IllegalArgumentException] {
      SimHashDedup.pairsFromSignatures(sigs, bits = 64, maxHd = 0)
    }
    // 64-bit with maxHd >= 1 still works (perceptual-hash path)
    assert(SimHashDedup.pairsFromSignatures(sigs, bits = 64, maxHd = 1)
      .count() == 1)
  }

  test("SimHash of the planted pair is Hamming-close; unrelated pairs are not") {
    val sh = corpus.select(col("doc_id"), TextFunctions.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hd(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val planted = hd(sh(0L), sh(1L))
    assert(planted <= 3, s"planted pair hd=$planted")
    // short docs make 32-bit simhash noisy in absolute terms; the robust
    // property is relative: the planted pair is strictly closest
    for (i <- 2L to 5L)
      assert(hd(sh(0L), sh(i)) > planted,
        s"doc $i (hd=${hd(sh(0L), sh(i))}) not farther than planted ($planted)")
  }

  test("exact Jaccard of planted pair is high, unrelated low") {
    val toks = corpus.select(col("doc_id"),
      array_distinct(TextFunctions.tokens(col("text"))).as("tk"))
    val a = toks.select(col("doc_id").as("d1"), col("tk").as("t1"))
    val b = toks.select(col("doc_id").as("d2"), col("tk").as("t2"))
    val j = a.crossJoin(b).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("t1"), col("t2"))).cast("double") /
          size(array_union(col("t1"), col("t2")))).as("j"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 1L)) > 0.8)
    assert(j.filter(_._1 != (0L, 1L)).values.forall(_ < 0.3))
  }
}
