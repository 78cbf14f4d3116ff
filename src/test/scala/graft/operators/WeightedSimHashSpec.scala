package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Idf-weighted SimHash (the open-vocabulary form, round-12 SCALE.md
  * study): equal-df parity with the unweighted expression, and the
  * saturation fixture where unweighted fingerprints collapse while
  * weighted ones separate content. */
class WeightedSimHashSpec extends SparkSpec {
  import spark.implicits._

  test("equal-df corpus: weighted signatures == unweighted signatures") {
    // disjoint token sets -> every token has df=1 -> constant idf, and
    // sign(sum +-w) == sign(sum +-1) bit for bit. ODD token count per
    // doc: a +-1 vote sum over an odd multiset can't tie at 0, and a
    // floating +-w sum can't reproduce an exact-zero tie anyway (k*w
    // partial sums round; the integer expression's tie-break is exact)
    val rnd = new scala.util.Random(31)
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(13)(s"tok_${i}_${rnd.nextInt(1000)}").mkString(" "))
    }.toDF("doc_id", "text")
    val unweighted = docs.select(col("doc_id"),
      TextFunctions.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val weighted = SimHashDedup.weightedSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted == unweighted,
      s"diff: ${weighted.toSet.diff(unweighted.toSet).take(3)}")
  }

  test("Zipf-boilerplate fixture: unweighted saturates, weighted separates") {
    // 60 docs sharing 200 boilerplate tokens, plus 12 rare tokens each;
    // docs 100/101 are a planted near-dup (11 of 12 rare tokens shared)
    val rnd = new scala.util.Random(7)
    val boiler = (0 until 200).map(i => s"common$i").mkString(" ")
    def rare(seed: Int, n: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(n)(s"rare_${seed}_${r.nextInt(100000)}")
    }
    val normal = (0L until 58L).map { i =>
      (i, boiler + " " + rare(i.toInt + 1000, 12).mkString(" "))
    }
    val aRare = rare(9999, 12)
    val a = (100L, boiler + " " + aRare.mkString(" "))
    val b = (101L, boiler + " " + (aRare.take(11) :+ "rare_other_x").mkString(" "))
    val docs = (normal :+ a :+ b).toDF("doc_id", "text")
    val nPairs = 60L * 59L / 2L

    val unweighted = SimHashDedup.candidatePairs(docs, "doc_id", "text",
      maxHd = 2).count()
    val weighted = SimHashDedup.weightedCandidatePairs(docs, "doc_id", "text",
      maxHd = 6)
    val wPairs = weighted.collect().map(r => (r.getLong(0), r.getLong(1)))

    // unweighted: the 200-token boilerplate dominates every bit vote, so
    // a large share of the 1,770 pairs collide within even hd<=2 — the
    // saturation the round-12 Zipf study measured at corpus scale (45%
    // on this fixture; 40% at 100k docs on the real Zipf fixture)
    assert(unweighted > nPairs / 4,
      s"fixture should saturate unweighted simhash: $unweighted of $nPairs")
    // weighted: only the planted pair is close, even at the LOOSER hd<=6
    assert(wPairs.contains((100L, 101L)), s"planted pair missing: ${wPairs.take(5).toSeq}")
    assert(wPairs.length < (nPairs / 10).toInt,
      s"weighted fingerprints must separate content: ${wPairs.length} pairs")
  }

  test("64-bit weighted fingerprints separate a planted near-dup from the baseline") {
    val boiler = (0 until 200).map(i => s"common$i").mkString(" ")
    def rare(seed: Int, n: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(n)(s"rare_${seed}_${r.nextInt(100000)}")
    }
    // ODD rare-token counts: per-bit vote sums over an even count of
    // equal-weight voters tie at 0 with P≈0.23 and those bits flip on
    // ANY edit (observed: a 1-of-12 change measured hd=20); with 49
    // voters the margin is ≥ one idf unit and only the swing-vote bits
    // (P(|k|=1)≈0.23 × direction ½) flip → E[hd] ≈ 7-8 for a 1-of-49
    // change, well under the unrelated-pair mean of 32
    val normal = (0L until 58L).map { i =>
      (i, boiler + " " + rare(i.toInt + 1000, 49).mkString(" "))
    }
    val aRare = rare(9999, 49)
    val a = (100L, boiler + " " + aRare.mkString(" "))
    val b = (101L, boiler + " " + (aRare.take(48) :+ "rare_other_x").mkString(" "))
    val docs = (normal :+ a :+ b).toDF("doc_id", "text")
    // self-calibrating: assert clear separation from the unrelated-pair
    // baseline (hd ~ Binomial(64, ½), mean 32) rather than a
    // chance-dependent fixed radius
    val sigs = SimHashDedup.weightedSignatures64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hd(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val planted = hd(sigs(100L), sigs(101L))
    assert(planted < 16, s"planted near-dup must sit >4σ under the mean: hd=$planted")
    val others = (0L until 58L).combinations(2).map { case Seq(i, j) =>
      hd(sigs(i), sigs(j)) }.toSeq
    assert(others.count(_ < 24) < others.length / 20,
      s"unrelated pairs must center at hd~32: ${others.sorted.take(5)}")
    // and the banding kernel finds exactly the separated pair at a
    // radius between the two populations
    val pairs = SimHashDedup.weightedCandidatePairs64(docs, "doc_id", "text",
        maxHd = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((100L, 101L)), s"planted pair missing: ${pairs.take(5)}")
    assert(pairs.length < 30, s"64-bit weighted must separate: ${pairs.length} pairs")
    // top two signature bits are REAL entropy here (xxhash64), unlike
    // the 30-bit polynomial base hash of the 32-bit form
    assert(sigs.values.exists(s => (s >>> 62) != 0L), "bits 62/63 must carry entropy")
  }

  test("weighted signatures are deterministic and distinct for distinct content") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val sigs = SimHashDedup.weightedSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(3L), "identical content -> identical signature")
    assert(sigs(1L) != sigs(2L), "distinct content -> distinct signature")
  }
}
