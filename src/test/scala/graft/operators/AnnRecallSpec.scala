package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Numeric recall/quality guarantees for the rows-only ANN entries
  * (q73 IVF, q74 PQ, q79 IVF-PQ, q89 SemDeDup) — VERDICT r3 #1.
  *
  * Exact top-k is computed DRIVER-SIDE from the raw vectors (independent
  * of every Spark path under test); thresholds are pinned ~0.1 under the
  * values measured by `graft.examples.RecallCurve` on this fixture
  * (sf0.01, 500×64 random floats — the HARDEST case for PQ: no cluster
  * structure; the measured curve is in SCALE.md). Seeds are fixed, so
  * drift here means an algorithmic regression, not noise.
  */
class AnnRecallSpec extends SparkSpec {

  private val K = 10
  private val NQ = 20

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet")
  private lazy val all = emb.select(col("vec_id"), col("embedding")).collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
  private lazy val corpusDf = emb.where(col("vec_id") >= NQ)
  private lazy val queriesDf =
    emb.where(col("vec_id") < NQ).select(col("vec_id"), col("embedding"))

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }
  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val x = a(i).toDouble - b(i); d += x * x; i += 1 }
    d
  }

  private def exactTop(metric: (Array[Float], Array[Float]) => Double,
      desc: Boolean): Map[Long, Set[Long]] = {
    val queries = all.filter(_._1 < NQ)
    val corpus = all.filter(_._1 >= NQ)
    queries.map { case (qid, qv) =>
      val ranked = corpus.map { case (cid, cv) => (cid, metric(qv, cv)) }
        .sortBy { case (cid, s) => (if (desc) -s else s, cid) }
      qid -> ranked.take(K).map(_._1).toSet
    }.toMap
  }
  private lazy val exactCos = exactTop(cos, desc = true)
  private lazy val exactL2 = exactTop(l2, desc = false)

  private def recall(got: DataFrame, exact: Map[Long, Set[Long]]): Double = {
    val g = got.select(col("query_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    exact.map { case (q, ex) =>
      ex.count(g.getOrElse(q, Set.empty).contains).toDouble / ex.size
    }.sum / exact.size
  }

  test("IVF: full probe exact; partial-probe recall clears pinned floors") {
    val ivf = IvfIndex.build(corpusDf, "vec_id", "embedding", nLists = 16)
    // full probe is EXACT regardless of how k-means fell out
    assert(recall(IvfIndex.search(ivf, queriesDf, "vec_id", "embedding",
      k = K, nProbe = 16), exactCos) == 1.0)
    // measured 0.915 @ nProbe=8, 0.660 @ nProbe=4 (RecallCurve)
    val r8 = recall(IvfIndex.search(ivf, queriesDf, "vec_id", "embedding",
      k = K, nProbe = 8), exactCos)
    val r4 = recall(IvfIndex.search(ivf, queriesDf, "vec_id", "embedding",
      k = K, nProbe = 4), exactCos)
    assert(r8 >= 0.80, s"IVF recall@$K at nProbe=8/16 dropped to $r8")
    assert(r4 >= 0.50, s"IVF recall@$K at nProbe=4/16 dropped to $r4")
    assert(r8 >= r4, "recall must not decrease with more probes")
  }

  test("PQ: ADC floor and shortlist re-rank clears 0.8 at m=16") {
    val pq = PqIndex.build(corpusDf, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 16)
    // measured 0.415 pure-ADC, 0.850 @ L=50, 0.955 @ L=100 (RecallCurve)
    val adc = recall(PqIndex.search(pq, queriesDf, "vec_id", "embedding",
      k = K), exactL2)
    val rr50 = recall(PqIndex.searchRerank(pq, corpusDf, "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = K, shortlist = 50), exactL2)
    val rr100 = recall(PqIndex.searchRerank(pq, corpusDf, "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = K, shortlist = 100), exactL2)
    assert(adc >= 0.30, s"PQ m=16 ADC recall@$K dropped to $adc")
    assert(rr50 >= 0.70, s"PQ m=16 rerank L=50 recall@$K dropped to $rr50")
    assert(rr100 >= 0.85, s"PQ m=16 rerank L=100 recall@$K dropped to $rr100")
    assert(rr100 >= rr50 && rr50 >= adc,
      "re-ranking with a longer shortlist must not lose recall")
  }

  test("IVF-PQ: composed recall floors; probe bound respected") {
    val ivfpq = IvfPq.build(corpusDf, "vec_id", "embedding",
      dim = 64, nLists = 16, m = 8, ksub = 16)
    // measured 0.300 ADC / 0.645 rerank-L=50 at nProbe=8 (RecallCurve);
    // recall is bounded by probe coverage by design — unprobed lists are
    // never read, that IS the 100 TB scan bound
    val adc8 = recall(IvfPq.search(ivfpq, queriesDf, "vec_id", "embedding",
      k = K, nProbe = 8), exactL2)
    val rr8 = recall(IvfPq.searchRerank(ivfpq, queriesDf, "vec_id", "embedding",
      k = K, nProbe = 8, shortlist = 50), exactL2)
    assert(adc8 >= 0.20, s"IVF-PQ ADC recall@$K at nProbe=8 dropped to $adc8")
    assert(rr8 >= 0.50, s"IVF-PQ rerank recall@$K at nProbe=8 dropped to $rr8")
    assert(rr8 >= adc8, "exact re-rank must not lose recall vs pure ADC")
  }

  test("SemDeDup: prune-rate band, threshold monotonicity, zero split leaks") {
    def prune(tau: Double): (Double, DataFrame) = {
      val v = SemanticDedup.verdicts(emb, "vec_id", "embedding",
        nClusters = 8, threshold = tau)
      val n = v.count().toDouble
      (v.where(col("is_kept") === 0).count() / n, v)
    }
    // measured 0.448 / 0.188 / 0.060 at tau 0.30 / 0.35 / 0.40
    val (p30, _) = prune(0.30)
    val (p35, verdicts) = prune(0.35)
    val (p40, _) = prune(0.40)
    assert(p35 >= 0.10 && p35 <= 0.30,
      s"SemDeDup prune rate at tau=0.35 out of band: $p35")
    assert(p30 > p35 && p35 > p40,
      s"prune rate must fall as tau rises: $p30 / $p35 / $p40")

    // composed with the q100 split policy (split assigned per CLUSTER of
    // semantic-dup links): no (item, dup_of) pair may straddle splits —
    // the train/eval-leak guarantee the split exists for
    val links = verdicts.where(col("dup_of").isNotNull)
      .select(col("vec_id").as("v1"), col("dup_of").as("v2"))
    val clusters = DedupClusters.clusters(
      emb.select(col("vec_id")), "vec_id", links, "v1", "v2")
    val bucket = pmod(
      pmod(col("cluster_id"), lit(1000003L)) * lit(2654435761L), lit(1000L))
    val split = clusters.select(col("doc_id").as("vid"),
      when(bucket < 900, "train").when(bucket < 950, "val")
        .otherwise("test").as("split"))
    val leaks = links
      .join(split.select(col("vid").as("v1"), col("split").as("s1")), "v1")
      .join(split.select(col("vid").as("v2"), col("split").as("s2")), "v2")
      .where(col("s1") =!= col("s2")).count()
    assert(leaks == 0L, s"$leaks semantic-dup links straddle a split")
    assert(links.count() > 0, "sanity: some dup links exist at tau=0.35")
  }
}
