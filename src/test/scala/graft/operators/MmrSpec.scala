package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MMR greedy selection pinned against an independent driver fold on
  * randomized vectors, plus the diversity property that is the
  * operator's reason to exist. */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  private def round8(x: Double): Double =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    round8(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Independent greedy: argmax(rel − max sim to selected), ties to the
    * smaller id; empty-set penalty 0. */
  private def reference(qv: Array[Float], cands: Seq[(Long, Array[Float])],
      n: Int, k: Int): Seq[(Long, Long)] = {
    val short = cands.map { case (id, v) => (id, v, cos(qv, v)) }
      .sortBy { case (id, _, rel) => (-rel, id) }.take(n)
    var selected = List.empty[(Long, Array[Float])]
    var remaining = short.sortBy(_._1).toList
    val out = Seq.newBuilder[(Long, Long)]
    for (step <- 1 to k if remaining.nonEmpty) {
      val best = remaining.map { case (id, v, rel) =>
        val pen = if (selected.isEmpty) 0.0
          else selected.map(s => cos(v, s._2)).max
        (id, v, rel - pen)
      }.reduceLeft((a, b) => if (b._3 > a._3) b else a) // first wins ties
      out += ((step.toLong, best._1))
      selected ::= ((best._1, best._2))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    out.result()
  }

  private def vecs(seed: Int, count: Int, dim: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0L until count.toLong).map(id =>
      id -> Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  private def run(qv: Array[Float], cands: Seq[(Long, Array[Float])],
      n: Int, k: Int): DataFrame =
    Mmr.rerank(
      Seq((0L, qv)).toDF("query_id", "qv"),
      cands.toDF("cand_id", "cv"),
      shortlistN = n, k = k)

  test("matches the independent greedy on randomized vectors") {
    val all = vecs(11, 41, 8)
    val qv = all.head._2
    val cands = all.tail
    val got = run(qv, cands, n = 12, k = 6)
      .select("step", "cand_id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == reference(qv, cands, 12, 6))
  }

  test("a planted near-duplicate of the top hit is deferred, not #2") {
    val dim = 8
    val base = vecs(23, 20, dim)
    val qv = base.head._2
    // candidate 100 = almost the query; 101 = tiny perturbation of 100
    // (rel ranks them #1 and #2, but MMR must NOT pick 101 second)
    val near = qv.map(x => (x * 1.001f + 0.0005f))
    val dup = near.map(x => (x * 1.0002f))
    val cands = base.tail ++ Seq((100L, near), (101L, dup))
    val got = run(qv, cands, n = 10, k = 3)
      .select("step", "cand_id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.head._2 == 100L, s"step 1 must be pure argmax rel: $got")
    assert(got(1)._2 != 101L,
      s"the near-duplicate must lose step 2 to a diverse candidate: $got")
    // and the whole run still agrees with the reference fold
    assert(got == reference(qv, cands, 10, 3))
  }

  test("step 1 relevance is the maximum; scores never increase past step 2") {
    val all = vecs(37, 30, 8)
    val rows = run(all.head._2, all.tail, n = 16, k = 8)
      .orderBy("step").collect()
    val rels = all.tail.map(c => cos(all.head._2, c._2))
    assert(rows.head.getAs[Double]("rel") == rels.max)
    // from step 2 on, every candidate's penalty grows monotonically as
    // the selected set grows, so the argmax can only fall. (Step 1→2 is
    // exempt: the empty-set penalty is 0, and a NEGATIVE sim to the
    // first pick can push step 2's score above step 1's.)
    rows.drop(1).sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Double]("score") <= a.getAs[Double]("score") + 1e-12,
          "greedy MMR scores are non-increasing after step 2")
      case _ =>
    }
  }

  test("the shortlist collect is bounded") {
    intercept[IllegalArgumentException] {
      Mmr.rerank(Seq((0L, Array(1f))).toDF("query_id", "qv"),
        Seq((1L, Array(1f))).toDF("cand_id", "cv"),
        shortlistN = 0, k = 1)
    }
  }

  test("a large query batch is rejected at the bounded collect (r11/r12)") {
    // each query is within budget alone; 700 x 128 = 89,600 shortlist
    // rows breaches the 65,536 driver cap. r12's pre-collect
    // queries.count() guard cost a fixed job per call (q162 regressed
    // 1.3-1.4x); the guard now lives IN the collect — limit(budget+1)
    // means the driver can never receive more than budget+1 rows, and
    // overflow still refuses with the same contract
    val queries = (0L until 700L).map(i => (i, Array(1f, 0f)))
      .toDF("query_id", "qv")
    val corpus = (1L to 128L).map(i => (i, Array(1f, 0f))).toDF("cand_id", "cv")
    val e = intercept[IllegalArgumentException] {
      Mmr.rerank(queries, corpus, shortlistN = 128, k = 1)
    }
    assert(e.getMessage.contains("query batch"), e.getMessage)
  }

  test("the pairwise sim collect is bounded too (r8 advice)") {
    // a shortlist that passes the rel-rows guard can still imply a
    // quadratic sims frame (worst case ~4.3e9 rows at N=65536) — must
    // refuse BEFORE collecting it
    val corpus = (1L to 3000L).map(i => (i, Array(1f, 0f))).toDF("cand_id", "cv")
    intercept[IllegalArgumentException] {
      Mmr.rerank(Seq((0L, Array(1f, 0f))).toDF("query_id", "qv"),
        corpus, shortlistN = 3000, k = 1)
    }
  }
}
