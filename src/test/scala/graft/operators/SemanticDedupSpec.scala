package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SemanticDedupSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  test("verdicts match a driver-side reference on the same clustering") {
    val model = IvfIndex.build(emb, "vec_id", "embedding", nLists = 4)
    val got = SemanticDedup
      .verdictsFromAssignments(model.assignments, "vec_id", "embedding", 0.35)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3)))
      .toMap

    // reference: per cluster, item i is dropped iff ANY lower-id member
    // is within the threshold; dup_of = the smallest such id
    val rows = model.assignments.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val expected = rows.map { case (id, v, cl) =>
      val lower = rows.filter(o => o._3 == cl && o._1 < id &&
        cosine(o._2, v) >= 0.35).map(_._1)
      id -> (if (lower.isEmpty) -1L else lower.min, if (lower.isEmpty) 1 else 0)
    }.toMap
    assert(got == expected)
    assert(got.values.exists(_._2 == 1), "sanity: someone is kept")
  }

  test("planted exact duplicates are dropped against their originals") {
    import spark.implicits._
    val base = emb.limit(20)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    // copy each of the first 5 vectors under a high id: identical vectors
    // quantize to the same k-means cell, so every copy must be flagged
    val copies = base.take(5).map { case (id, v) => (1000L + id, v) }
    val corpus = (base ++ copies).toSeq.toDF("vec_id", "embedding")
    val out = SemanticDedup
      .verdicts(corpus, "vec_id", "embedding", nClusters = 4, threshold = 0.99)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3))).toMap
    copies.foreach { case (cid, _) =>
      assert(out(cid)._2 == 0, s"copy $cid must be dropped")
      assert(out(cid)._1 == cid - 1000L,
        s"copy $cid should point at its original, got ${out(cid)._1}")
    }
    // τ=0.99 with near-orthogonal random bases: originals survive
    base.take(5).foreach { case (id, _) =>
      assert(out(id)._2 == 1, s"original $id must be kept")
    }
  }

  test("verdicts are deterministic across runs") {
    val a = SemanticDedup.verdicts(emb, "vec_id", "embedding", 4, 0.35)
      .collect().map(_.toString).sorted
    val b = SemanticDedup.verdicts(emb, "vec_id", "embedding", 4, 0.35)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
