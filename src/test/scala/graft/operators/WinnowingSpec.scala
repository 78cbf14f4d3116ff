package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the winnowing contract: the native deque kernel equals the
  * literal per-window-min spelling, the MOSS guarantee holds (any shared
  * run of >= w+k-1 tokens ⇒ shared fingerprint), selection actually
  * prunes, and results are layout-independent. */
class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  private val K = 3 // shingle tokens
  private val W = 4 // winnow window

  /** Literal O(n·w) spelling: per-window array_min over slices — the
    * oracle form the native kernel must equal. */
  private def winnowRef(ph: org.apache.spark.sql.Column, w: Int) =
    array_distinct(transform(
      sequence(lit(1), greatest(size(ph) - (w - 1), lit(1))),
      j => array_min(slice(ph, j, lit(w)))))

  test("native winnow_select == literal per-window-min spelling") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 until 5 + rnd.nextInt(60))
        .map(_ => s"w${rnd.nextInt(40)}").mkString(" "))
    }.toDF("doc_id", "text").repartition(3)
    val ph = MinHashDedup.shingleHashesPosFromTokens(col("text"), K)
    val diff = docs
      .select(Winnowing.winnowSelect(ph, W).as("fast"), winnowRef(ph, W).as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("MOSS guarantee: shared run of w+k-1 tokens => shared fingerprint") {
    val rnd = new scala.util.Random(23)
    // pairs of docs with distinct vocabularies except a planted shared
    // run of exactly W + K - 1 tokens (one full window of shingles)
    val sharedRun = (0 until W + K - 1).map(i => s"shared$i").mkString(" ")
    val docs = (0 until 40).flatMap { p =>
      def filler(tag: String) =
        (0 until 10 + rnd.nextInt(20)).map(_ => s"$tag${rnd.nextInt(1000)}")
      val a = (filler(s"a$p") :+ sharedRun) ++ filler(s"x$p")
      val b = (filler(s"b$p") :+ sharedRun) ++ filler(s"y$p")
      Seq((2L * p, a.mkString(" ")), (2L * p + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")
    val fp = Winnowing.fingerprints(docs, "doc_id", "text", K, W)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val shared = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.doc_id") + 1 === col("b.doc_id") &&
          col("a.doc_id") % 2 === 0)
      .select(col("a.doc_id")).distinct().count()
    assert(shared == 40, s"every planted pair must share a fingerprint, got $shared/40")
  }

  test("selection density prunes toward 2/(w+1) without losing coverage") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s = Winnowing.stats(docs, "doc_id", "text", K, W)
      .agg(sum("n_fp").cast("double").as("fp"),
        sum("n_shingles").cast("double").as("sh"))
      .head
    val density = s.getDouble(0) / s.getDouble(1)
    // theoretical 2/(w+1) = 0.4 for random hashes; corpus repetition
    // pushes it around — assert a generous band that still proves
    // selection is happening and is not degenerate
    assert(density > 0.15 && density < 0.75, s"density $density")
  }

  test("deterministic across partition layouts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) =
      Winnowing.stats(docs.repartition(parts), "doc_id", "text", K, W)
        .orderBy("doc_id").collect().toSeq
    assert(run(1) == run(7))
  }
}
