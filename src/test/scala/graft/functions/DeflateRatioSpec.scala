package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** deflate_ratio has no SQL oracle (DuckDB has no deflate), so the
  * contract is property-pinned: ordering (repetitive < prose <
  * incompressible), bounds, determinism across runs and partition
  * layouts, and null/empty handling. */
class DeflateRatioSpec extends SparkSpec {
  import spark.implicits._

  private def ratios(texts: Seq[String], parts: Int = 2): Seq[Double] = {
    texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("id", "text").repartition(parts)
      .select(col("id"), TextFunctions.compressionRatio(col("text")).as("r"))
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
  }

  test("ordering: repetition compresses below prose, junk stays near 1") {
    val repetitive = "spam " * 400
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders along the river bank looking for interesting things to eat " * 4
    val junk = new scala.util.Random(5).nextString(2000) // high-entropy unicode
    val Seq(rRep, rProse, rJunk) = ratios(Seq(repetitive, prose, junk))
    assert(rRep < 0.05, s"repetition must collapse: $rRep")
    assert(rRep < rProse && rProse < rJunk,
      s"expected $rRep < $rProse < $rJunk")
    assert(rProse < 1.0 && rJunk > 0.5)
  }

  test("bounds, empty, and null") {
    val out = Seq((0, ""), (1, "a"), (2, null: String))
      .toDF("id", "text")
      .select(col("id"), TextFunctions.compressionRatio(col("text")).as("r"))
      .orderBy("id").collect()
    assert(out(0).getDouble(1) == 1.0, "empty input is neutral")
    assert(out(1).getDouble(1) > 0.0)
    assert(out(2).isNullAt(1), "null propagates")
  }

  test("deterministic across runs and partition layouts") {
    val texts = (0 until 50).map(i => s"doc $i " + ("tok " * (i % 17)))
    assert(ratios(texts, parts = 1) === ratios(texts, parts = 8))
    assert(ratios(texts, parts = 3) === ratios(texts, parts = 3))
  }
}
