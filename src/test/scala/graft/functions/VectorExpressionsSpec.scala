package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native vec_cosine must be bit-identical to the HOF spelling it
  * replaced (same fold order, same round-8) — the HOF is the
  * DuckDB-oracle-parity reference implementation.
  */
class VectorExpressionsSpec extends SparkSpec {

  test("native cosine == HOF cosine across random float vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0 until 500).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
    val diff = df.select(
        VectorFunctions.cosine(col("a"), col("b")).as("fast"),
        VectorFunctions.cosineHof(col("a"), col("b")).as("ref"))
      .where(col("fast") =!= col("ref") ||
        col("fast").isNull =!= col("ref").isNull)
      .count()
    assert(diff == 0)
  }

  test("native lsh_bucket == HOF bucket for all bands") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (0 until 300).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "v")
    for (offset <- Seq(0, 8, 16); planes <- Seq(4, 8)) {
      val diff = df.select(
          VectorFunctions.lshBucketBand(col("v"), planes, offset).as("fast"),
          VectorFunctions.lshBucketHof(col("v"), planes, offset).as("ref"))
        .where(col("fast") =!= col("ref")).count()
      assert(diff == 0, s"planes=$planes offset=$offset")
    }
  }

  test("native rand_project == HOF projection, element for element") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val df = (0 until 300).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "v")
    for (offset <- Seq(0, 512); k <- Seq(4, 8)) {
      val diff = df.select(
          VectorFunctions.randProject(col("v"), k, offset).as("fast"),
          VectorFunctions.randProjectHof(col("v"), k, offset).as("ref"))
        .where(col("fast") =!= col("ref")).count()
      assert(diff == 0, s"k=$k offset=$offset")
    }
  }

  test("native cosine handles unit and null cases") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0))
      .toDF("a", "b", "want")
    val rows = df.select(VectorFunctions.cosine(col("a"), col("b")).as("c"),
      col("want")).collect()
    assert(rows.forall(r => math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
    val withNull = Seq((Array(1.0f), null: Array[Float])).toDF("a", "b")
    assert(withNull.select(VectorFunctions.cosine(col("a"), col("b")))
      .head().isNullAt(0))
  }
}
