package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** SizeGate's decision on both sides: a known-small estimate reads
  * small, unknown statistics read large. The sf0.001 documents scan,
  * a compressed-parquet estimate, is pinned small in PhraseSearchSpec,
  * which owns that fixture. */
class SizeGateSpec extends SparkSpec {

  test("an empty local frame (estimate 0) reads small") {
    val empty = spark.emptyDataFrame
    assert(empty.queryExecution.optimizedPlan.stats.sizeInBytes == 0)
    assert(SizeGate.small(empty))
  }

  test("an RDD-backed frame (unknown stats) reads large") {
    val rdd = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)), 1),
      StructType(Seq(StructField("id", LongType))))
    assert(!SizeGate.small(rdd))
  }
}
