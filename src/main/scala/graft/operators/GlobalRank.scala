package graft.operators

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Exact global ranking without a single-task sort.
  *
  * `ntile(k) OVER (ORDER BY ...)` — an empty PARTITION BY — executes as
  * ONE window task holding every row: the known global-sort anti-pattern
  * (SCALE.md). The scalable shape:
  *
  *   1. `repartitionByRange` on the sort key (sampled range exchange —
  *      partitions are globally ordered),
  *   2. sort within each partition (parallel),
  *   3. stamp exact global row numbers = partition offset + local index.
  *
  * Step 3 is fully columnar (VERDICT r2 #8 — the former
  * `RDD.zipWithIndex` round trip deserialized every row through a
  * RowEncoder and back): `monotonically_increasing_id()` already
  * encodes `partitionId << 33 | localRowIndex` in iteration order —
  * which IS the sorted order of the checkpointed partition — so the
  * local index is recovered arithmetically inside codegen. Partition
  * offsets come from ONE metadata-sized aggregation job (rows per
  * partition id, p rows total) and re-attach via a broadcast join.
  * Nothing leaves Tungsten; nothing gathers to one task.
  */
object GlobalRank {

  /** Exclusive offsets of `weight` per physical partition (and per
    * `group` value), accumulated in partition order over a checkpointed
    * range-sorted frame: ONE small job (p×G result rows), then a
    * (`_pid`, group..., `offCol`) frame to broadcast. A partition with
    * no rows gets no offset: it has nothing to stamp. Also returns the
    * grand total. */
  private[operators] def partitionOffsets(sorted: DataFrame, weight: Column,
      offCol: String, group: Seq[String] = Nil): (DataFrame, Long) = {
    val spark = sorted.sparkSession
    val sums = sorted.groupBy(spark_partition_id() +: group.map(col): _*)
      .agg(sum(weight)).collect().sortBy(_.getInt(0))
    val acc = scala.collection.mutable.Map.empty[Seq[Any], Long]
    val offsetRows = sums.toSeq.map { r =>
      val g = group.indices.map(i => r.get(1 + i))
      val o = acc.getOrElse(g, 0L); acc(g) = o + r.getLong(1 + group.size)
      Row.fromSeq((r.getInt(0) +: g) :+ o)
    }
    val schema = StructType((StructField("_pid", IntegerType, nullable = false)
      +: group.map(sorted.schema(_))) :+ StructField(offCol, LongType, nullable = false))
    (spark.createDataFrame(spark.sparkContext.parallelize(offsetRows, 1), schema),
      acc.values.sum)
  }

  /** Per-partition offsets + columnar row-number stamp over an already
    * range-partitioned, partition-sorted, checkpointed input. Returns
    * the stamped frame and the total row count (free from the counts). */
  private def stamp(sorted: DataFrame, rnCol: String): (DataFrame, Long) = {
    // rows per partition id
    val (offsetsDf, n) = partitionOffsets(sorted, lit(1L), "_offset")
    // local index = mid - (pid << 33); mid assignment follows iteration
    // order, which for the checkpointed sorted partition is sort order
    val out = sorted
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrn", monotonically_increasing_id() -
        shiftleft(spark_partition_id().cast("long"), 33))
      .join(broadcast(offsetsDf), "_pid")
      .withColumn(rnCol, col("_offset") + col("_lrn") + lit(1L))
      .select(sorted.columns.map(col) :+ col(rnCol): _*)
    (out, n)
  }

  private def rangeSorted(df: DataFrame, sortCols: Seq[Column]): DataFrame =
    df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism,
        sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .materialize() // pins partition contents/order across the
                         // counts job and the stamp job

  /** `df` + a global row-number column (1-based, ordered by sortCols).
    *
    * Size-adaptive like [[ntile]] (r14): inputs that [[SizeGate]] reads
    * small use the plain window `row_number` — one sort, zero extra
    * jobs, where the distributed shape pays a range exchange, a
    * checkpoint barrier, and a per-partition counts job (3+ jobs of
    * fixed latency). Larger inputs take [[distributedRowNumber]].
    * Identical output both ways for any deterministic total order
    * (callers tie-break their sort keys; GlobalRankSpec pins parity). */
  def withRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String = "rn"): DataFrame =
    if (SizeGate.small(df)) {
      val w = org.apache.spark.sql.expressions.Window.orderBy(sortCols: _*)
      df.withColumn(rnCol, row_number().over(w).cast("long"))
    } else distributedRowNumber(df, sortCols, rnCol)

  /** The offset-stamping arm of [[withRowNumber]], whatever the input
    * size: never gathers the table into a single task. */
  def distributedRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String = "rn"): DataFrame =
    stamp(rangeSorted(df, sortCols), rnCol)._1

  /** Exact NTILE(k) over a global ordering.
    *
    * Size-adaptive: inputs that [[SizeGate]] reads small use the plain
    * window (one sort, no extra passes — faster at small scale); larger
    * inputs take [[distributedNtile]]. Both produce identical results
    * (GlobalRankSpec). */
  def ntile(df: DataFrame, sortCols: Seq[Column], k: Int,
      bucketCol: String = "bucket"): DataFrame = {
    require(k > 0, "k must be positive")
    if (SizeGate.small(df)) {
      val w = org.apache.spark.sql.expressions.Window.orderBy(sortCols: _*)
      df.withColumn(bucketCol, org.apache.spark.sql.functions.ntile(k).over(w))
    } else distributedNtile(df, sortCols, k, bucketCol)
  }

  /** The offset-stamping arm of [[ntile]], whatever the input size. */
  def distributedNtile(df: DataFrame, sortCols: Seq[Column], k: Int,
      bucketCol: String = "bucket"): DataFrame = {
    require(k > 0, "k must be positive")
    val (withRn, n) = stamp(rangeSorted(df, sortCols), "_grn")
    // NTILE semantics: first (n % k) buckets hold ceil(n/k) rows
    val base = n / k
    val rem = n % k
    val bigCut = (base + 1) * rem
    val grn = col("_grn")
    val bucket =
      if (base == 0) grn.cast("int") // fewer rows than buckets
      else when(grn <= bigCut, ((grn - 1) / (base + 1)).cast("int") + 1)
        .otherwise((lit(rem) + (grn - bigCut - 1) / base).cast("int") + 1)
    withRn.withColumn(bucketCol, bucket).drop("_grn")
  }
}
