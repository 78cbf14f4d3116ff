package graft.operators

import org.apache.spark.sql.DataFrame

/** The one arm choice of the size-adaptive operators (GlobalRank,
  * ShardPack, BudgetSelect, GroupQuantile, DedupClusters' probe
  * placement, q145's census): a plan estimate under [[CutoverBytes]]
  * takes the single-task window arm (one sort, no extra jobs), anything
  * else the distributed arm, which never gathers the table into one
  * task and which each operator also exposes by name.
  *
  * CAVEAT (ADVICE r14): the estimate reads on-disk COMPRESSED bytes for
  * parquet-scan-rooted plans, and wide text commonly decompresses 3-10x
  * — a ~250 MB-compressed corpus can route into a window arm and sort
  * 1-2.5 GB in one task (slow, spilling, but exact: Spark's sorts are
  * external). Every gated composition in this repo ranks narrow
  * projections (ids, counts, weights), where the factor is small. Other
  * estimates err HUGE — joins overshoot, and unknown statistics
  * (RDD-backed frames) read `Long.MaxValue`, the distributed arm — so a
  * misroute only happens in the compressed-scan direction.
  */
object SizeGate {

  /** Below this the single-task window is cheaper than the multi-pass
    * distributed shapes. */
  val CutoverBytes: Long = 256L * 1024 * 1024

  /** True when `df`'s plan estimate is in [0, [[CutoverBytes]]). */
  def small(df: DataFrame): Boolean = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    est >= 0 && est < BigInt(CutoverBytes)
  }
}
