package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Degenerate-shingle skew guards (VERDICT r3 #2): a boilerplate shingle
  * present in MOST documents makes one hot key. The specs pin, on a
  * planted-boilerplate corpus:
  *  - PassageCoverage.skewSafe output parity with the window form;
  *  - that the skewSafe plan is STRUCTURALLY skew-immune: no window over
  *    the shingle key, no shingle-keyed join, and the shingle-keyed
  *    shuffle collapses the hot key with map-side partial aggregation
  *    (AQE's skew-join was verified NOT to fire on the join-back shape —
  *    OptimizeSkewedJoin only matches SMJ over raw shuffle stages — so
  *    immunity must come from the plan, not the runtime);
  *  - that q99's collect_set groupBy carries map-side partial
  *    aggregation (the hot shingle's source-set collapses to <=#sources
  *    per map task BEFORE the shuffle — that shape needs no extra guard).
  */
class SkewGuardSpec extends SparkSpec {

  // 2000 docs, every one starting with the same 8-token boilerplate
  // banner (THE viral shingle), followed by unique filler
  private lazy val planted = {
    import spark.implicits._
    val boiler = "subscribe to our newsletter for all the latest updates"
    (0L until 2000L).map { i =>
      val uniq = (0 until 12).map(j => s"w${i}_$j").mkString(" ")
      (i, s"$boiler $uniq")
    }.toDF("doc_id", "text")
  }

  test("skewSafe output is identical to the window form on planted boilerplate") {
    val base = PassageCoverage.stats(planted, "doc_id", "text", shingleK = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val safe = PassageCoverage.stats(planted, "doc_id", "text", shingleK = 8,
        skewSafe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(base.sameElements(safe))
    // sanity: the planted boilerplate is actually counted as duplicated
    assert(base.forall(_._3 >= 1), "every doc shares the banner shingle")
  }

  test("skewSafe plan has no window and no join on the shingle key") {
    val df = PassageCoverage.stats(planted, "doc_id", "text", shingleK = 8,
      skewSafe = true)
    df.collect()
    val plan = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("Window"),
      s"skewSafe must not window over the shingle key:\n$plan")
    // the only join is the per-doc totals/uniques merge — keyed on doc_id
    val joinKeyLines = plan.linesIterator
      .filter(l => l.contains("keys") && l.contains(":")).toSeq
    assert(joinKeyLines.nonEmpty && !joinKeyLines.exists(_.contains("sh#")),
      s"no join may key on the shingle hash:\n$plan")
    // the shingle-keyed shuffle must collapse the hot key map-side:
    // partial (count, min-owner) aggregation before the exchange
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"expected map-side partial owner aggregation:\n$plan")
  }

  test("q99's source-set groupBy partially aggregates map-side") {
    // q99 localCheckpoints this fragment (so its own plan starts at the
    // checkpoint); rebuild it un-checkpointed to pin the aggregate shape
    val docs = graft.queries.t(spark, "/root/testdata/sf0.001", "documents")
    val grouped = docs
      .select(col("source"),
        explode(MinHashDedup.shingleHashesFromTokens(col("text"), 3)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    grouped.collect()
    val plan = grouped.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("partial_collect_set"),
      s"hot shingles must collapse to <=#sources per map task before the shuffle:\n$plan")
  }
}
