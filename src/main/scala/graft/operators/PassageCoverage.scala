package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicated-passage coverage — the MEASURE step of substring-level
  * dedup (Lee et al. 2021): per document, how many of its k-token
  * shingles also occur in at least one OTHER document. Extracted from
  * q86 so the skew guard is a first-class operator knob (VERDICT r3 #2).
  *
  * Default shape: the distinct (doc, shingle-hash) stream shuffles once
  * on the hash and a count-over-window reads the doc frequency (the
  * stream is distinct per doc, so the partition count IS the doc
  * frequency), then one per-doc rollup. Linear, never pairwise.
  *
  * `skewSafe`: a degenerate shingle shared by millions of docs (viral
  * boilerplate) lands one giant window partition on ONE task — a window
  * cannot be split by AQE, and a count-join-back is NOT split either
  * (OptimizeSkewedJoin only matches SMJ(Sort(shuffle), Sort(shuffle));
  * an aggregate under the sort breaks the pattern, because a
  * post-shuffle-computed side cannot be re-read in slices). skewSafe
  * therefore avoids the shingle-keyed join entirely via owner
  * attribution: the stream is distinct per doc (ShingleHashes dedups),
  * so n_dup = n_shingles − #(this doc's shingles with doc-frequency 1),
  * and a frequency-1 shingle's single owner is min(doc_id) inside the
  * SAME algebraic groupBy(sh). Every shuffle carries map-side partial
  * aggregation (the hot key collapses BEFORE the wire) and the only
  * join is keyed on doc_id — uniform by construction. Cost: the shingle
  * stream is computed twice (totals + owners); at 100 TB re-reading
  * beats persisting an exploded stream larger than the corpus. Output
  * identical either way (SkewGuardSpec pins parity on a
  * planted-boilerplate corpus).
  */
object PassageCoverage {

  /** Per-document (idCol, n_shingles, n_dup). Callers derive the
    * coverage ratio (q86 rounds it integer-exactly for its oracle). */
  def stats(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, skewSafe: Boolean = false): DataFrame = {
    // spread to full parallelism first: shingle hashing is CPU-bound and
    // a few parquet splits would serialize it through a handful of tasks
    val sh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        explode(MinHashDedup.shingleHashesFromTokens(col(textCol), shingleK))
          .as("sh"))
    if (!skewSafe) {
      val w = Window.partitionBy(col("sh"))
      sh.withColumn("nd", count(lit(1)).over(w))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("nd") >= 2, lit(1))).as("n_dup"))
    } else {
      val totals = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
      val uniq = sh.groupBy(col("sh"))
        .agg(count(lit(1)).as("nd"), min(col(idCol)).as("_owner"))
        .where(col("nd") === 1)
        .groupBy(col("_owner")).agg(count(lit(1)).as("_n_uniq"))
      totals.join(uniq, totals(idCol) === uniq("_owner"), "left")
        .select(totals(idCol), col("n_shingles"),
          (col("n_shingles") - coalesce(col("_n_uniq"), lit(0L))).as("n_dup"))
    }
  }
}
