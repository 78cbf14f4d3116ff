package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
  * the MOSS algorithm): hash every k-token shingle POSITION, slide a
  * w-window over the hash sequence, keep each window's minimum. The
  * selected set is ~2/(w+1) of all shingles yet guarantees that any two
  * documents sharing a run of >= w + k - 1 consecutive tokens share at
  * least one fingerprint — the local-fingerprinting property that plain
  * "every j-th hash" sampling lacks (WinnowingSpec pins it).
  *
  * 100 TB shape: fingerprint selection is pure per-row compute (native
  * O(n) monotone-deque kernel, [[graft.functions.WinnowSelect]]); the
  * cross-doc share statistics are one explode + one groupBy(fp) with
  * map-side partial counts + one equi-join back on fp — the same
  * inverted-index shape as MinHash banding, shuffling the ~2/(w+1)
  * selected subset instead of every shingle. No pairwise anything.
  *
  * Reference has no analog (it has no document pipeline at all); shape
  * follows the published winnowing paper. SURVEY §2.L58.
  */
object Winnowing {

  /** Per-doc winnowed fingerprint array (distinct selected hashes,
    * first-occurrence order) plus the positional shingle count. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, w: Int): DataFrame = {
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    docs.select(col(idCol), col(textCol))
      .repartition(parallelism) // CPU-bound per row; don't inherit file splits
      .select(col(idCol),
        MinHashDedup.shingleHashesPosFromTokens(col(textCol), shingleK).as("ph"))
      .select(col(idCol), size(col("ph")).as("n_shingles"),
        winnowSelect(col("ph"), w).as("fps"))
  }

  /** Native sliding-window-minimum selection over a positional hash
    * array — O(n) per row via a monotone deque. */
  def winnowSelect(posHashes: Column, w: Int): Column =
    call_function("winnow_select", posHashes, lit(w))

  /** Per-doc fingerprint stats with cross-corpus sharing: how many of a
    * doc's fingerprints appear in at least `minDocs` documents. The
    * doc-frequency table is a groupBy on the fingerprint value (partials
    * absorb boilerplate fingerprints map-side); the join back is equi on
    * fp with AQE free to split a hot fingerprint's partition. */
  def stats(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, w: Int, minDocs: Int = 2): DataFrame = {
    // materialized like MinHashDedup.signatures: the exploded stream
    // feeds BOTH the doc-frequency census and the join-back side, and
    // without the barrier the tokenize+winnow kernel runs once per
    // consumer (r14; plan showed the corpus scanned twice)
    import graft.Materialize._
    val fp = fingerprints(docs, idCol, textCol, shingleK, w).materialize()
    val ex = fp.select(col(idCol), col("n_shingles"),
      size(col("fps")).as("n_fp"), explode(col("fps")).as("fp"))
    // fps are distinct per doc, so count(*) per fp == document frequency
    val docFreq = ex.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
    ex.join(docFreq, Seq("fp"))
      .groupBy(col(idCol), col("n_shingles"), col("n_fp"))
      .agg(sum(when(col("n_docs") >= minDocs, 1L).otherwise(0L)).as("n_shared_fp"))
  }
}
