package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{MinHashArray, PolyHash, SimHashBits, TimeBucket}

/** graft's custom Catalyst expressions as SQL functions, declared once.
  *
  * The object is a session extension: [[HarnessSession.builder]] passes
  * it to `withExtensions`, so every session built there — and every
  * `newSession()`/`cloneSession()` of it (per-database serving
  * sessions, streaming's cloned sessions) — resolves these names with
  * no further call. A session built elsewhere gets them through
  * [[registerAll]]; without either, a query using them fails analysis
  * with `UNRESOLVED_ROUTINE`.
  */
object GraftFunctions extends (SparkSessionExtensions => Unit) {

  /** Parameter arguments (band counts, plane offsets, seeds) must be
    * literals — evaluating a non-foldable expression at registration
    * time would throw an opaque analysis-internal error. */
  private def foldableNum(e: Expression, fn: String, arg: String): Number = {
    require(e.foldable,
      s"$fn: argument '$arg' must be a literal, got ${e.sql}")
    e.eval() match {
      case n: Number => n
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be numeric, got $other")
    }
  }

  /** (SQL name, builder) for every function graft adds. */
  val table: Seq[(String, FunctionBuilder)] = Seq(
    "time_bucket" -> (exprs => TimeBucket(exprs(0), exprs(1))),
    "poly_hash" -> (exprs => PolyHash(exprs(0))),
    "minhash_array" -> (exprs => MinHashArray(exprs(0),
      foldableNum(exprs(1), "minhash_array", "k").intValue())),
    "simhash_bits" -> (exprs => SimHashBits(exprs(0))),
    "term_counts" -> (exprs => graft.functions.TermCounts(exprs(0))),
    "vec_cosine" ->
      (exprs => graft.functions.CosineSimilarity(exprs(0), exprs(1))),
    "lsh_bucket" -> (exprs => graft.functions.HyperplaneBucket(exprs(0),
      foldableNum(exprs(1), "lsh_bucket", "planes").intValue(),
      foldableNum(exprs(2), "lsh_bucket", "offset").intValue())),
    "shingle_hashes" -> (exprs => graft.functions.ShingleHashes(exprs(0),
      foldableNum(exprs(1), "shingle_hashes", "n").intValue(),
      foldableNum(exprs(2), "shingle_hashes", "seed").longValue())),
    "shingle_hashes_pos" -> (exprs => graft.functions.ShingleHashes(exprs(0),
      foldableNum(exprs(1), "shingle_hashes_pos", "n").intValue(),
      foldableNum(exprs(2), "shingle_hashes_pos", "seed").longValue(),
      dedupe = false)),
    "winnow_select" -> (exprs => graft.functions.WinnowSelect(exprs(0),
      foldableNum(exprs(1), "winnow_select", "w").intValue())),
    "deflate_ratio" -> (exprs => graft.functions.DeflateRatio(exprs(0))),
    "sorted_intersect_count" ->
      (exprs => graft.functions.SortedIntersectCount(exprs(0), exprs(1))),
    "bloom_might_contain" -> (exprs =>
      graft.functions.BloomMightContain(exprs(0), {
        require(exprs(1).foldable,
          "bloom_might_contain: filter bytes must be a literal")
        exprs(1).eval().asInstanceOf[Array[Byte]]
      })),
    "bpe_encode" -> (exprs => graft.operators.BpeEncode(exprs(0), {
      require(exprs(1).foldable, "bpe_encode: merge table must be a literal")
      graft.operators.Bpe.parseMerges(exprs(1).eval().toString)
    })),
    "rand_project" -> (exprs => graft.functions.RandProject(exprs(0),
      foldableNum(exprs(1), "rand_project", "k").intValue(),
      foldableNum(exprs(2), "rand_project", "offset").intValue())),
  )

  override def apply(ext: SparkSessionExtensions): Unit =
    table.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getCanonicalName, name), builder))
    }

  /** Register the table into a session not built by [[HarnessSession]]
    * (callers of `SparkEntry` may pass a session they built themselves). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
