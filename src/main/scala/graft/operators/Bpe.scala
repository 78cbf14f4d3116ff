package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Byte-pair-encoding tokenizer (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016) —
  * real subword tokenization for the token-budget operators (q84 shard
  * packing, q102 budget selection) instead of the whitespace/regex
  * approximation, plus the vocabulary itself as a corpus artifact.
  *
  * Two halves, mirroring the reference implementation's structure:
  *
  *  - [[learn]]: merge-table training. The classic algorithm is
  *    inherently sequential (each merge changes the pair counts), and
  *    the standard implementation runs over the WORD-FREQUENCY DICT,
  *    not the corpus — so the Spark shape is: one distributed
  *    tokenize + groupBy(word) census (the only corpus scan), cap to
  *    the `maxWords` most frequent words (rare words contribute
  *    negligible pair mass — same pruning the reference BPE codebases
  *    apply via min-frequency), then the driver loops merges over that
  *    bounded dict. 100 TB corpus ⇒ one aggregation; driver state is
  *    O(maxWords), enforced, never corpus-sized.
  *
  *  - [[encodeExpr]] ([[BpeEncode]]): distributed encoding. A native
  *    Catalyst expression (codegen'd via addReferenceObj, like
  *    bloom_might_contain) applies the learned merges per word with
  *    the textbook greedy lowest-rank-first loop. The merge table
  *    ships once per executor inside the plan.
  *
  * No SQL oracle exists (the merge loop is iterative/sequential), so
  * the surface is spec-pinned: known hand-computed merges, lossless
  * round-trip (concat(pieces) == word), determinism, and monotone
  * piece counts as merges grow (BpeSpec).
  */
object Bpe {

  /** End-of-word marker appended to each word's last symbol, the
    * Sennrich convention — lets a learned vocab distinguish "low" from
    * "low-" prefixes. Chosen outside the token alphabet. */
  val Eow = "</w>"

  final case class Model(merges: Seq[(String, String)]) {
    /** wire form for the foldable-literal function argument: one
      * "left right" pair per line (pieces are whitespace-split words +
      * the EOW marker — neither can contain a space or newline) */
    def serialized: String =
      merges.map { case (a, b) => a + " " + b }.mkString("\n")
  }

  def parseMerges(s: String): Seq[(String, String)] =
    if (s.isEmpty) Seq.empty
    else s.split("\n").toSeq.map { line =>
      val sp = line.indexOf(' ')
      (line.substring(0, sp), line.substring(sp + 1))
    }

  /** Learn `numMerges` merges from the corpus' word-frequency census.
    * @param maxWords driver-state bound: the census keeps only the most
    *   frequent `maxWords` words (deterministic count-desc, word-asc
    *   tie-break). */
  def learn(docs: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 100000): Model = {
    require(numMerges >= 0 && maxWords > 0)
    val dict = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    Model(learnFromDict(dict, numMerges))
  }

  /** Driver-side merge loop over the bounded word dict (the classic
    * sequential algorithm; O(maxWords × avg word len) state). */
  private[operators] def learnFromDict(dict: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    // each word as its symbol sequence, with the EOW marker fused onto
    // the last character
    var words: Array[(Array[String], Long)] = dict.map { case (w, c) =>
      val chars = w.map(_.toString).toArray
      chars(chars.length - 1) = chars(chars.length - 1) + Eow
      (chars, c)
    }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < numMerges) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          j += 1
        }
      }
      if (counts.isEmpty) return merges.toSeq
      // deterministic argmax: count desc, then lexicographic pair
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
      merges += best
      val fused = best._1 + best._2
      words = words.map { case (syms, c) =>
        if (syms.length < 2) (syms, c)
        else {
          val out = new mutable.ArrayBuffer[String](syms.length)
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
              out += fused; j += 2
            } else { out += syms(j); j += 1 }
          }
          (out.toArray, c)
        }
      }
      i += 1
    }
    merges.toSeq
  }

  /** `bpe_encode(text)` → array of subword pieces for the whole text
    * (words split on whitespace; EOW markers on the last piece of each
    * word are KEPT — callers counting tokens or building a vocab need
    * the boundary distinction). Requires the GraftFunctions extension
    * on the session (see HarnessSession). */
  def encodeExpr(text: Column, model: Model): Column =
    call_function("bpe_encode", text, lit(model.serialized))

  /** Piece count per text — the token-budget number. */
  def countExpr(text: Column, model: Model): Column =
    size(encodeExpr(text, model))
}

/** Native codegen'd BPE encoder; the merge table rides the plan via
  * addReferenceObj (deserialized once per executor). */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode expects string, got ${other.simpleString}")
  }

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    // flat "a b" keys: one hash probe per candidate pair, no tuple
    // allocation in the hot loop
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, i) }
    m
  }

  def encode(s: UTF8String): ArrayData = {
    val words = s.toString.trim.split("\\s+")
    val out = mutable.ArrayBuffer.empty[Any]
    words.foreach { w =>
      if (w.nonEmpty) encodeWord(w, out)
    }
    new GenericArrayData(out.toArray)
  }

  private def encodeWord(w: String, out: mutable.ArrayBuffer[Any]): Unit = {
    var syms = new mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) { syms += w.charAt(i).toString; i += 1 }
    syms(syms.length - 1) = syms(syms.length - 1) + Bpe.Eow
    // greedy textbook loop: repeatedly merge the lowest-rank adjacent
    // pair until none is mergeable
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue; var bestAt = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) done = true
      else {
        syms(bestAt) = syms(bestAt) + syms(bestAt + 1)
        syms.remove(bestAt + 1)
        if (syms.length < 2) done = true
      }
    }
    syms.foreach(p => out += UTF8String.fromString(p))
  }

  override def nullSafeEval(v: Any): Any = encode(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncoder", this, classOf[BpeEncode].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
