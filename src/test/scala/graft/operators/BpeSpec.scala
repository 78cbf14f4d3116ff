package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val W = Bpe.Eow

  // the classic Sennrich fixture: low x5, lower x2, newest x6, widest x3
  private def corpus = Seq(
    Seq.fill(5)("low"), Seq.fill(2)("lower"),
    Seq.fill(6)("newest"), Seq.fill(3)("widest")
  ).flatten.mkString(" ")

  test("learns the textbook merge sequence with deterministic tie-breaks") {
    val model = Bpe.learn(Seq(corpus).toDF("text"), "text", numMerges = 4)
    // pair counts: (e,s)=9 ties (s,t</w>)=9 -> lexicographic picks (e,s);
    // then (es,t</w>)=9; then (l,o)=7; then the 6-count tie resolves to (e,w)
    assert(model.merges == Seq(
      ("e", "s"), ("es", "t" + W), ("l", "o"), ("e", "w")), model.merges)
  }

  test("greedy encoding applies lowest-rank merges first") {
    val model = Bpe.learn(Seq(corpus).toDF("text"), "text", numMerges = 4)
    val pieces = Seq("newest", "low lower")
      .toDF("text")
      .select(Bpe.encodeExpr(col("text"), model).as("p"))
      .as[Seq[String]].collect()
    assert(pieces(0) == Seq("n", "ew", "est" + W), pieces(0))
    // "low" -> lo + w</w>; "lower" -> lo,w,e,r</w> (no (lo,w) merge learned)
    assert(pieces(1) == Seq("lo", "w" + W, "lo", "w", "e", "r" + W), pieces(1))
  }

  test("encoding is lossless: concatenated pieces minus EOW = input words") {
    val model = Bpe.learn(Seq(corpus).toDF("text"), "text", numMerges = 3)
    val texts = Seq("newest widest low", "unseen tokens also work")
    val joined = texts.toDF("text")
      .select(col("text"), Bpe.encodeExpr(col("text"), model).as("p"))
      .as[(String, Seq[String])].collect()
    joined.foreach { case (text, p) =>
      val rebuilt = p.mkString("").replace(W, " ").trim
      assert(rebuilt == text, s"'$text' -> $p")
    }
  }

  test("piece counts shrink (weakly) as the merge table grows") {
    val df = Seq(corpus).toDF("text")
    val counts = Seq(0, 2, 4, 8).map { n =>
      val m = Bpe.learn(df, "text", numMerges = n)
      df.select(Bpe.countExpr(col("text"), m)).as[Int].collect().head
    }
    assert(counts.sliding(2).forall(w => w(1) <= w(0)), counts)
    // 0 merges = pure characters (+1 EOW fused, so chars == pieces)
    val nChars = corpus.replace(" ", "").length
    assert(counts.head == nChars)
  }

  test("maxWords census cap bounds driver state without changing hot merges") {
    val m = Bpe.learn(Seq(corpus).toDF("text"), "text",
      numMerges = 2, maxWords = 2)
    // only newest(6) and low(5) survive the cap: (e,s)=6 ties (s,t</w>)=6
    // and (n,e)=(w,e)=(e,w)=6, (l,o)=(o,w</w>)=5 -> lexicographic (e,s)
    assert(m.merges.head == ("e", "s"), m.merges)
  }

  test("empty and whitespace-only text encode to zero pieces") {
    val model = Bpe.Model(Seq(("a", "b")))
    val out = Seq("", "   ").toDF("text")
      .select(Bpe.countExpr(col("text"), model)).as[Int].collect()
    assert(out.toSeq == Seq(0, 0))
  }
}
