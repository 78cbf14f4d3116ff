package graft.queries

import graft.SparkSpec

/** Pins q145's size-adaptive census (r15): the window arm (local
  * winner on small inputs) and the zip_with-over-arrays arm (fewer
  * shuffles on large ones) must produce identical rows, and each arm
  * must have its intended plan shape. */
class PhraseSearchSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def windowArm =
    RetrievalQueries.phraseHits(RetrievalQueries.windowCensus(docs))
  private def arrayArm =
    RetrievalQueries.phraseHits(RetrievalQueries.arrayCensus(docs))

  test("window and array census arms produce identical rows") {
    // each arm by name, regardless of the fixture's size
    val win = windowArm.collect().toSeq
    val arr = arrayArm.collect().toSeq
    assert(win.nonEmpty, "fixture must exercise the phrase probe")
    assert(win == arr)
  }

  test("dispatch: window arm below the cutover, array arm above") {
    import org.apache.spark.sql.execution.FormattedMode
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(FormattedMode)
    // the window arm's census runs two leads over a per-doc window; the
    // array arm has no Window operator anywhere in its lineage
    assert(planOf(windowArm).contains("Window"),
      "small input must take the window census")
    assert(!planOf(arrayArm).contains("Window"),
      "large input must take the window-free array census")
    // SizeGate routes the tiny fixture to the window arm
    assert(planOf(RetrievalQueries.phraseSearch(docs)).contains("Window"))
  }

  test("SizeGate reads the sf0.001 documents scan small") {
    assert(graft.operators.SizeGate.small(docs))
  }
}
