package graft.functions

import graft.SparkSpec

/** term_counts edge semantics: null array → null (nullSafeEval), null
  * ELEMENTS skipped (the output struct's term field is non-null, so a
  * null token has no encoding — and it is not a term). */
class TermCountsSpec extends SparkSpec {

  test("term_counts skips null elements and counts the rest") {
    val rows = spark.sql(
      """SELECT term_counts(array('a', CAST(NULL AS STRING), 'b', 'a')) AS tc,
        |       term_counts(CAST(NULL AS ARRAY<STRING>)) AS tnull,
        |       term_counts(array(CAST(NULL AS STRING))) AS tonly
        |""".stripMargin).collect()
    val tc = rows.head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(tc == Seq(("a", 2L), ("b", 1L)), tc.toString)
    assert(rows.head.isNullAt(1))
    assert(rows.head.getSeq[Any](2).isEmpty)
  }
}
