package graft.analyzer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.functions.{functions => gf}

/** The Catalyst analyzer expressions equal the standard analyzer they wrap,
  * over AnalyzerSpec's tokenizer inputs plus a null row: once evaluated on
  * the driver over the local relation, once through whole-stage codegen
  * after a repartition.
  */
class AnalyzerColumnSpec extends SparkTestBase {

  private val texts: Seq[String] = Seq(
    "import org.apache.spark.sql.functions",
    "def foo_bar(x: Int): Boolean = x > 0",
    "don't stop-me now; it's 3.14 times",
    "  __init__  self._x2 = y[3] + z  ",
    "CamelCaseToken snake_case_token UPPER",
    "a b  c", "", "...",
    "naïve café 北京 привет мир",
    "x+y=z a&b|c",
    "running runs RUN ran runner",
    null)

  private def check(df: DataFrame): Unit = {
    val rows = df.select(col("id"), gf.analyze(col("text")),
        gf.term_frequencies(col("text")), gf.analyze_offsets(col("text")))
      .collect()
    assert(rows.length == texts.length)
    for (r <- rows) {
      val text = texts(r.getLong(0).toInt)
      if (text == null) assert((1 to 3).forall(r.isNullAt), "null input gives null")
      else {
        assert(r.getSeq[String](1) == Analyzer.analyze(text).toSeq, text)
        val tfs = Analyzers.termFrequencies(Analyzers.Standard, text).toSeq
        assert(r.getMap[String, Int](2).toMap == tfs.toMap, text)
        assert(r.getSeq[Row](3).map(t => Token(t.getString(0), t.getInt(1), t.getInt(2))) ==
          Analyzer.analyzeWithOffsets(text).toSeq, text)
      }
    }
  }

  private lazy val input = {
    val s = spark
    import s.implicits._
    texts.indices.map(i => (i.toLong, texts(i))).toDF("id", "text")
  }

  test("analyze, term_frequencies and analyze_offsets equal the standard analyzer") {
    check(input)
    check(input.repartition(2))
  }

  test("term_frequencies keys arrive in sorted order") {
    val keys = input.select(col("id"),
        org.apache.spark.sql.functions.map_keys(gf.term_frequencies(col("text"))))
      .collect().filter(r => !r.isNullAt(1))
      .map(r => r.getLong(0).toInt -> r.getSeq[String](1)).toMap
    for ((i, ks) <- keys)
      assert(ks == Analyzers.termFrequencies(Analyzers.Standard, texts(i)).map(_._1).toSeq)
  }
}
