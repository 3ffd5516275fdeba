package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData, ArrayBasedMapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.analyzer.Analyzer

/** Static bridge the generated code calls into. Kept as a plain object with
  * JVM-friendly signatures so `doGenCode` can emit a single static call —
  * the expression participates in whole-stage codegen instead of forcing a
  * codegen fallback or a UDF serialization boundary.
  */
object AnalyzerBridge {
  def analyze(s: UTF8String): ArrayData = {
    val terms = Analyzer.analyze(s.toString)
    val out = new Array[AnyRef](terms.length)
    var i = 0
    while (i < terms.length) { out(i) = UTF8String.fromString(terms(i)); i += 1 }
    new GenericArrayData(out)
  }

  def termFrequencies(s: UTF8String): MapData = {
    val tfs = Analyzer.termFrequencies(s.toString)
    val keys = new Array[AnyRef](tfs.length)
    val vals = new Array[Any](tfs.length)
    var i = 0
    while (i < tfs.length) {
      keys(i) = UTF8String.fromString(tfs(i)._1)
      vals(i) = tfs(i)._2
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  def tokensWithOffsets(s: UTF8String): ArrayData = {
    val toks = Analyzer.analyzeWithOffsets(s.toString)
    val rows = new Array[AnyRef](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(t.term), t.start, t.end)
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** analyze(text) → array<string> of stemmed lowercase terms. */
case class AnalyzeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    AnalyzerBridge.analyze(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AnalyzerBridge.analyze($c)")
  override protected def withNewChildInternal(c: Expression): AnalyzeText = copy(c)
  override def prettyName: String = "graft_analyze"
}

/** term_frequencies(text) → map<string,int>, terms in sorted order.
  * The row-local tf computation that makes the index build single-shuffle.
  */
case class TermFrequencies(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    MapType(StringType, IntegerType, valueContainsNull = false)
  override def nullSafeEval(v: Any): Any =
    AnalyzerBridge.termFrequencies(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AnalyzerBridge.termFrequencies($c)")
  override protected def withNewChildInternal(c: Expression): TermFrequencies = copy(c)
  override def prettyName: String = "graft_term_frequencies"
}

/** analyze_offsets(text) → array<struct<term:string,start:int,end:int>>.
  * Offsets feed highlight parity / original-substring recovery (reference:
  * ner_v2/detectors/textual/text_detection.py:166-254).
  */
case class AnalyzeWithOffsets(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("start", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    AnalyzerBridge.tokensWithOffsets(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AnalyzerBridge.tokensWithOffsets($c)")
  override protected def withNewChildInternal(c: Expression): AnalyzeWithOffsets = copy(c)
  override def prettyName: String = "graft_analyze_offsets"
}

/** Column-level entry points (the library's public function surface).
  * `analyze`, `term_frequencies` and `analyze_offsets` run the standard
  * analyzer only ([[graft.analyzer.Analyzer]], `Analyzers.Standard`): they
  * match an index built with it, not one built with another analyzer.
  * A null input gives null.
  */
object functions {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
  def analyze(c: Column): Column = column(AnalyzeText(expression(c)))
  def term_frequencies(c: Column): Column = column(TermFrequencies(expression(c)))
  def analyze_offsets(c: Column): Column = column(AnalyzeWithOffsets(expression(c)))

  /** Dictionary-backed lemmatization of a token-array column (F4): the
    * (word, lemma) table — the caller's stand-in for a WordNet exception
    * list — is broadcast once and consulted before the built-in
    * irregular+suffix rules. Guarded: a lemma dictionary is vocabulary-
    * sized; refuse tables that clearly aren't one.
    */
  def lemmatize_with(table: org.apache.spark.sql.DataFrame,
      maxEntries: Int = 5000000): Column => Column = {
    val spark = table.sparkSession
    // single bounded fetch: one extra row past the cap proves the guard
    // without a separate count job or an unbounded collect
    val rows = table.limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"lemma table exceeds $maxEntries entries — not a vocabulary table")
    val m = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    val bc = spark.sparkContext.broadcast(m)
    val u = org.apache.spark.sql.functions.udf((tokens: Seq[String]) =>
      if (tokens == null) null
      else graft.analyzer.Lemmatizer.lemmatize(tokens.toArray, bc.value).toSeq)
    c => u(c)
  }
}
