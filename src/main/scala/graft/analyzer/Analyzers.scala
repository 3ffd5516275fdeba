package graft.analyzer

/** Named analyzer registry — the index stores which analyzer built it
  * (SnapshotMeta.analyzer) and the query side resolves through the same
  * name, preserving the index/query symmetry invariant across analyzers.
  *
  * - `standard`: the reference's ES chain (standard tokenizer + lowercase +
  *   Porter) — [[Analyzer]], the default everywhere.
  * - `whitespace`: ES whitespace-tokenizer analog — split on `\s+`, no
  *   lowercase, no stemming. Its term stream equals DuckDB
  *   `list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')`, which
  *   is what makes a BM25 index over it END-TO-END replayable in the
  *   driver's SQL oracle (q_bm25_topk).
  */
object Analyzers {

  val Standard = "standard"
  val Whitespace = "whitespace"

  def analyze(name: String, text: String): Array[String] = name match {
    case Standard => Analyzer.analyze(text)
    case Whitespace => whitespaceTokens(text)
    case other => throw new IllegalArgumentException(s"unknown analyzer: $other")
  }

  /** Sorted (term, tf) pairs — the map-side combine inside the row. */
  def termFrequencies(name: String, text: String): Array[(String, Int)] =
    Analyzer.termCounts(analyze(name, text))

  private def whitespaceTokens(text: String): Array[String] =
    if (text == null) Array.empty
    else text.split("\\s+").filter(_.nonEmpty)
}
