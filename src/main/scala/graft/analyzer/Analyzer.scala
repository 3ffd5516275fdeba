package graft.analyzer

import scala.collection.mutable

/** The shared analysis kernel: standard-tokenizer mimic + lowercase +
  * Porter (english) stemmer — the chain the reference installs as ES
  * `my_analyzer` (datastore/elastic_search/create.py:94-111:
  * tokenizer `standard`, filter [`standard`,`lowercase`,`my_stemmer`]).
  *
  * Index-time and query-time MUST both call into this object; the analyzer
  * symmetry is what makes query terms hit index terms.
  */
object Analyzer {

  /** Full analysis chain: tokenize → lowercase → stem. */
  def analyze(text: String): Array[String] = {
    val toks = Tokenizer.tokenizeTerms(text)
    var i = 0
    while (i < toks.length) {
      toks(i) = PorterStemmer.stem(lower(toks(i)))
      i += 1
    }
    toks
  }

  /** Analysis preserving offsets (for highlight / substring recovery). */
  def analyzeWithOffsets(text: String): Array[Token] = {
    val toks = Tokenizer.tokenize(text)
    toks.map(t => Token(PorterStemmer.stem(lower(t.term)), t.start, t.end))
  }

  /** Per-document term frequencies in ONE pass, row-local.
    *
    * This is the map-side-combine of the index build: computing tf inside
    * the row means the only shuffle in posting construction is the final
    * repartition-by-term — no (term, docId) pre-aggregation shuffle. At
    * 100 TB that removes the single largest intermediate exchange.
    * Returns terms in sorted order for deterministic downstream layout.
    */
  def termFrequencies(text: String): Array[(String, Int)] = termCounts(analyze(text))

  /** Sorted (term, tf) pairs of a token stream. */
  private[analyzer] def termCounts(toks: Array[String]): Array[(String, Int)] = {
    if (toks.isEmpty) return Array.empty
    val m = new mutable.HashMap[String, Int]()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      m.update(t, m.getOrElse(t, 0) + 1)
      i += 1
    }
    val arr = m.toArray
    java.util.Arrays.sort(arr, Ordering.by((p: (String, Int)) => p._1))
    arr
  }

  /** ASCII-fast lowercase with correct fallback for non-ASCII. */
  def lower(s: String): String = {
    var i = 0
    val n = s.length
    var asciiOnly = true
    var needsLower = false
    while (i < n && asciiOnly) {
      val c = s.charAt(i)
      if (c >= 128) asciiOnly = false
      else if (c >= 'A' && c <= 'Z') needsLower = true
      i += 1
    }
    if (!asciiOnly) s.toLowerCase(java.util.Locale.ROOT)
    else if (!needsLower) s
    else {
      val b = s.toCharArray
      var j = 0
      while (j < n) {
        val c = b(j)
        if (c >= 'A' && c <= 'Z') b(j) = (c + 32).toChar
        j += 1
      }
      new String(b)
    }
  }
}
