package graft.query

/** BM25 scoring kernel, shared verbatim by the WAND path and the exact
  * (oracle) path so scores are bit-identical between them.
  *
  * The reference disables field-length norms on its scored field
  * (`'norms': {'enabled': False}`, datastore/elastic_search/create.py:177),
  * which in Lucene's BM25Similarity collapses the length normalization —
  * equivalent to b = 0. That is the default here; standard BM25 (b = 0.75,
  * needs doc length / avgdl) is supported for general corpora.
  *
  * idf follows Lucene's BM25: ln(1 + (N - df + 0.5) / (df + 0.5)).
  */
final case class BM25(k1: Double = 1.2, b: Double = 0.0) {

  def idf(df: Long, n: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** Term-frequency saturation. norm = doclen/avgdl (ignored when b=0). */
  def tfWeight(tf: Int, norm: Double): Double =
    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * norm))

  def score(tf: Int, df: Long, n: Long, norm: Double = 1.0): Double =
    idf(df, n) * tfWeight(tf, norm)

  /** Per-posting norm: doclen/avgdl when norms are on (b > 0 and the
    * posting carries a doclen), else 0 — exactly the b = 0 collapse.
    */
  def normOf(doclen: Int, avgdl: Double): Double =
    if (b == 0.0 || doclen <= 0 || avgdl <= 0.0) 0.0 else doclen / avgdl
}
