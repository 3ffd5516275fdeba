package graft.query

import graft.functions.EditDistance

/** ES-style fuzzy term expansion over an in-memory dictionary: auto:4,7
  * edit budget, first char fixed, <= 50 expansions per token preferring
  * smaller edit distance then higher df (reference fuzziness semantics,
  * see Searcher.fuzzyExpandByToken for the large-vocabulary Spark twin).
  * Shared by the driver-cached reader tier (IndexReader) and the broadcast
  * dictionary detector (surface.LocalDetector) so both resolve queries
  * byte-identically.
  */
object FuzzyExpand {

  def expand(m: scala.collection.Map[String, Searcher.TermStats],
      tokens: Seq[String]): Seq[Searcher.TermStats] =
    tokens.flatMap { q =>
      val kEd = EditDistance.autoFuzzyEdits(q.length)
      if (kEd == 0) m.get(q).toSeq
      else {
        val cands = m.valuesIterator.flatMap { ts =>
          val t = ts.term
          if (t.isEmpty || q.isEmpty || t.charAt(0) != q.charAt(0)) None
          else if (math.abs(t.length - q.length) > kEd) None
          else {
            val d = EditDistance.osa(q, t, kEd)
            if (d <= kEd) Some((d, ts)) else None
          }
        }.toSeq
        cands.sortBy { case (d, ts) => (d, -ts.df, ts.term) }.take(50).map(_._2)
      }
    }.distinct
}
