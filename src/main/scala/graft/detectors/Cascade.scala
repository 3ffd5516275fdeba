package graft.detectors

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable.{ArrayBuffer, ListBuffer}

/** The span-claiming cascade under the rule-based detectors: the
  * reference's ordered `detector_preferences` pipeline, each stage claiming
  * its spans by tag substitution before the next stage runs
  * (standard_date_regex.py:62-85, standard_number_detector.py:66-102,
  * text_detection.py:311-324).
  *
  * Consumption contract. A detector runs its sub-detectors in preference
  * order over one text. A sub-detector first finds every match on the text
  * as the earlier claims left it; then, in match order, it claims each
  * result's `original`: the FIRST occurrence of that span under the
  * detector's boundary rule is replaced by the detector's tag, and the
  * result is kept, anchored at that position, only when the span was still
  * there. A span that occurs twice is claimed once per result, first
  * occurrence first; later sub-detectors never see a claimed span. The
  * results come back stably sorted by position (reference O5).
  *
  * First-occurrence claimers, and their boundary rules: [[DateDetector]]
  * and [[ShoppingSizeDetector]] (`\b…\b`), [[TimeDetector]], the zh-TW
  * number engine and the range phase of [[DateRangeDetector]],
  * [[TimeRangeDetector]] and [[NumberRangeDetector]], which claims whole
  * matches over placeholders (literal),
  * [[NumberDetector]] ([[SpanBoundary]]). The reference's other policy,
  * which removes EVERY occurrence of a span and keeps preference order
  * rather than position order, stays with `StandardDateRegex`,
  * `StandardTimeRegex`, [[DateAdvancedDetector]] and [[BudgetDetector]].
  */
private[detectors] final class Cascade[T](text0: String, tag: String,
    boundary: String => Pattern, originalOf: T => String) {

  private var consumed = text0
  private val kept = ArrayBuffer.empty[(Int, T)]

  /** The text as the claims so far left it. */
  def text: String = consumed

  /** Every match of `p` on the text as it stands, mapped by `f`, in match
    * order; `pad` is appended for patterns that need a trailing separator
    * at the end of the text. Claims nothing.
    */
  def find[R](p: Pattern, pad: String = "")(
      f: Matcher => IterableOnce[R]): collection.Seq[R] = {
    val m = p.matcher(if (pad.isEmpty) consumed else consumed + pad)
    val found = ListBuffer.empty[R]
    while (m.find()) found ++= f(m)
    found
  }

  /** Replaces the first occurrence of `span` with the tag (or with `as`,
    * for a detector that tags its inputs with indexed placeholders before
    * it claims its own spans); returns its position, or -1 when the span is
    * no longer in the text.
    */
  def claim(span: String, as: String = tag): Int = {
    val m = boundary(span).matcher(consumed)
    if (!m.find()) -1
    else {
      val at = m.start()
      consumed = consumed.substring(0, at) + as + consumed.substring(m.end())
      at
    }
  }

  /** Keeps `r` anchored at position `at`. */
  def keep(at: Int, r: T): Unit = kept += ((at, r))

  /** One sub-detector: find every result, then claim each one's original.
    * Returns how many results it found, claimed or not.
    */
  def run(p: Pattern, pad: String = "")(f: Matcher => IterableOnce[T]): Int = {
    val found = find(p, pad)(f)
    found.foreach(r => claimFor(originalOf(r), r :: Nil))
    found.length
  }

  /** A sub-detector whose match yields several results over one span (date
    * ranges, repeat days, nth week): the span, the first result's original,
    * is claimed once and every result of the group is anchored at its
    * position, in group order. Empty groups claim nothing.
    */
  def runShared(p: Pattern, pad: String = "")(f: Matcher => IterableOnce[Seq[T]]): Unit =
    find(p, pad)(f).foreach(group =>
      if (group.nonEmpty) claimFor(originalOf(group.head), group))

  /** A sub-detector whose result claims the whole match rather than its own
    * original: the range forms, which match over placeholders and rebuild
    * their originals from them.
    */
  def runMatch(p: Pattern)(f: Matcher => Option[T]): Unit =
    find(p)(m => f(m).map((m.group(), _)))
      .foreach { case (span, r) => claimFor(span, r :: Nil) }

  private def claimFor(span: String, group: Seq[T]): Unit = {
    val at = claim(span)
    if (at >= 0) group.foreach(keep(at, _))
  }

  /** The kept results, stably sorted by position. */
  def results: Seq[T] = kept.sortBy(_._1).map(_._2).toSeq
}

private[detectors] object Cascade {
  /** The span as a whole `\b`-bounded run. */
  val wordBounded: String => Pattern =
    s => Pattern.compile(raw"\b" + Pattern.quote(s) + raw"\b")
  /** The span anywhere in the text. */
  val literal: String => Pattern = s => Pattern.compile(Pattern.quote(s))
}
