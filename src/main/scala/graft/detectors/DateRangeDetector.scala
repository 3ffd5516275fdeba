package graft.detectors

import java.time.LocalDate
import java.util.regex.Pattern
import scala.collection.mutable.ListBuffer

/** Date-range classification (reference `_detect_range`,
  * ner_v2/detectors/temporal/date/date_detection.py:166-300): detected
  * dates are tagged as placeholders, then span patterns classify
  * from/to pairs ("16th aug to 27th aug", "from X till Y",
  * "between X and Y"), open starts ("from X", "after X") and open ends
  * ("until X", "before X"). Unclassified dates pass through as `normal`.
  *
  * DateDetector's own range sub-detectors (ddth-of-mmm-to-ddth etc.) emit
  * two dates sharing ONE original span; those arrive here pre-paired and
  * map straight to a `range` result. Week fans (nth-week-of-month) share
  * an original across >2 dates and pass through as `normal` entries.
  */
final case class DetectedDateRange(start: Option[DetectedDate],
    end: Option[DetectedDate], rangeType: String, original: String)

final class DateRangeDetector(referenceDate: LocalDate) {

  private val dd = new DateDetector(referenceDate)
  private val ph = raw"__ddate_(\d+)__"
  private val pPair = Pattern.compile(
    raw"(?:from\s+|between\s+)?$ph\s*(?:to|till|until|and|-)\s*$ph")
  private val pStart = Pattern.compile(raw"(?:from|after|starting)\s+$ph")
  private val pEnd = Pattern.compile(raw"(?:until|till|before|by|upto|up to)\s+$ph")
  private val pLone = Pattern.compile(ph)

  def detect(text0: String): Seq[DetectedDateRange] = {
    val lowered = text0.toLowerCase(java.util.Locale.ROOT)
    val dates = dd.detect(lowered)

    val c = new Cascade[DetectedDateRange](lowered, "__date_range__",
      Cascade.literal, _.original)

    // peel off shared-original runs first: a pair is an in-detector range,
    // a longer fan (week-of-month) is a set of normal dates
    val singles = ListBuffer.empty[DetectedDate]
    var i = 0
    while (i < dates.length) {
      var j = i + 1
      while (j < dates.length && dates(j).original == dates(i).original) j += 1
      val run = dates.slice(i, j)
      if (run.length >= 2) {
        val at = c.claim(run.head.original)
        if (at >= 0) {
          if (run.length == 2)
            c.keep(at, DetectedDateRange(Some(run(0)), Some(run(1)), "range",
              run.head.original))
          else run.foreach(d =>
            c.keep(at, DetectedDateRange(Some(d), Some(d), "normal", d.original)))
        }
      } else singles += run.head
      i = j
    }

    // the remaining dates become indexed placeholders for the span patterns
    val byIdx = singles.zipWithIndex.map { case (d, k) =>
      c.claim(d.original, as = s"__ddate_${k}__")
      k -> d
    }.toMap

    def original(span: String): String =
      raw"__ddate_(\d+)__".r.replaceAllIn(span,
        m => java.util.regex.Matcher.quoteReplacement(byIdx(m.group(1).toInt).original))

    def run(p: Pattern)(mk: java.util.regex.Matcher => DetectedDateRange): Unit =
      c.runMatch(p)(m => Some(mk(m)))

    run(pPair) { m =>
      DetectedDateRange(Some(byIdx(m.group(1).toInt)), Some(byIdx(m.group(2).toInt)),
        "range", original(m.group()))
    }
    run(pStart) { m =>
      DetectedDateRange(Some(byIdx(m.group(1).toInt)), None,
        "start_range", original(m.group()))
    }
    run(pEnd) { m =>
      DetectedDateRange(None, Some(byIdx(m.group(1).toInt)),
        "end_range", original(m.group()))
    }
    run(pLone) { m =>
      val d = byIdx(m.group(1).toInt)
      DetectedDateRange(Some(d), Some(d), "normal", original(m.group()))
    }

    c.results
  }
}

/** One detected date with the reference's five attribute booleans
  * (DateAdvancedDetector output dict, date_detection.py:536-570).
  */
final case class AdvancedDate(value: DetectedDate, normal: Boolean,
    from: Boolean, to: Boolean, startRange: Boolean, endRange: Boolean,
    original: String)

/** Faithful mirror of the reference DateAdvancedDetector
  * (ner_v2/detectors/temporal/date/date_detection.py:25-431): the detect
  * pipeline runs _detect_range → _detect_return_date →
  * _detect_departure_date → _detect_any_date, consuming matched originals
  * from the processed text between stages.
  */
final class DateAdvancedDetector(referenceDate: LocalDate,
    locale: Option[String] = None,
    pastDateReferenced: Boolean = false,
    botMessage: Option[String] = None) {

  private val dd = new DateDetector(referenceDate, "date", locale, pastDateReferenced)

  private val ddRe = raw"[12][0-9]|3[01]|0?[1-9]"
  // _detect_range regex 1: "2 to 5 jan" (date_detection.py:180-189)
  private val patA = Pattern.compile(
    raw"\b(($ddRe)\s?(?:nd|st|rd|th)?(?:(?:\s*\-\s*)|\s+(?:to|till|se)\s+)" +
      raw"($ddRe)\s?(?:nd|st|rd|th)?[\s,]+(?:of\s+)?([a-z]+))\b")
  // _detect_range regex 2: "2nd jan to 5th [feb]" (:191-201)
  private val patB = Pattern.compile(
    raw"\b(($ddRe)\s?(?:nd|st|rd|th)?[\s,]+(?:of\s+)?([a-z]+)" +
      raw"(?:(?:\s*\-\s*)|\s+(?:to|till|se)\s+)" +
      raw"($ddRe)\s?(?:nd|st|rd|th)?(?:[\s,]+(?:of\s+)?([a-z]+))?)\b")
  // keyword-anchored departure/return captures (:312-342)
  private val departureRe = Pattern.compile(
    raw"\b(?:check(?:\s|\-)?in date (?:is|\:)?|onward date\s?(?:\:|\-)?|" +
      raw"departure date|leaving on|starting from|departing on|departing|" +
      raw"going on|departs on|for)\s+(.+?)(?:\band|&|(?<!\d)\.|$$)")
  private val returnRe = Pattern.compile(
    raw"\b(?:check(?:\s|\-)?out date (?:is|\:)?|coming back|" +
      raw"return date\s?(?:\:|\-)?|returning on|returning at|arriving|" +
      raw"arrive|return|back)\s+(.+?)(?:\band|&|(?<!\d)\.|$$)")
  private val returnHinglishRe = Pattern.compile(
    raw"(.+?)\s+(?:ko?\s+)?(?:aana|ana|aunga|aaun)")
  // bot-message flags for the single-date fallback (:375-393)
  private val botDepartureRe = Pattern.compile(
    raw"traveling on|going on|starting on|departure date|date of travel|" +
      raw"check in date|check-in date|date of check-in|date of departure\.|" +
      "जाने|जाऊँगा|जाना")
  private val botArrivalRe = Pattern.compile(
    raw"traveling back|coming back|returning back|returning on|return date|" +
      raw"arrival date|check out date|check-out date|date of check-out|check out|" +
      "आने|आगमन|अनेका|रिटर्न")

  private def fromText(text: String, from: Boolean = false,
      to: Boolean = false, startRange: Boolean = false,
      endRange: Boolean = false, normal: Boolean = false): Seq[AdvancedDate] =
    dd.detect(text).map(d =>
      AdvancedDate(d, normal, from, to, startRange, endRange, d.original))

  private def spansOf(p: Pattern, text: String): Seq[String] = {
    val m = p.matcher(text)
    val out = ListBuffer.empty[String]
    while (m.find()) out += m.group(1)
    out.toSeq
  }

  def detect(text0: String): Seq[AdvancedDate] = {
    // reference pads the message with spaces (detect_entity :135-137)
    var processed = " " + text0.toLowerCase(java.util.Locale.ROOT) + " "
    val out = ListBuffer.empty[AdvancedDate]

    def consume(found: Seq[AdvancedDate]): Unit =
      // _update_processed_text removes EVERY occurrence (:285)
      found.foreach(a => processed = processed.replace(a.original, ""))

    val ranges = detectRanges(processed)
    out ++= ranges; consume(ranges)

    val rets = {
      val spans1 = {
        val m = returnRe.matcher(processed)
        val s = ListBuffer.empty[String]; while (m.find()) s += m.group(1); s.toSeq
      }
      val spans = if (spans1.nonEmpty) spans1 else {
        val m = returnHinglishRe.matcher(processed)
        val s = ListBuffer.empty[String]; while (m.find()) s += m.group(1); s.toSeq
      }
      spans.flatMap(t => fromText(t, to = true))
    }
    out ++= rets; consume(rets)

    val deps = {
      val m = departureRe.matcher(processed)
      val s = ListBuffer.empty[String]; while (m.find()) s += m.group(1)
      s.toSeq.flatMap(t => fromText(t, from = true))
    }
    out ++= deps; consume(deps)

    val anys0 = fromText(processed)
    val anys =
      if (anys0.length > 1) anys0.map(_.copy(normal = true))
      else anys0.map { a =>
        if (botMessage.exists(b => botDepartureRe.matcher(b).find())) a.copy(from = true)
        else if (botMessage.exists(b => botArrivalRe.matcher(b).find())) a.copy(to = true)
        else a.copy(normal = true)
      }
    out ++= anys
    out.toSeq
  }

  private def detectRanges(processed: String): Seq[AdvancedDate] = {
    val out = ListBuffer.empty[AdvancedDate]
    val aSpans = spansOf(patA, processed)
    val bSpans = spansOf(patB, processed)
    val spans = if (aSpans.nonEmpty) aSpans else bSpans
    if (spans.nonEmpty) {
      for (span <- spans) {
        val ds = fromText(span)
        if (ds.length == 2)
          out ++= Seq(ds(0).copy(startRange = true), ds(1).copy(endRange = true))
      }
    } else {
      // pairwise split on range separators within and/or clauses (:222-247)
      for (sentencePart <- processed.split(raw"\s+(?:and|aur|&|or)\s+")) {
        val parts = sentencePart.split(raw"\s+(?:\-|to|till|se)\s+")
        var skip = false
        for (k <- 0 until math.max(0, parts.length - 1)) {
          if (skip) skip = false
          else {
            val startList = fromText(parts(k), startRange = true)
            val endList = fromText(parts(k + 1), endRange = true)
            if (startList.nonEmpty && endList.nonEmpty) {
              val s = startList.head
              val e = endList.last
              val dayTypes = Set("day_within_one_week", "day_in_next_week")
              if (dayTypes(s.value.dtype) && dayTypes(e.value.dtype))
                out ++= fixDayRange(s, e)
              else { out += s; out += e }
              skip = true
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** "Monday to Friday" asked mid-range also yields the current week's
    * (partially past) range plus next week's (_fix_day_range :251-300).
    */
  private def fixDayRange(s: AdvancedDate, e: AdvancedDate): Seq[AdvancedDate] = {
    val startDate = LocalDate.of(s.value.yy, s.value.mm, s.value.dd)
    val endDate = LocalDate.of(e.value.yy, e.value.mm, e.value.dd)
    var startList = Seq(s)
    var endList = Seq(e)
    if (endDate.isBefore(startDate)) {
      val cur = startDate.minusDays(7)
      startList = s.copy(value = DetectedDate(cur.getDayOfMonth,
        cur.getMonthValue, cur.getYear, "past", s.value.original)) +: startList
      val nxt = endDate.plusDays(7)
      endList = endList :+ e.copy(value = DetectedDate(nxt.getDayOfMonth,
        nxt.getMonthValue, nxt.getYear, "day_in_next_week", e.value.original))
    }
    startList ++ endList
  }
}
