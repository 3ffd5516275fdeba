package graft.detectors

import java.util.regex.Pattern
import scala.collection.mutable.ListBuffer

/** Time-range classification over TimeDetector output (reference 12h range
  * formats, ner_v2/detectors/temporal/time/en/time_detection.py):
  * "7 pm to 9 pm", "between 7 and 9 pm" (meridiem distributes to the open
  * side), "from 19:00 till 21:00". Lone times pass through as `normal`.
  */
final case class DetectedTimeRange(start: Option[DetectedTime],
    end: Option[DetectedTime], rangeType: String, original: String)

final class TimeRangeDetector {

  private val td = new TimeDetector()
  private val ph = raw"__dtime_(\d+)__"
  private val pPair = Pattern.compile(
    raw"(?:from\s+|between\s+)?$ph\s*(?:to|till|until|and|-)\s*$ph")
  private val pStart = Pattern.compile(raw"(?:from|after|starting)\s+$ph")
  private val pEnd = Pattern.compile(raw"(?:until|till|before|by)\s+$ph")
  private val pLone = Pattern.compile(ph)
  // 24h range ("10:00 to 14:00") — the reference's
  // _detect_range_24_hour_format (time_detection.py:342-417) runs BEFORE
  // the single-time detectors, hardcodes nn='hrs' on both endpoints
  // (deterministic — no within-12h clock inference), and takes only the
  // FIRST match (the loop breaks)
  private val tzGrp = s"((?:${TimeDetector.timezoneAlt}))?"
  private val p24Range = Pattern.compile(
    raw"\b((?:from)?$tzGrp\s*(00?|0?[2-9]|0?1[0-9]?|2[0-3])[:.\s]?([0-5][0-9])[\s-]*?$tzGrp\s*" +
      raw"(?:to|-|till|until|untill|upto|up to)[\s-]*?$tzGrp\s*(00?|0?[2-9]|0?1[0-9]?|2[0-3])[:.\s]?([0-5][0-9])[\s-]*?$tzGrp)" +
      raw"(?!\s*(?:am|pm|a\.m\.?|p\.m\.?|(?:${TimeDetector.timezoneAlt})|\d))")

  def detect(text0: String): Seq[DetectedTimeRange] = {
    var lowered = text0.toLowerCase(java.util.Locale.ROOT)
    val pre = ListBuffer.empty[(Int, DetectedTimeRange)]
    locally {
      val m = p24Range.matcher(lowered)
      if (m.find()) {
        val orig = m.group(1).strip()
        val s = DetectedTime(m.group(3).toInt, m.group(4).toInt, "hrs", orig)
        val e = DetectedTime(m.group(7).toInt, m.group(8).toInt, "hrs", orig)
        pre += ((m.start(1), DetectedTimeRange(Some(s), Some(e), "range", orig)))
        lowered = lowered.substring(0, m.start(1)) + "__time_range__" +
          lowered.substring(m.end(1))
      }
    }
    val times = td.detect(lowered)

    var tagged = lowered
    val byIdx = scala.collection.mutable.Map.empty[Int, DetectedTime]
    times.zipWithIndex.foreach { case (t, i) =>
      val m = Pattern.compile(Pattern.quote(t.original)).matcher(tagged)
      if (m.find()) {
        tagged = tagged.substring(0, m.start()) + s"__dtime_${i}__" +
          tagged.substring(m.end())
      }
      byIdx(i) = t
    }

    // bare hours inside range contexts ("between 7 and 9 pm", "7 pm to 9"):
    // TimeDetector itself never claims a lone number, so tag them here as
    // nn=hrs placeholders — the distribution rule below fills the meridiem
    // from the closed side (reference 12h-range form)
    var nextId = times.length
    def tagBare(p: Pattern, group: Int): Unit = {
      var m = p.matcher(tagged)
      while (m.find()) {
        val numStr = m.group(group)
        val hh = numStr.toInt
        if (hh >= 1 && hh <= 12) {
          byIdx(nextId) = DetectedTime(hh, 0, "hrs", numStr)
          tagged = tagged.substring(0, m.start(group)) +
            s"__dtime_${nextId}__" + tagged.substring(m.end(group))
          nextId += 1
          m = p.matcher(tagged) // string changed: restart the scan
        }
      }
    }
    tagBare(Pattern.compile(
      raw"(?:between|from)\s+(\d{1,2})\s+(?:and|to|till|until)\s+$ph"), 1)
    tagBare(Pattern.compile(
      raw"$ph\s*(?:to|till|until|and|-)\s*(\d{1,2})\b"), 2)

    // the range sub-detectors claim their whole matches; the 24h range
    // found above keeps its place ahead of them
    val c = new Cascade[DetectedTimeRange](tagged, "__time_range__",
      Cascade.literal, _.original)
    pre.foreach { case (at, r) => c.keep(at, r) }

    def original(span: String): String =
      raw"__dtime_(\d+)__".r.replaceAllIn(span,
        m => java.util.regex.Matcher.quoteReplacement(byIdx(m.group(1).toInt).original))

    def run(p: Pattern)(mk: java.util.regex.Matcher => DetectedTimeRange): Unit =
      c.runMatch(p)(m => Some(mk(m)))

    /** "between 7 and 9 pm": the open side (nn=hrs from a bare hour) takes
      * the closed side's meridiem — the 12h range distribution rule.
      */
    def distribute(a: DetectedTime, b: DetectedTime): (DetectedTime, DetectedTime) = {
      if (a.nn == "hrs" && (b.nn == "am" || b.nn == "pm") && a.hh <= 12)
        (a.copy(nn = b.nn), b)
      else if (b.nn == "hrs" && (a.nn == "am" || a.nn == "pm") && b.hh <= 12)
        (a, b.copy(nn = a.nn))
      else (a, b)
    }

    run(pPair) { m =>
      val (s, e) = distribute(byIdx(m.group(1).toInt), byIdx(m.group(2).toInt))
      DetectedTimeRange(Some(s), Some(e), "range", original(m.group()))
    }
    run(pStart) { m =>
      DetectedTimeRange(Some(byIdx(m.group(1).toInt)), None, "start_range",
        original(m.group()))
    }
    run(pEnd) { m =>
      DetectedTimeRange(None, Some(byIdx(m.group(1).toInt)), "end_range",
        original(m.group()))
    }
    run(pLone) { m =>
      val t = byIdx(m.group(1).toInt)
      DetectedTimeRange(Some(t), Some(t), "normal", original(m.group()))
    }

    // daypart default ranges — reference formats 20-24
    // (_get_{morning,afternoon,evening,night,default}_time_range,
    // time_detection.py:1434-1722): fire ONLY when no explicit time was
    // detected anywhere in the message (`if not time_list` gate at :200-210)
    if (times.isEmpty && pre.isEmpty) {
      val dayparts = Seq(
        (raw"morning|early|subah|mrng|mrning|savere",
          (12, 0, "am"), (11, 0, "am")),
        (raw"noon|afternoon", (11, 0, "am"), (5, 0, "pm")),
        (raw"evening|evng|evning|sham", (5, 0, "pm"), (9, 0, "pm")),
        (raw"night|nite|tonight|latenight|tonit|nit|rat",
          (9, 0, "pm"), (12, 0, "am")),
        (raw"no particular preference|no preference|no particular time|" +
          raw"no time|anytime|any time|all day|full day|entire day|entireday",
          (12, 0, "am"), (11, 59, "pm")))
      for ((alt, s0, e0) <- dayparts)
        c.run(Pattern.compile(raw"\b((?:$alt)\s*(?:in|of|at)?)\b")) { m =>
          val span = m.group(1).strip()
          Some(DetectedTimeRange(Some(DetectedTime(s0._1, s0._2, s0._3, span)),
            Some(DetectedTime(e0._1, e0._2, e0._3, span)), "range", span))
        }
    }

    c.results
  }
}
