package graft.detectors

import java.util.regex.Pattern
import scala.collection.mutable.ListBuffer

/** Number-range detection (reference
  * ner_v2/detectors/numeral/number_range/standard_number_range_detector.py):
  * two-phase — numbers are first tagged as `__dnumber_N__` placeholders,
  * then SIX ordered sub-detectors classify spans (pipeline at :66-72):
  * min-max pair, min prefix/suffix, max prefix/suffix, absolute. Keyword
  * variants follow the en number_range_keywords.csv semantics
  * (above/more-than → min prefix; onwards/or-more → min suffix;
  * max/upto/below/less-than → max prefix; to/- → min_max separator).
  */
final case class DetectedRange(minValue: Option[String],
    maxValue: Option[String], unit: Option[String], original: String)

/** The five keyword families driving range classification, as regex
  * alternations (reference number_range_keywords.csv semantics: position
  * -1 = before the number, 1 = after, 0 = between min and max).
  */
final case class RangeKeywords(minPrefix: String, minSuffix: String,
    maxPrefix: String, maxSuffix: String, sep: String)

object RangeKeywords {

  /** en keyword families — the full variant set of
    * en/data/number_range_keywords.csv ('more den'/'mor den'/'or abov'/
    * 'or abv'/'around'/'less den' included), plus the conversational
    * extras 'under'/'till'/'until' kept from round 1 (a benign superset).
    */
  val en: RangeKeywords = RangeKeywords(
    minPrefix = raw"(?:above|abv|abov|more than|mor than|more den|mor den|greater than|greater|over)",
    minSuffix = raw"(?:onwards|and above|or above|or more|or great|or abov|or abv)",
    maxPrefix = raw"(?:max|upto|up to|around|below|less than|less den|less|under)",
    maxSuffix = raw"(?:max)",
    sep = raw"(?:to|till|until|-)")

  private def alt(kws: Seq[String]): String =
    if (kws.isEmpty) raw"(?:\b\B)" // unmatchable
    else kws.sortBy(-_.length).map(java.util.regex.Pattern.quote)
      .mkString("(?:", "|", ")")

  /** Build the families from a per-language keyword table
    * (variants, position, range_type).
    */
  def fromTable(table: Seq[(Seq[String], Int, String)]): RangeKeywords = {
    def pick(pos: Int, rtype: String): Seq[String] =
      table.collect { case (vs, p, t) if p == pos && t == rtype => vs }.flatten
    RangeKeywords(
      minPrefix = alt(pick(-1, "min")),
      minSuffix = alt(pick(1, "min")),
      maxPrefix = alt(pick(-1, "max")),
      maxSuffix = alt(pick(1, "max")),
      sep = alt(pick(0, "min_max")))
  }
}

final class NumberRangeDetector(entityName: String = "number_range",
    unitsMap: Map[String, String] = Map.empty,
    keywords: RangeKeywords = RangeKeywords.en,
    numberDetectorOverride: Option[NumberDetection] = None,
    requireUnit: Boolean = false,
    customBetween: Boolean = true) {

  private val tag = s"__${entityName}__"
  private val numberDetector: NumberDetection = numberDetectorOverride
    .getOrElse(new NumberDetector(entityName, unitsMap, minDigits = 1,
      maxDigits = 100))

  private val minPrefix = keywords.minPrefix
  private val minSuffix = keywords.minSuffix
  private val maxPrefix = keywords.maxPrefix
  private val maxSuffix = keywords.maxSuffix
  private val sep = keywords.sep

  private val ph = raw"__dnumber_(\d+)__"
  private val pMinMax = Pattern.compile(raw"$ph\s*$sep\s*$ph")
  // the reference's en subclass adds 'between <num> and|- <num>' as a
  // custom sub-detector ranked right after min_max (en/
  // number_range_detection.py:_custom_num_range_between_num_and_num);
  // only en has it — language-generic detectors pass customBetween=false
  private val pBetween = Pattern.compile(raw"between\s+$ph\s+(?:and|-)\s+$ph")
  private val pMinPrefix = Pattern.compile(raw"$minPrefix\s+$ph")
  private val pMinSuffix = Pattern.compile(raw"$ph\s+$minSuffix")
  private val pMaxPrefix = Pattern.compile(raw"$maxPrefix\s+$ph")
  private val pMaxSuffix = Pattern.compile(raw"$ph\s+$maxSuffix")
  private val pAbsolute = Pattern.compile(ph)

  def detect(text0: String): Seq[DetectedRange] = {
    val lowered = text0.toLowerCase(java.util.Locale.ROOT)
    val nums = numberDetector.detect(lowered)

    // phase 1: tag numbers with indexed placeholders. Reference order:
    // longest original first (so a substring original cannot steal a longer
    // one's span), span-boundary template, first occurrence only
    // (standard_number_range_detector.py:119-142)
    var tagged = lowered
    val byIdx = nums.zipWithIndex.map { case (d, i) => i -> d }.toMap
    for ((d, i) <- nums.zipWithIndex.sortBy(-_._1.original.length)) {
      val m = SpanBoundary.pattern(d.original).matcher(tagged)
      if (m.find()) {
        tagged = tagged.substring(0, m.start()) + s"__dnumber_${i}__" +
          tagged.substring(m.end())
      }
    }

    // phase 2: the range sub-detectors claim their whole matches
    val c = new Cascade[DetectedRange](tagged, tag, Cascade.literal, _.original)

    def original(span: String): String =
      raw"__dnumber_(\d+)__".r.replaceAllIn(span,
        m => java.util.regex.Matcher.quoteReplacement(byIdx(m.group(1).toInt).original))

    // requireUnit = the reference's unit_type gate: a range whose number
    // carries no unit of the requested type is not a range at all
    def run(p: Pattern)(mk: java.util.regex.Matcher => DetectedRange): Unit =
      c.runMatch(p)(m => Some(mk(m)).filter(r => !requireUnit || r.unit.isDefined))

    def numAt(m: java.util.regex.Matcher, g: Int): Detected = byIdx(m.group(g).toInt)

    // reference swaps when min > max (_get_number_range:255-258) — python
    // float() comparison, so compare as doubles
    def ordered(a: Detected, b: Detected): (String, String) =
      if (a.value.toDouble > b.value.toDouble) (b.value, a.value)
      else (a.value, b.value)

    def minMaxRange(m: java.util.regex.Matcher): DetectedRange = {
      val lo = numAt(m, 1); val hi = numAt(m, 2)
      val (mn, mx) = ordered(lo, hi)
      DetectedRange(Some(mn), Some(mx),
        lo.unit.orElse(hi.unit), original(m.group()))
    }

    run(pMinMax)(minMaxRange)
    if (customBetween) run(pBetween)(minMaxRange)
    run(pMinPrefix) { m =>
      val n = numAt(m, 1)
      DetectedRange(Some(n.value), None, n.unit, original(m.group()))
    }
    run(pMinSuffix) { m =>
      val n = numAt(m, 1)
      DetectedRange(Some(n.value), None, n.unit, original(m.group()))
    }
    run(pMaxPrefix) { m =>
      val n = numAt(m, 1)
      DetectedRange(None, Some(n.value), n.unit, original(m.group()))
    }
    run(pMaxSuffix) { m =>
      val n = numAt(m, 1)
      DetectedRange(None, Some(n.value), n.unit, original(m.group()))
    }
    run(pAbsolute) { m =>
      val n = numAt(m, 1)
      DetectedRange(Some(n.value), Some(n.value), n.unit, original(m.group()))
    }

    c.results
  }
}

/** Budget detection (reference ner_v1/detectors/numeral/budget/
  * budget_detection.py:141-441): ordered min-max / min / max / any pipeline
  * over money-ish amounts with fuzzy scale-suffix patterns
  * (k/ha?zaa?r/lakh?s?/cro?...). The digit-count window (default 2-5)
  * applies to the SCALED integer amount (len(str(amount)) after
  * multiplying by the unit scale, :236-239), so '50l' = 5000000 is
  * rejected at the default window. Bare amounts with no money marker DO
  * count (_detect_any_budget has no rs/unit requirement). Results are in
  * stage order (min-max, min, max, any), matching the reference's
  * append-per-stage lists, not text position.
  */
final case class DetectedBudget(minBudget: Long, maxBudget: Long,
    btype: String, original: String)

final class BudgetDetector(val minDigits: Int = 2, val maxDigits: Int = 5) {

  // _scale_patterns (:83-99) sorted by pattern length desc, Python-stable
  private val scalePatterns: Seq[(Long, Pattern)] = Seq(
    "thousa?nd" -> 1000L, "ha?zaa?r" -> 1000L, "ha?ja?ar" -> 1000L,
    "crore?s?" -> 10000000L, "lakh?s?" -> 100000L, "million" -> 1000000L,
    "lacs?" -> 100000L, "lakhs" -> 100000L, "mill?" -> 1000000L,
    "cro?" -> 10000000L, "mn" -> 1000000L,
    "k" -> 1000L, "l" -> 100000L, "m" -> 1000000L, "c" -> 10000000L
  ).map { case (p, s) => (s, Pattern.compile(p)) }

  private val unitsAlt = scalePatterns.map(_._2.pattern()).mkString("|")
  // digits: '10,000', '5,5,00', '1.2', '.5' (budget_detection.py:127)
  private val digitsPat =
    raw"((?:\d+(?:,\d+)*(?:\.\d+)?)|(?:(?:\d+(?:,\d+)*)?(?:\.\d+)))"
  private val amt = raw"(?:rs\.|rs|rupees|rupee)?\s*$digitsPat\s*($unitsAlt)?\s*(?:rs\.|rs|rupees|rupee)?"
  // keyword sets are the reference's verbatim (:220-226, :266-272); the
  // min-max pattern has NO 'between' — original starts at the first amount
  private val pMinMax = Pattern.compile(
    raw"\s($amt\s*(?:-|to|and|till)\s*$amt)(?:\b|\.|\s)")
  private val pMin = Pattern.compile(
    raw"\s((?:above|more? than|more?|at ?least|greater than|greater|abv|abov|more? den|>\s*=?)\s+$amt)(?:\b|\.|\s)")
  private val pMax = Pattern.compile(
    raw"\s((?:max|upto|o?nly|around|below|at ?most|less than|less|less den|<\s*=?)\s+$amt)(?:\b|\.|\s)")
  private val pAny = Pattern.compile(raw"\s($amt)(?:\b|\.|\s)")

  private def scaleOf(unit: String): Long =
    if (unit == null) 1L
    else scalePatterns.collectFirst {
      case (s, p) if p.matcher(unit).find() => s
    }.getOrElse(1L)

  /** float(amount)*scale → int, gated on the scaled amount's digit count */
  private def parse(numStr: String, scaleStr: String): Option[Long] = {
    val v = (numStr.replace(",", "").toDouble * scaleOf(scaleStr)).toLong
    if (v.toString.length >= minDigits && v.toString.length <= maxDigits)
      Some(v)
    else None
  }

  def detect(text0: String): Seq[DetectedBudget] = {
    var processed = " " + text0.toLowerCase(java.util.Locale.ROOT) + " "
    val results = ListBuffer.empty[DetectedBudget]

    def run(p: Pattern)(mk: java.util.regex.Matcher => Option[DetectedBudget]): Unit = {
      val m = p.matcher(processed)
      val found = ListBuffer.empty[(String, DetectedBudget)]
      while (m.find()) mk(m).foreach(b => found += ((m.group(1).strip(), b)))
      for ((span, b) <- found) {
        results += b.copy(original = span)
        // _update_processed_text removes every occurrence (:434-441)
        processed = processed.replace(span, "")
      }
    }

    run(pMinMax) { m =>
      for {
        lo <- parse(m.group(2), m.group(3))
        hi <- parse(m.group(4), m.group(5))
        // reference :342: both sides nonzero after the window gate
        if lo != 0 && hi != 0 && lo <= hi
      } yield DetectedBudget(lo, hi, "normal_budget", "")
    }
    run(pMin) { m =>
      parse(m.group(2), m.group(3)).map(v =>
        DetectedBudget(v, 0L, "normal_budget", ""))
    }
    run(pMax) { m =>
      parse(m.group(2), m.group(3)).map(v =>
        DetectedBudget(0L, v, "normal_budget", ""))
    }
    run(pAny) { m =>
      parse(m.group(2), m.group(3)).map(v =>
        DetectedBudget(0L, v, "normal_budget", ""))
    }

    results.toSeq
  }
}
