package graft.detectors.lang

import java.time.LocalDate
import java.util.regex.{Matcher, Pattern}

import graft.detectors.DetectedDate

import scala.collection.mutable.ListBuffer

/** Language-generic date detection compiled from CSV constant tables — the
  * reference's standard regex engine
  * (ner_v2/detectors/temporal/date/standard_date_regex.py:92-169 builds the
  * twelve regexes from per-language vocabulary; :185-600 are the parsers).
  * One engine serves every language whose tables exist (built-in: hi, bn,
  * ta, te, gu, mr).
  *
  * Determinism: the reference uses wall-clock `now`; here the reference date
  * is an explicit constructor argument (never the wall clock — same value at
  * any time and parallelism).
  *
  * Documented divergences from the reference (both safe-side):
  *  - an impossible calendar date (e.g. 31/11) skips that match; the
  *    reference aborts the whole detector (standard_date_regex.py:579-585);
  *  - `nth weekday of referenced month` uses the sensible argument order;
  *    the reference's _detect_weekday_ref_month_1 swaps (n, weekday) into
  *    nth_weekday (:442), yielding dates outside the referenced month.
  */
final class StandardDateRegex(
    data: DateLangData,
    referenceDate: LocalDate,
    pastDateReferenced: Boolean = false,
    entityName: String = "date") {

  import StandardDateRegex._

  private val tag = s"__${entityName}__"

  private def choices(td: TupleDict, col: Int, value: String): String = {
    val vs = td.variantsOfType(col, value)
    // an empty vocabulary must never-match, not zero-width-match everywhere
    if (vs.isEmpty) "((?!))"
    else "(" + sortByWordCount(vs).mkString("|") + ")"
  }

  private val relativeDateChoices = choices(data.dateConst, 1, "relative_date")
  private val dateLiteralChoices = choices(data.dateConst, 1, "date_literal")
  private val monthRefDateChoices = choices(data.dateConst, 1, "month_date_ref")
  private val monthLiteralChoices = choices(data.dateConst, 1, "month_literal")
  private val weekdayChoices = choices(data.dateConst, 1, "weekday")
  private val monthChoices = choices(data.dateConst, 1, "month")
  private val datetimeDiffChoices = choices(data.dtConst, 2, "add_diff_datetime")
  private val numeralVariants =
    sortByWordCount(data.numerals.keys.toSeq).mkString("|")

  private def rx(p: String): Pattern =
    Pattern.compile(p, Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS)

  // the twelve standard regexes (standard_date_regex.py:136-169), built from
  // the language tables exactly as the reference composes them
  private val regexRelativeDate = rx("(" + relativeDateChoices + ")")
  private val regexDayDiff =
    rx("(" + datetimeDiffChoices + "\\s*" + dateLiteralChoices + ")")
  private val regexDateMonth = rx(
    "((\\d+|" + numeralVariants + ")\\s*(st|nd|th|rd|)\\s*" + monthChoices + ")")
  private val regexDateRefMonth1 = rx(
    "((\\d+|" + numeralVariants + ")\\s*" + monthRefDateChoices + "\\s*" +
      datetimeDiffChoices + "\\s*" + monthLiteralChoices + ")")
  private val regexDateRefMonth2 = rx(
    "(" + datetimeDiffChoices + "\\s*" + monthLiteralChoices +
      "\\s*[a-z]*\\s*(\\d+|" + numeralVariants + ")\\s+" + monthRefDateChoices + ")")
  private val regexDateRefMonth3 = rx(
    "((\\d+|" + numeralVariants + ")\\s*" + monthRefDateChoices + ")")
  private val regexAfterDaysRef = rx(
    "((\\d+|" + numeralVariants + ")\\s*" + dateLiteralChoices + "\\s+" +
      datetimeDiffChoices + ")")
  private val regexWeekdayMonth1 = rx(
    "((\\d+|" + numeralVariants + ")\\s*" + weekdayChoices + "\\s*" +
      datetimeDiffChoices + "\\s+" + monthLiteralChoices + ")")
  private val regexWeekdayMonth2 = rx(
    "(" + datetimeDiffChoices + "\\s+" + monthLiteralChoices +
      "\\s*[a-z]*\\s*(\\d+|" + numeralVariants + ")\\s+" + weekdayChoices + ")")
  private val regexWeekdayDiff =
    rx("(" + datetimeDiffChoices + "\\s+" + weekdayChoices + ")")
  private val regexWeekday = rx("(" + weekdayChoices + ")")
  private val regexGregorian = rx(
    "[^/\\-.\\w](([12][0-9]|3[01]|0?[1-9])\\s?[/\\-.]\\s?(1[0-2]|0?[1-9])" +
      "(?:\\s?[/\\-.]\\s?((?:20|19)?[0-9]{2}))?)\\W")

  private def dateConstNum(key: String): Int =
    data.dateConst(key)(0).toDouble.toInt
  private def dtMagnitude(key: String): Double = data.dtConst(key)(1).toDouble

  private def intFromNumeral(numeral: String): Int =
    parseUnicodeInt(numeral).getOrElse(data.numerals(numeral)(0).toDouble.toInt)

  private def findAll(p: Pattern, text: String): Seq[IndexedSeq[String]] = {
    val out = ListBuffer.empty[IndexedSeq[String]]
    val m = p.matcher(text)
    while (m.find()) out += groupsOf(m)
    out.toSeq
  }

  /** Run the full preference-ordered pipeline with tag consumption between
    * stages; returns detections in detector-preference order (the
    * reference's ordering contract).
    */
  def detect(text: String): Seq[DetectedDate] = {
    var processed = " " + text.strip().toLowerCase(java.util.Locale.ROOT) + " "
    val out = ListBuffer.empty[DetectedDate]
    val detectors: Seq[String => Seq[DetectedDate]] = Seq(
      gregorianDayMonthYear, relativeDate, dateMonth, dateRefMonth1,
      dateRefMonth2, dateRefMonth3, dateDiff, afterDays, weekdayRefMonth1,
      weekdayRefMonth2, weekdayDiff, weekday)
    for (d <- detectors) {
      val found = d(processed)
      // reference-faithful consumption (standard_date_regex.py:666):
      // processed_text.replace(detected, '') — EMPTY string, every
      // occurrence; surrounding tokens can glue (the reference has the
      // same behavior; the en DateDetector uses word-bounded tags instead)
      for (f <- found) processed = processed.replace(f.original, "")
      out ++= found
    }
    out.toSeq
  }

  private def mk(dd: Int, mm: Int, yy: Int, original: String): DetectedDate =
    DetectedDate(dd, mm, yy, "date", original.strip())

  /** 'kal', 'parson' — today + N days (or − N when past-referenced). */
  private def relativeDate(processed: String): Seq[DetectedDate] =
    findAll(regexRelativeDate, processed).map { g =>
      val days = dateConstNum(g(2))
      val d = if (pastDateReferenced) referenceDate.minusDays(days)
        else referenceDate.plusDays(days)
      mk(d.getDayOfMonth, d.getMonthValue, d.getYear, g(1))
    }

  /** '2 july' — nearest future occurrence (past when past-referenced). */
  private def dateMonth(processed: String): Seq[DetectedDate] =
    findAll(regexDateMonth, processed).map { g =>
      val dd = intFromNumeral(g(2))
      val mm = dateConstNum(g(4))
      val todayMmdd = referenceDate.getMonthValue * 100 + referenceDate.getDayOfMonth
      // strict <: a day+month EQUAL to the reference date resolves to next
      // year — the reference's exact comparison (standard_date_regex.py:237)
      var yy = if (todayMmdd < mm * 100 + dd) referenceDate.getYear
        else referenceDate.getYear + 1
      // past reference prefers the most recent past occurrence
      if (pastDateReferenced) {
        val today = referenceDate.getYear * 10000 + todayMmdd
        val chosen = yy * 10000 + mm * 100 + dd
        if (today < chosen) yy -= 1
      }
      mk(dd, mm, yy, g(1))
    }

  /** '2 tarikh is mahine ki' — day + (this/next/last) month reference. */
  private def dateRefMonth1(processed: String): Seq[DetectedDate] =
    findAll(regexDateRefMonth1, processed).map { g =>
      val dd = intFromNumeral(g(2))
      val ref = if (g(4).nonEmpty && g(5).nonEmpty)
        referenceDate.plusMonths(dtMagnitude(g(4)).toLong)
      else referenceDate
      mk(dd, ref.getMonthValue, ref.getYear, g(1))
    }

  /** 'agle mahine ki 2 tarikh ko' — month reference before the day. */
  private def dateRefMonth2(processed: String): Seq[DetectedDate] =
    findAll(regexDateRefMonth2, processed).map { g =>
      val dd = intFromNumeral(g(4))
      val ref = if (g(2).nonEmpty && g(3).nonEmpty)
        referenceDate.plusMonths(dtMagnitude(g(2)).toLong)
      else referenceDate
      mk(dd, ref.getMonthValue, ref.getYear, g(1))
    }

  /** '2 tarikh ko' — nearest month holding that day (direction by past flag). */
  private def dateRefMonth3(processed: String): Seq[DetectedDate] =
    findAll(regexDateRefMonth3, processed).map { g =>
      val dd = intFromNumeral(g(2))
      val today = referenceDate.getDayOfMonth
      val ref =
        if ((today > dd && pastDateReferenced) || (today <= dd && !pastDateReferenced))
          referenceDate
        else if (today <= dd && pastDateReferenced) referenceDate.minusMonths(1)
        else referenceDate.plusMonths(1)
      mk(dd, ref.getMonthValue, ref.getYear, g(1))
    }

  /** 'agle din' — day diff keyword + date literal. */
  private def dateDiff(processed: String): Seq[DetectedDate] =
    findAll(regexDayDiff, processed).map { g =>
      val d = referenceDate.plusDays(dtMagnitude(g(2)).toLong)
      mk(d.getDayOfMonth, d.getMonthValue, d.getYear, g(1))
    }

  /** '2 din baad' — N day-literals in the diff direction. */
  private def afterDays(processed: String): Seq[DetectedDate] =
    findAll(regexAfterDaysRef, processed).map { g =>
      val n = intFromNumeral(g(2))
      val d = referenceDate.plusDays((n * dtMagnitude(g(4))).toLong)
      mk(d.getDayOfMonth, d.getMonthValue, d.getYear, g(1))
    }

  /** 'agle month ka pehla monday' — nth weekday of a referenced month. */
  private def weekdayRefMonth1(processed: String): Seq[DetectedDate] =
    findAll(regexWeekdayMonth1, processed).map { g =>
      val n = intFromNumeral(g(2))
      val wd = dateConstNum(g(3))
      val ref = referenceDate.plusMonths(dtMagnitude(g(4)).toLong)
      val d = nthWeekday(n, wd, ref)
      mk(d.getDayOfMonth, d.getMonthValue, d.getYear, g(1))
    }

  /** 'agle month ki 2 monday' — month reference first. */
  private def weekdayRefMonth2(processed: String): Seq[DetectedDate] =
    findAll(regexWeekdayMonth2, processed).map { g =>
      val n = intFromNumeral(g(4))
      val wd = dateConstNum(g(5))
      val ref = referenceDate.plusMonths(dtMagnitude(g(2)).toLong)
      val d = nthWeekday(n, wd, ref)
      mk(d.getDayOfMonth, d.getMonthValue, d.getYear, g(1))
    }

  /** 'agla somvar' — weekday offset by the diff keyword. */
  private def weekdayDiff(processed: String): Seq[DetectedDate] =
    findAll(regexWeekdayDiff, processed).map { g =>
      val n = dtMagnitude(g(2)).toInt
      val wd = dateConstNum(g(3))
      val d = nextWeekday(referenceDate, wd, n)
      mk(d.getDayOfMonth, d.getMonthValue, d.getYear, g(1))
    }

  /** bare 'somvar' — coming weekday. */
  private def weekday(processed: String): Seq[DetectedDate] =
    findAll(regexWeekday, processed).map { g =>
      val wd = dateConstNum(g(2))
      val d = nextWeekday(referenceDate, wd, 0)
      mk(d.getDayOfMonth, d.getMonthValue, d.getYear, g(1))
    }

  /** d/m[/y] with '/', '-' or '.' separators; unicode digits translated
    * first; 2-digit years → current century (previous when past-referenced
    * and the year would land in the future).
    */
  private def gregorianDayMonthYear(processed: String): Seq[DetectedDate] = {
    val translated = convertNumbers(processed)
    findAll(regexGregorian, translated).flatMap { g =>
      val dd = g(2).toInt
      val mm = g(3).toInt
      val yearPart = g(4)
      var yy =
        if (yearPart.isEmpty) referenceDate.getYear
        else normalizeYear(yearPart)
      val valid =
        try { LocalDate.of(yy, mm, dd); true } catch { case _: Throwable => false }
      if (!valid) None
      else {
        if (yearPart.isEmpty && LocalDate.of(yy, mm, dd).isBefore(referenceDate))
          yy += 1
        val original =
          if (translated != processed) {
            // recover the untranslated span at the same offsets
            val at = translated.indexOf(g(1))
            if (at >= 0) processed.substring(at, at + g(1).length) else g(1)
          } else g(1)
        Some(mk(dd, mm, yy, original))
      }
    }
  }

  private def normalizeYear(year: String): Int = {
    val century = referenceDate.getYear / 100
    if (year.length == 2) {
      val y2 = year.toInt
      if (pastDateReferenced && y2 > referenceDate.getYear % 100)
        (century - 1) * 100 + y2
      else century * 100 + y2
    } else year.toInt
  }
}

object StandardDateRegex {

  private[lang] def sortByWordCount(xs: Seq[String]): Seq[String] =
    xs.sortBy(s => -s.split("\\s+").length)

  private[lang] def groupsOf(m: Matcher): IndexedSeq[String] =
    (0 to m.groupCount).map(i => Option(m.group(i)).getOrElse(""))

  /** Parse an integer whose digits may be any Unicode decimal digits
    * (Devanagari १२ etc.) — Python's int() semantics.
    */
  private[lang] def parseUnicodeInt(s: String): Option[Int] = {
    if (s.isEmpty) return None
    var v = 0
    var i = 0
    while (i < s.length) {
      val d = Character.digit(s.charAt(i), 10)
      if (d < 0) return None
      v = v * 10 + d
      i += 1
    }
    Some(v)
  }

  /** Map every Unicode decimal digit to its ASCII digit (the reference's
    * convert_numbers, standard_date_regex.py:602-609).
    */
  private[lang] def convertNumbers(text: String): String =
    text.map { c =>
      val d = Character.digit(c, 10)
      if (d >= 0) ('0' + d).toChar else c
    }

  /** nth occurrence of `weekday` (Mon=0..Sun=6) in refDate's month. */
  private[lang] def nthWeekday(n: Int, weekday: Int, refDate: LocalDate): LocalDate = {
    val first = refDate.withDayOfMonth(1)
    val firstDow = first.getDayOfWeek.getValue - 1 // Mon=0
    val firstHit = first.plusDays(((weekday - firstDow) + 7) % 7)
    firstHit.plusWeeks(math.max(n, 1) - 1)
  }

  /** Coming (n=0) / next (n=1) / next-to-next (n=2) `weekday` from current
    * (temporal/utils.py next_weekday).
    */
  private[lang] def nextWeekday(current: LocalDate, weekday: Int, n0: Int): LocalDate = {
    var n = n0
    var daysAhead = weekday - (current.getDayOfWeek.getValue - 1)
    if (daysAhead < 0) n += 1
    daysAhead += n * 7
    current.plusDays(daysAhead)
  }
}
