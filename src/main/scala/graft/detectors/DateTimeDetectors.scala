package graft.detectors

import java.time.{DayOfWeek, LocalDate}
import java.util.regex.{Matcher, Pattern}

/** Date detection (English subset of the reference's ordered format family —
  * ner_v2/detectors/temporal/date: pipeline order at
  * standard_date_regex.py:62-74, en formats at en/date_detection.py).
  *
  * Output struct {dd, mm, yy, type} (reference ner_v2/api.py:128-129);
  * relative dates resolve against an injected `referenceDate` instead of
  * datetime.now() — deterministic by construction (the reference reads the
  * clock at standard_date_regex.py:33-38; tests there freeze it).
  * The sub-detectors run as one [[Cascade]].
  */
final case class DetectedDate(dd: Int, mm: Int, yy: Int, dtype: String,
    original: String)

final class DateDetector(referenceDate: LocalDate,
    entityName: String = "date",
    locale: Option[String] = None,
    pastDateReferenced: Boolean = false) {

  private val tag = s"__${entityName}__"

  /** Country code extracted from the locale tail after '-'/'_' (reference
    * en/date_detection.py:142-153); 'US' prefers the month-first numeric
    * reading, everything else keeps the day-first default.
    */
  private val countryCode: Option[String] =
    locale.flatMap { l =>
      val i = l.lastIndexWhere(c => c == '-' || c == '_')
      if (i >= 0 && i < l.length - 1) Some(l.substring(i + 1).toUpperCase(java.util.Locale.ROOT))
      else None
    }

  private val monthNames: Map[String, Int] = {
    val full = Seq("january", "february", "march", "april", "may", "june",
      "july", "august", "september", "october", "november", "december")
    (full.zipWithIndex.map { case (m, i) => m -> (i + 1) } ++
      full.zipWithIndex.map { case (m, i) => m.take(3) -> (i + 1) } ++
      Seq("sept" -> 9)).toMap
  }
  private val monthAlt = monthNames.keys.toSeq.sortBy(-_.length).mkString("|")

  private val weekdays: Map[String, DayOfWeek] = {
    val full = Seq("monday", "tuesday", "wednesday", "thursday", "friday",
      "saturday", "sunday")
    (full.map(w => w -> DayOfWeek.valueOf(w.toUpperCase)) ++
      full.map(w => w.take(3) -> DayOfWeek.valueOf(w.toUpperCase)) ++
      Seq("tues" -> DayOfWeek.TUESDAY, "thurs" -> DayOfWeek.THURSDAY,
        "thur" -> DayOfWeek.THURSDAY)).toMap // full DAY_DICT (ner_v1/constant.py:62)
  }
  private val weekdayAlt = weekdays.keys.toSeq.sortBy(-_.length).mkString("|")

  // ordered sub-detector pipeline (reference order, date_detection.py:532-557:
  // gregorian family 1-10, relative 11-15, weekdays 16-17, possible-day
  // 18-20, everyday/weekday-repeat 21-24, after-days 25-26)
  private val yyyymmdd = Pattern.compile(
    raw"\b(\d{4})\s?[/.\-]\s?(\d{1,2})\s?[/.\-]\s?(\d{1,2})\b")
  private val ddmmyyyy = Pattern.compile(
    raw"\b(\d{1,2})\s?[/.\-]\s?(\d{1,2})(?:\s?[/.\-]\s?((?:\d{2})?\d{2}))\b")
  // [-/ ] separators admit the advanced text-month forms ("26-dec-2024",
  // reference format 4) alongside the spaced ones
  private val dayMonth = Pattern.compile(
    raw"\b(\d{1,2})\s*(?:st|nd|rd|th)?[\s/\-]*(?:of\s+)?($monthAlt)\.?(?:[\s/\-,]+(\d{4}))?\b")
  private val monthDay = Pattern.compile(
    raw"\b($monthAlt)\.?[\s/\-]+(\d{1,2})\s*(?:st|nd|rd|th)?(?:[\s/\-,]+(\d{4}))?\b")
  private val yearMonthDay = Pattern.compile(
    raw"\b(\d{4})\s+($monthAlt)\.?\s+(\d{1,2})\s*(?:st|nd|rd|th)?\b")
  private val yearDayMonth = Pattern.compile(
    raw"\b(\d{4})\s+(\d{1,2})\s*(?:st|nd|rd|th)?\s+($monthAlt)\b")
  private val relative = Pattern.compile(
    raw"\b(day after tomorrow|day before yesterday|today|tonight|tomorrow|yesterday)\b")
  private val afterDays = Pattern.compile(
    raw"\b(?:in|after)\s+(\d{1,3})\s+days?\b|\b(\d{1,3})\s+days?\s+(?:later|from now)\b")
  private val weekdayRef = Pattern.compile(
    raw"\b(next|this|coming|last)?\s*($weekdayAlt)\b")
  // repeat-day families (reference 22-24): except-forms first so the bare
  // weekday(s)/weekend(s) alternatives can't steal their suffix
  private val repeatDays = Pattern.compile(
    raw"\b((?:everyday|daily|all\s+days)\s*except\s*(weekends?)" +
      raw"|(?:everyday|daily|all\s+days)\s*except\s*(week\s?days?)" +
      raw"|(?:all\s+)?(week\s?days?)|(weekends?))\b")
  private val recurrent = Pattern.compile(
    raw"\b(everyday|daily|every\s+day)\b|\bevery\s+($weekdayAlt)\b")
  // possible-day (reference 18-20): a bare ordinal, optionally anchored to
  // this/next month
  private val ordinalOnly = Pattern.compile(
    raw"\b(\d{1,2})\s*(?:st|nd|rd|th)(?:\s+(?:of\s+)?(this|next)\s+month)?\b")

  // range family (reference en/date_detection.py:1560-1824, run between the
  // advanced formats and the ordinal day-month family): day parts use the
  // reference's own [12][0-9]|3[01]|0?[1-9] alternation
  private val ddAlt = raw"[12][0-9]|3[01]|0?[1-9]"
  // "21st to 30th of Jan" (arrival/departure shape, :1560)
  private val rangeDdToDdOfMmm = Pattern.compile(
    raw"\b(($ddAlt)\s*(?:nd|st|rd|th)?" +
      raw"(?:(?:\s*\-\s*)|\s+(?:to|till|se)\s+)" +
      raw"($ddAlt)\s?(?:nd|st|rd|th)?[\s,]+(?:of\s+)?([a-z]+))\b")
  // "21st jan to 30th [feb]" (:1686)
  private val rangeDdMmmToDd = Pattern.compile(
    raw"\b(($ddAlt)\s?(?:nd|st|rd|th)?[\s,]+(?:of\s+)?([a-z]+)" +
      raw"(?:(?:\s*\-\s*)|\s+(?:to|till|se)\s+)" +
      raw"($ddAlt)\s?(?:nd|st|rd|th)?(?:[\s,]+(?:of\s+)?([a-z]+))?)\b")
  // "21st to 30th of coming month" (:1760)
  private val rangeDdToDdNextMonth = Pattern.compile(
    raw"\b(($ddAlt)\s?(?:nd|st|rd|th)?" +
      raw"(?:(?:\s*\-\s*)|\s+(?:to|till|se)\s+)" +
      raw"($ddAlt)\s?(?:nd|st|rd|th)?[\s,]+(?:of\s+)?" +
      raw"(?:next|nxt|comm?ing?|foll?owing?)\s+(?:mo?nth))\b")
  // "first week of jan" (reference ORDINALS_MAP, temporal/constant.py:120;
  // runs LAST in the preference order, :1627)
  private val ordinalsMap: Map[String, Int] = Map(
    "first" -> 1, "1st" -> 1, "second" -> 2, "2nd" -> 2, "third" -> 3,
    "3rd" -> 3, "fourth" -> 4, "4th" -> 4, "fifth" -> 5, "5th" -> 5,
    "sixth" -> 6, "6th" -> 6, "seventh" -> 7, "7th" -> 7, "eighth" -> 8,
    "8th" -> 8, "ninth" -> 9, "9th" -> 9, "tenth" -> 10, "10th" -> 10,
    "last" -> -1)
  private val nthWeekMonth = Pattern.compile(
    raw"((" + ordinalsMap.keys.toSeq.sortBy(-_.length).mkString("|") +
      raw")\s+week\s+(?:of\s+)?([a-z]+)(?:\s+month)?)\s")

  private def isValidDate(dd: Int, mm: Int, yy: Int): Boolean =
    mm >= 1 && mm <= 12 && dd >= 1 &&
      dd <= LocalDate.of(yy, mm, 1).lengthOfMonth()

  /** Closest (dd, mm, yy) with day `dd` on/after `after` — reference
    * temporal/utils.py:237-266 (looks ahead at most 3 months).
    */
  private def nextDateWithDd(dd: Int, after: LocalDate): Option[(Int, Int, Int)] = {
    var mm = after.getMonthValue
    var yy = after.getYear
    if (dd < after.getDayOfMonth) { val n = after.plusMonths(1); mm = n.getMonthValue; yy = n.getYear }
    var tries = 0
    while (tries < 3) {
      if (isValidDate(dd, mm, yy)) return Some((dd, mm, yy))
      if (mm == 12) { mm = 1; yy += 1 } else mm += 1
      tries += 1
    }
    None
  }

  /** Closest (dd, mm, yy) with day `dd` on/before `before` — reference
    * temporal/utils.py:204-234.
    */
  private def previousDateWithDd(dd: Int, before: LocalDate): Option[(Int, Int, Int)] = {
    var mm = before.getMonthValue
    var yy = before.getYear
    if (dd > before.getDayOfMonth) { val p = before.minusMonths(1); mm = p.getMonthValue; yy = p.getYear }
    var tries = 0
    while (tries < 3) {
      if (isValidDate(dd, mm, yy)) return Some((dd, mm, yy))
      if (mm == 1) { mm = 12; yy -= 1 } else mm -= 1
      tries += 1
    }
    None
  }

  /** Days of the `weeknumber`-th calendar week (Monday-start, python
    * calendar.monthcalendar semantics) of mm/yy; -1 = last week — reference
    * temporal/utils.py:96-113.
    */
  private def weekdaysForMonth(weeknumber: Int, mm: Int, yy: Int): Seq[Int] = {
    val first = LocalDate.of(yy, mm, 1)
    val offset = first.getDayOfWeek.getValue - 1 // Monday = 0
    val len = first.lengthOfMonth()
    val numWeeks = (offset + len + 6) / 7
    val wk = if (weeknumber == -1) numWeeks else weeknumber
    if (wk < 1 || wk > numWeeks) Seq.empty
    else {
      val lo = (wk - 1) * 7 + 1 - offset
      val hi = wk * 7 - offset
      (math.max(1, lo) to math.min(len, hi))
    }
  }

  private def out(d: LocalDate, dtype: String, original: String) =
    DetectedDate(d.getDayOfMonth, d.getMonthValue, d.getYear, dtype, original)

  /** Next occurrence of the weekday strictly AFTER the anchor for "next",
    * nearest upcoming (today counts) otherwise — reference
    * ner_v2/detectors/temporal/utils.py next_weekday semantics.
    */
  private def nextWeekday(anchor: LocalDate, day: DayOfWeek, strictNext: Boolean): LocalDate = {
    val diff0 = (day.getValue - anchor.getDayOfWeek.getValue + 7) % 7
    val diff = if (diff0 == 0 && strictNext) 7 else diff0
    anchor.plusDays(diff.toLong)
  }

  private def lastWeekday(anchor: LocalDate, day: DayOfWeek): LocalDate = {
    val diff0 = (anchor.getDayOfWeek.getValue - day.getValue + 7) % 7
    anchor.minusDays(if (diff0 == 0) 7 else diff0.toLong)
  }

  private def resolveYear(yRaw: String, mm: Int, dd: Int): Int = {
    if (yRaw == null || yRaw.isEmpty) {
      // yearless dates resolve to the NEXT occurrence (reference bias for
      // bookings): this year if not already past, else next year
      val candidate = LocalDate.of(referenceDate.getYear, mm, math.min(dd, 28))
      if (candidate.isBefore(referenceDate.withDayOfMonth(
        math.min(referenceDate.getDayOfMonth, 28)))) referenceDate.getYear + 1
      else referenceDate.getYear
    } else if (yRaw.length == 2) normalizeYear2(yRaw.toInt)
    else yRaw.toInt
  }

  /** Two-digit-year normalization (reference normalize_year,
    * en/date_detection.py:1985-2014): current century by default; the
    * PREVIOUS century when a past date is referenced (dob-style bots) and
    * the two-digit year would otherwise land in the future.
    */
  private def normalizeYear2(y2: Int): Int = {
    val century = referenceDate.getYear / 100
    if (pastDateReferenced && y2 > referenceDate.getYear % 100)
      (century - 1) * 100 + y2
    else century * 100 + y2
  }

  /** A dated result inside the years the numeric and year-first forms
    * accept (reference formats 3, 6 and 7).
    */
  private def yearBounded(dd: Int, mm: Int, yy: Int, original: String) =
    if (yy >= 1900 && yy <= 2099 && isValidDate(dd, mm, yy))
      Some(DetectedDate(dd, mm, yy, "date", original))
    else None

  /** Day and month with a possibly yearless or two-digit year. */
  private def dayMonthYear(dd: Int, mm: Int, yRaw: String, original: String) = {
    val yy = resolveYear(yRaw, mm, dd)
    if (isValidDate(dd, mm, yy)) Some(DetectedDate(dd, mm, yy, "date", original))
    else None
  }

  def detect(text0: String): Seq[DetectedDate] = {
    val c = new Cascade[DetectedDate](text0.toLowerCase(java.util.Locale.ROOT),
      tag, Cascade.wordBounded, _.original)

    // 0. yyyy/mm/dd (reference format 3 — unambiguous, runs first)
    c.run(yyyymmdd)(m => yearBounded(m.group(3).toInt, m.group(2).toInt,
      m.group(1).toInt, m.group()))
    // 1 / 1b. numeric d-m-y vs m-d-y: ordered alternation, the SECOND
    // reading only claims spans the first could not. The default (and 'IN')
    // order is day-first; a 'US' locale country code flips the preference
    // (reference country_date_detector_preferences,
    // en/date_detection.py:137-140 + get_exact_date:207-215).
    def numeric(dayFirst: Boolean): Unit = c.run(ddmmyyyy) { m =>
      val (a, b) = (m.group(1).toInt, m.group(2).toInt)
      val (dd, mm) = if (dayFirst) (a, b) else (b, a)
      val yy = resolveYear(m.group(3), if (mm >= 1 && mm <= 12) mm else 1, 1)
      if (isValidDate(dd, mm, yy)) Some(DetectedDate(dd, mm, yy, "date", m.group()))
      else None
    }
    val us = countryCode.contains("US")
    numeric(dayFirst = !us)
    numeric(dayFirst = us)
    // 2. relative words
    c.run(relative) { m =>
      val d = m.group(1) match {
        case "today" | "tonight" => referenceDate
        case "tomorrow" => referenceDate.plusDays(1)
        case "yesterday" => referenceDate.minusDays(1)
        case "day after tomorrow" => referenceDate.plusDays(2)
        case "day before yesterday" => referenceDate.minusDays(2)
      }
      Some(out(d, "date", m.group()))
    }
    // 2b. year-first textual forms (reference formats 6-7):
    // "2027 june 5" / "2027 5th june"
    c.run(yearMonthDay)(m => yearBounded(m.group(3).toInt,
      monthNames(m.group(2)), m.group(1).toInt, m.group().strip()))
    c.run(yearDayMonth)(m => yearBounded(m.group(2).toInt,
      monthNames(m.group(3)), m.group(1).toInt, m.group().strip()))
    // 2c. range family — runs BEFORE the day-month ordinal family so
    // "2nd jan to 5th" is claimed whole (reference preference order,
    // en/date_detection.py:105-127: arrival/departure, then
    // ddth-of-mmm-to-ddth, then ddth-to-ddth-of-next-month). Each range
    // emits TWO dates sharing one original span (reference appends
    // `original` twice, en/date_detection.py:1755-1757).
    // "21st to 30th of Jan": end date anchors the month, start day walks
    // back to the closest earlier date with that day; both bumped a year
    // if the start landed in the past (en/date_detection.py:1595-1608)
    c.runShared(rangeDdToDdOfMmm) { m =>
      val original = m.group(1)
      val dd1 = m.group(2).toInt
      val dd2 = m.group(3).toInt
      val yy = referenceDate.getYear
      monthNames.get(m.group(4)).filter(isValidDate(dd2, _, yy)).flatMap { mm2 =>
        previousDateWithDd(dd1, LocalDate.of(yy, mm2, dd2)).map { case (d1, m1, y1) =>
          val past = LocalDate.of(y1, m1, d1).isBefore(referenceDate)
          val yy2 = if (past) yy + 1 else yy
          val yy1 = if (past) yy2 else y1
          Seq(DetectedDate(d1, m1, yy1, "date", original),
            DetectedDate(dd2, mm2, yy2, "date", original))
        }
      }.filter(_.forall(d => isValidDate(d.dd, d.mm, d.yy))) // bumped year
    }
    // "21st jan to 30th [feb]": start date anchors; a month-less end day
    // resolves to the closest date with that day after the start
    // (en/date_detection.py:1722-1742)
    c.runShared(rangeDdMmmToDd) { m =>
      val original = m.group(1)
      val dd1 = m.group(2).toInt
      val dd2 = m.group(4).toInt
      val yy0 = referenceDate.getYear
      monthNames.get(m.group(3)).filter(isValidDate(dd1, _, yy0)).flatMap { mm1 =>
        val yy1 = if (LocalDate.of(yy0, mm1, dd1).isBefore(referenceDate)) yy0 + 1 else yy0
        // a year bump can land on a 29 February that does not exist
        Option.when(isValidDate(dd1, mm1, yy1))(LocalDate.of(yy1, mm1, dd1)).flatMap { dt1 =>
          val end = Option(m.group(5)).flatMap(monthNames.get) match {
            case Some(mm2) if isValidDate(dd2, mm2, yy1) =>
              val dt2 = LocalDate.of(yy1, mm2, dd2)
              Some((dd2, mm2, if (dt2.isBefore(dt1)) yy1 + 1 else yy1))
            case Some(_) => None
            case None => nextDateWithDd(dd2, dt1)
          }
          end.map { case (d2, m2, y2) =>
            Seq(DetectedDate(dd1, mm1, yy1, "date", original),
              DetectedDate(d2, m2, y2, "date", original))
          }
        }
      }.filter(_.forall(d => isValidDate(d.dd, d.mm, d.yy)))
    }
    // "21st to 30th of coming month" (en/date_detection.py:1760-1824)
    c.runShared(rangeDdToDdNextMonth) { m =>
      val n = referenceDate.plusMonths(1)
      Some(Seq(m.group(2), m.group(3)).map(d =>
        DetectedDate(d.toInt, n.getMonthValue, n.getYear, "date", m.group(1))))
    }
    // 3. "16th aug [2024]" / "16 of august"
    c.run(dayMonth)(m => dayMonthYear(m.group(1).toInt, monthNames(m.group(2)),
      m.group(3), m.group().strip()))
    // 4. "aug 16[, 2024]"
    c.run(monthDay)(m => dayMonthYear(m.group(2).toInt, monthNames(m.group(1)),
      m.group(3), m.group().strip()))
    // 5. "in/after N days", "N days later"
    c.run(afterDays) { m =>
      val n = (if (m.group(1) != null) m.group(1) else m.group(2)).toInt
      Some(out(referenceDate.plusDays(n.toLong), "date", m.group().strip()))
    }
    // 5a. weekday/weekend repeat families (reference 22-24): every matching
    // date in the next 30 days, all sharing the span; repeat_* when an
    // everyday word anchors the phrase (date_detection.py:1865-1935)
    c.runShared(repeatDays) { m =>
      val original = m.group(1).strip()
      val (wantWeekend, dtype) =
        if (m.group(2) != null) (false, "repeat_weekdays") // everyday except weekends
        else if (m.group(3) != null) (true, "repeat_weekends") // everyday except weekdays
        else if (m.group(4) != null) (false, "weekdays")
        else (true, "weekends")
      Some((0 until 30).map(referenceDate.plusDays(_)).filter { d =>
        val dow = d.getDayOfWeek
        (dow == DayOfWeek.SATURDAY || dow == DayOfWeek.SUNDAY) == wantWeekend
      }.map(out(_, dtype, original)))
    }
    // 5b. recurrent forms: "everyday"/"daily" (type everyday), "every
    // monday" (type repeat_day resolved to the next occurrence) — reference
    // TYPE_EVERYDAY / repeat-day semantics
    c.run(recurrent) { m =>
      Some(
        if (m.group(2) != null) out(nextWeekday(referenceDate,
          weekdays(m.group(2)), strictNext = false), "repeat_day", m.group().strip())
        else out(referenceDate, "everyday", m.group().strip()))
    }
    // 6. weekday references ("next monday", "this fri", bare "monday")
    c.run(weekdayRef) { m =>
      val day = weekdays(m.group(2))
      val d = Option(m.group(1)).getOrElse("") match {
        case "last" => lastWeekday(referenceDate, day)
        case "next" => nextWeekday(referenceDate, day, strictNext = true)
        case _ => nextWeekday(referenceDate, day, strictNext = false)
      }
      Some(out(d, "day_within_one_week", m.group().strip()))
    }
    // 7. possible-day ordinals (reference 18-20): bare "23rd" → nearest
    // month holding that day forward; "5th of this/next month" explicit
    c.run(ordinalOnly) { m =>
      val dd = m.group(1).toInt
      val base = Option(m.group(2)).getOrElse("") match {
        case "next" => referenceDate.plusMonths(1)
        case "this" => referenceDate
        case _ =>
          if (dd >= referenceDate.getDayOfMonth) referenceDate
          else referenceDate.plusMonths(1)
      }
      if (isValidDate(dd, base.getMonthValue, base.getYear))
        Some(DetectedDate(dd, base.getMonthValue, base.getYear,
          "possible_day", m.group().strip()))
      else None
    }
    // 8. "first week of jan" — LAST in the reference preference order
    // (en/date_detection.py:105-127, detector :1627-1685): one date per day
    // of that calendar week (monthcalendar semantics), all sharing the
    // matched span; named months bump a year when already past, and
    // coming/next resolve to the following month. The reference regex
    // requires trailing whitespace and pads the text — match padded.
    c.runShared(nthWeekMonth, pad = " ") { m =>
      val probableMm = m.group(3)
      val monthYear: Option[(Int, Int)] = monthNames.get(probableMm) match {
        case Some(mm) =>
          Some((mm, referenceDate.getYear + (if (referenceDate.getMonthValue > mm) 1 else 0)))
        case None if Set("coming", "comming", "next", "nxt", "following",
          "folowing").contains(probableMm) =>
          val n = referenceDate.plusMonths(1)
          Some((n.getMonthValue, n.getYear))
        case None => None
      }
      monthYear.map { case (mm, yy) =>
        weekdaysForMonth(ordinalsMap(m.group(2)), mm, yy)
          .map(d => DetectedDate(d, mm, yy, "date", m.group(1)))
      }
    }

    c.results
  }
}

/** Time detection (English subset — ner_v2/detectors/temporal/time:
  * hh:mm / hh.mm / spaced with am-pm variants, bare "7 pm", 24h "19:30",
  * "20 min/hours" difference form). Output {hh, mm, nn} with
  * nn ∈ {am, pm, hrs, df} (standard_time_regex.py:64-92); meridiem hours
  * are NOT normalized (12:35 am stays hh=12 — reference time yaml en_1).
  */
final case class DetectedTime(hh: Int, mm: Int, nn: String, original: String,
    tz: String = "UTC")

object TimeDetector {
  /** Timezone-abbreviation table (resources/graft/lang/time/en/
    * timezones.csv, mirrored from the reference's en time data): informal
    * variant (est, indian time, akst) → preferred Olson name
    * (America/New_York). The reference threads an optional tz capture
    * through its clock patterns (en/time_detection.py:100,625); here the
    * clock+meridiem form (the only one the reference's own test YAML
    * exercises for tz) captures it.
    */
  lazy val timezoneMap: Map[String, String] =
    graft.BundledResource.lines("/graft/lang/time/en/timezones.csv").drop(1)
      .flatMap { line =>
        val cols = line.split(",", -1)
        if (cols.length < 3) Nil
        else cols(1).split("\\|").map(v =>
          v.strip().toLowerCase(java.util.Locale.ROOT) -> cols(2).strip())
      }.toMap

  /** Longest-first alternation of the tz variants (regex-escaped). */
  lazy val timezoneAlt: String =
    timezoneMap.keys.toSeq.sortBy(-_.length).map(Pattern.quote).mkString("|")

  /** Deterministic stand-in for the reference's wall-clock `now` in the
    * bare-time meridiem rule (_get_meridiem, time_detection.py:1393-1432):
    * a data pipeline must not change answers between runs, so the
    * "within 12 hours from now" inference is computed against an explicit
    * reference time, defaulting to noon (the reference's datetime.now()).
    */
  val DefaultReference: java.time.LocalDateTime =
    java.time.LocalDateTime.of(2026, 1, 15, 12, 0)
}

final class TimeDetector(entityName: String = "time",
    referenceTime: java.time.LocalDateTime = TimeDetector.DefaultReference) {

  private val tag = s"__${entityName}__"

  // optional timezone capture group, threaded through the clock patterns
  // exactly like the reference's {timezone} template (en/time_detection.py
  // :100; choices longest-first, informal variant → Olson via the CSV)
  private val tzGrp = s"((?:${TimeDetector.timezoneAlt}))?"
  private val tzAlt = TimeDetector.timezoneAlt
  // 12h with minutes (_detect_12_hour_format, :712-769): hour 1-12 with
  // optional leading 0, "-"/space extra separators, optional tz both sides
  private val p12h = Pattern.compile(
    raw"\b($tzGrp\s*(0?[2-9]|0?1[0-2]?)[\s-]*(?::|\.|\s)?[\s-]*?([0-5][0-9])[\s-]*?(pm|am|a\.m\.?|p\.m\.?)\s*$tzGrp)\b")
  // 12h without minutes (_detect_12_hour_without_min, :770-820)
  private val p12hNoMin = Pattern.compile(
    raw"\b($tzGrp\s*(0?[2-9]|0?1[0-2]?)[\s-]*(am|pm|a\.m\.?|p\.m\.?)\s*$tzGrp)\b")
  // "in/about/after N mins|hours" (_detect_time_with_difference, :822-874)
  private val diffTime = Pattern.compile(
    raw"\b((?:in\sabout|in\saround|after|about|in)\s(\d+)\s?(min|mins|minutes|hour|hours|hrs|hr))\b")
  // "X mins/hours later" (:876-916)
  private val laterTime = Pattern.compile(
    raw"\b((\d+)\s?(min|mins|minutes?|hour|hours|hrs|hr)\s?(?:later|ltr|latr|lter)s?)\b")
  // "every 6 hours", "every 30 mins" (:918-958, nn = 'ev')
  private val everyX = Pattern.compile(
    raw"\b((?:every|evry|evy|evri)\s*(\d+)\s*(min|mins|minutes|hour|hours|hrs|hr))\b")
  // "once in 2 days" → every 48 hours (:960-994)
  private val onceInX = Pattern.compile(
    raw"\b((?:once|onc|1se)\s*(?:in|every|evry|in every)?\s*(\d+|a)\s?(?:day|days))\b")
  // restricted 24h: hour 00/13-23 (or bare 1) + minutes, optional h/hrs
  // suffix, guarded lookahead (_detect_restricted_24_hour_format,
  // :1050-1096); nn via _get_meridiem (0 / >= 12 → 'hrs')
  private val restricted24 = Pattern.compile(
    raw"\b($tzGrp\s*(00?|1[3-9]?|2[0-3])[:.\s]([0-5][0-9])\s*(?:h|hr|hrs)?\s*$tzGrp)(?!\s*(?:am|pm|a\.m\.?|p\.m\.?|(?:h|hrs|hr)|(?:$tzAlt)|\d))\b")
  // hh:mm/hh mm + a daytime word instead of am/pm (:1098-1165): morning
  // words → am, noon/evening words → pm, night words → am when hh = 12 or
  // hh < 5 else pm; separator includes space, word probes \s-wrapped
  private val wordClock = Pattern.compile(
    raw"\b((0?[1-9]|1[0-2])[:.\s]([0-5][0-9]))(?!\s?(?:am|pm|a\.m\.?|p\.m\.?|\d))")
  private val amWords = Pattern.compile(
    raw"\s(morning|early|subah|mrng|mrning|savere)\s")
  private val pmWords = Pattern.compile(
    raw"\s(noon|afternoon|evening|evng|evning|sham|lunch|dinner)\s")
  private val nightWords = Pattern.compile(
    raw"\s(night|nite|tonight|latenight|tonit|nit|rat)\s")
  // 24h format (_detect_24_hour_format, :1226-1276): branch 1 = hour +
  // [:.\s] + minutes with a guarded lookahead (original EXCLUDES any
  // trailing hours-word); branch 2 (only when branch 1 finds nothing) =
  // hour + optional minutes + REQUIRED hours-word (original includes it)
  private val p24a = Pattern.compile(
    raw"\b($tzGrp\s*(00?|0?[2-9]|0?1[0-9]?|2[0-3])[:.\s]([0-5][0-9])\s*$tzGrp)(?!\s*(?:am|pm|a\.m\.?|p\.m\.?|(?:$tzAlt)|\d))")
  private val p24b = Pattern.compile(
    raw"\b($tzGrp\s*(00?|0?[2-9]|0?1[0-9]?|2[0-3])(?:[:.\s]?([0-5][0-9]))?\s+(?:hours?|hrs?)\s*$tzGrp\b)")
  // prefix word + bare 12h hour, meridiem from a daytime word elsewhere in
  // the message (_detect_12_hour_word_format2, time_detection.py:1165-1224).
  // Reference-bug parity: the reference pattern has NO leading \b either,
  // so 'chat 9 ... morning' matches the 'at 9' inside 'chat' there too.
  private val prefixHourWord = Pattern.compile(
    raw"((?:by|before|after|at|on|dot|exactly|exact)[\s-]*(0?[1-9]|1[0-2]))\b")
  // reference word probes require a preceding whitespace char (\s(word)),
  // not a word boundary — reproduced exactly
  private val amWordsWs = Pattern.compile(
    raw"\s(morning|early|subah|mrng|mrning|savere)")
  private val pmWordsWs = Pattern.compile(
    raw"\s(noon|afternoon|evening|evng|evning|sham)")
  private val nightWordsWs = Pattern.compile(
    raw"\s(night|nite|tonight|latenight|tonit|nit|rat)")
  // prefix word + 12h hour(+optional minutes), trailing whitespace REQUIRED
  // (_detect_time_without_format, :1278-1330); meridiem = within-12h-of-now
  private val prefixBareTime = Pattern.compile(
    raw"\b((?:by|before|after|at|dot|exactly|exact)[\s-]*((0?[1-9]|1[0-2])[:.\s]*([0-5][0-9])?))\s")
  // 12h time + o'clock/hours suffix (_detect_time_without_format_preceeding,
  // :1332-1380; the bot_message fallback branch is out of scope — no
  // conversation context in the column surface)
  private val oclockTime = Pattern.compile(
    raw"\b(((0?[1-9]|1[0-2])[:.\s]*([0-5][0-9])?)[\s-]*(?:o'clock|o' clock|clock|oclock|o clock|hours))\b")

  /** _get_meridiem: the hour is placed in the 12-hour window starting at
    * the reference time; hh = 0 or >= 12 short-circuits to 'hrs'.
    */
  private def meridiemOf(hh: Int, mm: Int): String = {
    if (hh == 0 || hh >= 12) return "hrs"
    var ch = referenceTime.getHour
    val cm = referenceTime.getMinute
    if (ch >= 12) {
      ch -= 12
      if (ch < hh || (ch == hh && cm < mm)) return "pm"
    } else {
      if (ch > hh) return "pm"
      if (ch == hh && cm > mm) return "pm"
    }
    "am"
  }

  /** Meridiem from a daytime word anywhere in `text`: morning words → am,
    * noon/evening words → pm, night words → am when hh = 12 or hh < 5 else
    * pm; None when the text holds no daytime word.
    */
  private def daytimeMeridiem(text: String, am: Pattern, pm: Pattern,
      night: Pattern): Option[Int => String] =
    if (am.matcher(text).find()) Some(_ => "am")
    else if (pm.matcher(text).find()) Some(_ => "pm")
    else if (night.matcher(text).find()) Some(hh => if (hh == 12 || hh < 5) "am" else "pm")
    else None

  def detect(text0: String): Seq[DetectedTime] = {
    // reference pads the text with a space on both ends (detect_time:
    // self.text = ' ' + text + ' ') — the \s-wrapped day-word probes
    // depend on it at message edges
    val c = new Cascade[DetectedTime](
      " " + text0.toLowerCase(java.util.Locale.ROOT) + " ", tag,
      Cascade.literal, _.original)

    def tzOf(g: String*): String = g.flatMap(Option(_)).headOption
      .flatMap(TimeDetector.timezoneMap.get).getOrElse("UTC")
    // "N mins|hours" forms: minutes or hours by the unit's first letter
    def duration(nn: String)(m: Matcher) = {
      val n = m.group(2).toInt
      val isMin = m.group(3).startsWith("m")
      Some(DetectedTime(if (isMin) 0 else n, if (isMin) n else 0, nn,
        m.group(1).strip()))
    }
    // 24h clock forms: hour, optional minutes, tz on either side; nn via
    // _get_meridiem (0 / >= 12 → 'hrs')
    def clock24(m: Matcher) = {
      val hh = m.group(3).toInt
      val mm = Option(m.group(4)).map(_.toInt).getOrElse(0)
      Some(DetectedTime(hh, mm, meridiemOf(hh, mm), m.group(1).strip(),
        tzOf(m.group(2), m.group(5))))
    }

    // Sub-detector order mirrors the reference's _detect_time pipeline
    // (en/time_detection.py:145-215, form_check=False; the range
    // sub-detectors live in TimeRangeDetector).
    // 1. 12h with minutes
    c.run(p12h) { m =>
      Some(DetectedTime(m.group(3).toInt, m.group(4).toInt,
        if (m.group(5).startsWith("a")) "am" else "pm",
        m.group(1).strip(), tzOf(m.group(2), m.group(6))))
    }
    // 2. 12h without minutes
    c.run(p12hNoMin) { m =>
      Some(DetectedTime(m.group(3).toInt, 0,
        if (m.group(4).startsWith("a")) "am" else "pm",
        m.group(1).strip(), tzOf(m.group(2), m.group(5))))
    }
    // 3. relative difference ("in 15mins", "about 25 minutes") → df
    c.run(diffTime)(duration("df"))
    // 4-6. "X mins later" (df), "every X hours" / "once in X days" (ev)
    c.run(laterTime)(duration("df"))
    c.run(everyX)(duration("ev"))
    c.run(onceInX) { m =>
      val days = if (m.group(2) == "a") 1 else m.group(2).toInt
      Some(DetectedTime(24 * days, 0, "ev", m.group(1).strip()))
    }
    // 7. restricted 24h (00/13-23 + minutes)
    c.run(restricted24)(clock24)
    // 8. clock + daytime word ("5:30 evening", "02:59 morning")
    daytimeMeridiem(c.text, amWords, pmWords, nightWords).foreach { nn =>
      c.run(wordClock) { m =>
        val hh = m.group(2).toInt
        Some(DetectedTime(hh, m.group(3).toInt, nn(hh), m.group(1).strip()))
      }
    }
    // 9. prefix word + bare hour with a daytime word ("at 8 in the
    // morning", "on 12 night"); NO daytime word anywhere → the whole
    // sub-detector finds nothing, exactly like the reference's early return
    locally {
      lazy val nn = daytimeMeridiem(c.text, amWordsWs, pmWordsWs, nightWordsWs)
      c.run(prefixHourWord) { m =>
        val t1 = m.group(2).toInt
        nn.map(f => DetectedTime(t1, 0, f(t1), m.group(1).strip()))
      }
    }
    // 10. 24h format — branch 1 (hour + minutes, lookahead-guarded; the
    // original excludes a trailing hours-word), branch 2 only when branch
    // 1 finds nothing (optional minutes + required hours-word)
    if (c.run(p24a)(clock24) == 0) c.run(p24b)(clock24)
    // 4. prefix word + bare 12h time, meridiem inferred within 12 hours of
    // the reference time ("lets meet at 5 today" → 5 pm when it's noon)
    c.run(prefixBareTime) { m =>
      val hh = m.group(3).toInt
      val mm = Option(m.group(4)).map(_.toInt).getOrElse(0)
      Some(DetectedTime(hh, mm, meridiemOf(hh, mm), m.group(1).strip()))
    }
    // 4b. 12h time + o'clock/hours suffix ("5 o'clock"). Reference-bug
    // parity (time_detection.py:1373-1376): the code reads the HOUR group
    // into the minutes slot (pattern[3] is the hour, not the minutes), so
    // "5 o'clock" reports mm = 5. Colon-separated forms never reach this
    // detector — the 24h format consumes them first (reference order too).
    // The reference does int(time_part): non-digit forms raise there (we
    // skip instead of crashing — the only intentional divergence).
    c.run(oclockTime) { m =>
      val timePart = m.group(2).strip()
      if (!timePart.forall(_.isDigit)) None
      else {
        val hh = timePart.toInt
        val mm = m.group(3).toInt // the reference's pattern[3] = hour group
        Some(DetectedTime(hh, mm, meridiemOf(hh, mm), m.group(1).strip()))
      }
    }

    c.results
  }
}

