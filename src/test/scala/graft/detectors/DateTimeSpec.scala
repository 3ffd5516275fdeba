package graft.detectors

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite

/** Golden cases in the spirit of the reference's temporal YAML suites
  * (ner_v2/tests/temporal/...), with a frozen reference date — 2026-08-16,
  * a Sunday — instead of the reference's frozen clock.
  */
class DateTimeSpec extends AnyFunSuite {

  private val ref = LocalDate.of(2026, 8, 16) // Sunday
  private val dd = new DateDetector(ref)

  private def dates(text: String): Seq[(Int, Int, Int)] =
    dd.detect(text).map(d => (d.dd, d.mm, d.yy))

  test("gregorian d/m/y with separators") {
    assert(dates("flight on 16/08/2026 please") == Seq((16, 8, 2026)))
    assert(dates("16-08-26") == Seq((16, 8, 2026)))
    assert(dates("on 1.12.2027") == Seq((1, 12, 2027)))
    assert(dates("99/99/9999").isEmpty)
  }

  test("relative dates against the frozen reference") {
    assert(dates("let us meet tomorrow") == Seq((17, 8, 2026)))
    assert(dates("yesterday was nice; day after tomorrow works") ==
      Seq((15, 8, 2026), (18, 8, 2026)))
    assert(dates("today today") == Seq((16, 8, 2026), (16, 8, 2026)))
  }

  test("day+month and month+day, yearless resolves forward") {
    assert(dates("16th aug to 27th aug") == Seq((16, 8, 2026), (27, 8, 2026)))
    assert(dates("on 5 january") == Seq((5, 1, 2027))) // already past → next year
    assert(dates("august 21, 2027") == Seq((21, 8, 2027)))
    assert(dates("sept 3") == Seq((3, 9, 2026)))
  }

  test("after-days and weekday references") {
    assert(dates("remind me in 10 days") == Seq((26, 8, 2026)))
    assert(dates("3 days later") == Seq((19, 8, 2026)))
    assert(dates("see you next monday") == Seq((17, 8, 2026)))
    assert(dates("this friday") == Seq((21, 8, 2026)))
    // bare weekday = nearest upcoming, today counts (ref is a Sunday)
    assert(dates("sunday plans") == Seq((16, 8, 2026)))
    assert(dates("last tuesday") == Seq((11, 8, 2026)))
    assert(dd.detect("next monday").head.dtype == "day_within_one_week")
  }

  test("consumption: explicit date parsed first, weekday word separately") {
    // pipeline order: gregorian before weekday (ordered alternation with
    // consumption) — the numeric span is claimed by the gregorian format
    val r = dd.detect("on 16/08/2026 not on monday")
    assert(r.length == 2)
    assert(r.head.original == "16/08/2026" && r.head.dtype == "date")
    assert(r(1).original == "monday" && r(1).dtype == "day_within_one_week")
  }

  test("numeric y/m/d and m/d/y orders (reference formats 2-3)") {
    assert(dates("deploy on 2026/12/25 ok") == Seq((25, 12, 2026)))
    assert(dates("2027-01-09") == Seq((9, 1, 2027)))
    // 12/25 is impossible as d/m → the m/d/y reading claims it
    assert(dates("party on 12/25/2026") == Seq((25, 12, 2026)))
    // ambiguous 5/6 stays d/m/y (the reference's default locale order)
    assert(dates("on 5/6/2027") == Seq((5, 6, 2027)))
  }

  test("year-first textual forms (reference formats 6-7)") {
    assert(dates("audit 2027 june 5 sharp") == Seq((5, 6, 2027)))
    assert(dates("audit 2027 5th june sharp") == Seq((5, 6, 2027)))
  }

  test("advanced text-month separators (reference format 4)") {
    assert(dates("due 26-dec-2027 ok") == Seq((26, 12, 2027)))
    assert(dates("due 26/dec/2027 ok") == Seq((26, 12, 2027)))
    assert(dates("dec-26-2027") == Seq((26, 12, 2027)))
  }

  test("possible-day ordinals (reference formats 18-20)") {
    // ref is 2026-08-16: 23rd hasn't passed → this month
    assert(dates("lets do the 23rd") == Seq((23, 8, 2026)))
    assert(dd.detect("lets do the 23rd").head.dtype == "possible_day")
    // 5th already passed → next month
    assert(dates("on the 5th works") == Seq((5, 9, 2026)))
    assert(dates("the 5th of this month") == Seq((5, 8, 2026)))
    assert(dates("the 23rd of next month") == Seq((23, 9, 2026)))
  }

  test("weekday/weekend repeat families (reference formats 22-24)") {
    val wd = dd.detect("open everyday except weekends")
    assert(wd.nonEmpty && wd.forall(_.dtype == "repeat_weekdays"))
    assert(wd.forall(d => {
      val dow = LocalDate.of(d.yy, d.mm, d.dd).getDayOfWeek.getValue
      dow >= 1 && dow <= 5
    }))
    assert(wd.length == 21) // 30-day window minus weekends (ref Sunday −1)
    val we = dd.detect("deliveries on weekends")
    assert(we.nonEmpty && we.forall(_.dtype == "weekends"))
    assert(we.forall(d =>
      LocalDate.of(d.yy, d.mm, d.dd).getDayOfWeek.getValue >= 6))
    val wd2 = dd.detect("only weekdays please")
    assert(wd2.nonEmpty && wd2.forall(_.dtype == "weekdays"))
    val we2 = dd.detect("daily except weekdays")
    assert(we2.nonEmpty && we2.forall(_.dtype == "repeat_weekends"))
  }

  private val td = new TimeDetector()
  private def times(text: String): Seq[(Int, Int, String)] =
    td.detect(text).map(t => (t.hh, t.mm, t.nn))

  test("range forms emit no range when a year bump lands on 29 February") {
    // from 2028-03-10, 29 February has passed and 2029 is no leap year:
    // neither range form may throw or emit 29/2/2029; the day ordinals
    // then resolve on their own
    val leap = new DateDetector(LocalDate.of(2028, 3, 10))
    def leapDates(text: String) = leap.detect(text).map(d => (d.dd, d.mm, d.yy))
    assert(leapDates("29th feb to 3rd mar") == Seq((29, 3, 2028), (3, 3, 2029)))
    assert(leapDates("21st to 29th of feb") == Seq((21, 3, 2028), (29, 3, 2028)))
    // before 29 February passes, both stay ranges in the leap year
    val early = new DateDetector(LocalDate.of(2028, 2, 1))
    assert(early.detect("29th feb to 3rd mar").map(d => (d.dd, d.mm, d.yy)) ==
      Seq((29, 2, 2028), (3, 3, 2028)))
    assert(early.detect("21st to 29th of feb").map(d => (d.dd, d.mm, d.yy)) ==
      Seq((21, 2, 2028), (29, 2, 2028)))
  }

  test("clock with meridiem — hours not normalized (ref yaml en_1)") {
    assert(times("the time is 12:35 am est") == Seq((12, 35, "am")))
    assert(times("meet me at 10:33 pm at the cafe") == Seq((10, 33, "pm")))
    assert(times("02 33 p.m works") == Seq((2, 33, "pm")))
    assert(times("7 pm or 7.30 pm") == Seq((7, 0, "pm"), (7, 30, "pm")))
  }

  test("24h clock and difference form") {
    assert(times("arrives 19:30") == Seq((19, 30, "hrs")))
    assert(times("in 20 mins") == Seq((0, 20, "df")))
    assert(times("after 2 hours") == Seq((2, 0, "df")))
    assert(times("no time here").isEmpty)
  }

  test("bare times with prefix words — within-12h meridiem (ref :1278-1380)") {
    // TimeDetector's deterministic reference clock is noon; goldens were
    // generated by running the reference with datetime.now frozen there
    assert(times("lets meet at 5 today") == Seq((5, 0, "pm")))
    assert(times("reach by 6:20 please") == Seq((6, 20, "pm")))
    // the reference pattern requires trailing whitespace, but detect_time
    // pads the text with a space on both ends, so a bare time at
    // end-of-message IS detected (re-executed against the reference —
    // the earlier golden missed the padding)
    assert(times("reach at 5") == Seq((5, 0, "pm")))
    // o'clock suffix; reference-bug parity: minutes slot gets the hour
    assert(times("5 o'clock sharp") == Seq((5, 5, "pm")))
    assert(times("be there by 4:30 oclock") == Seq((4, 30, "pm")))
  }

  test("detect_times_at column wrapper honors the reference clock") {
    // pure-JVM check of the clock plumbing (the udf wraps this detector)
    val morning = new TimeDetector(
      referenceTime = java.time.LocalDateTime.of(2026, 1, 15, 5, 33))
    assert(morning.detect("reach by 6:20 please")
      .map(t => (t.hh, t.mm, t.nn)) == Seq((6, 20, "am"))) // ref docstring
    val tdAt = new TimeDetector(
      referenceTime = java.time.LocalDateTime.of(2026, 1, 15, 12, 30))
    assert(tdAt.detect("lets meet at 1:45 today")
      .map(t => (t.hh, t.mm, t.nn)) == Seq((1, 45, "pm"))) // ref docstring
  }

  test("prefix word + bare hour with daytime words (ref word format2)") {
    assert(times("come at 8 in the morning") == Seq((8, 0, "am")))
    assert(times("on 12 night we leave") == Seq((12, 0, "am")))
    assert(times("at 3 night") == Seq((3, 0, "am")))
    assert(times("at 11 night please") == Seq((11, 0, "pm")))
  }

  test("restricted 24h hour-only form ('19 hrs')") {
    assert(times("lands at 19 hrs sharp") == Seq((19, 0, "hrs")))
    // diff/every forms keep priority over the bare-hours reading
    assert(times("after 2 hours call me") == Seq((2, 0, "df")))
    assert(times("take it every 6 hours") == Seq((6, 0, "ev")))
  }

  test("span ordering across formats") {
    val r = td.detect("in 15 minutes or at 8 pm")
    assert(r.map(_.nn) == Seq("df", "pm"))
  }

  test("later / every-X / once-in-X forms (reference :876-994)") {
    assert(times("30 mins later please") == Seq((0, 30, "df")))
    assert(times("2 hours later") == Seq((2, 0, "df")))
    assert(times("take it every 6 hours") == Seq((6, 0, "ev")))
    assert(times("every 30 mins") == Seq((0, 30, "ev")))
    assert(times("once in 2 days") == Seq((48, 0, "ev")))
    assert(times("once a day") == Seq((24, 0, "ev")))
  }

  test("daytime-word clock (reference 12-hour word format)") {
    assert(times("come at 5:30 evening") == Seq((5, 30, "pm")))
    assert(times("02:59 morning alarm") == Seq((2, 59, "am")))
    // night: below 5 → am, else pm
    assert(times("at 2:30 night") == Seq((2, 30, "am")))
    assert(times("at 11:30 night") == Seq((11, 30, "pm")))
    // explicit meridiem still wins over a stray word
    assert(times("at 5:30 pm this evening") == Seq((5, 30, "pm")))
  }
}
