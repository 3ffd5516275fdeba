package graft.detectors

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.{LocalDate, LocalDateTime}
import org.scalatest.funsuite.AnyFunSuite

import graft.detectors.lang.{NumberDetectors, NumberRangeDetectors}

/** Output pin for the rule-based detectors that claim spans in an ordered
  * cascade (date, time, shopping size, number, zh-TW number, and the range
  * phase of the date, time and number range detectors). A fixed-seed
  * set of messages, each 1-4 fragments from the detector specs joined with
  * filler words, so that sub-detectors compete for overlapping spans; one
  * sha256 per detector configuration over every message's full output.
  * Pure JVM: no SparkSession.
  */
class CascadePinSpec extends AnyFunSuite {

  private val fragments: Seq[String] = Seq(
    // dates (DateTimeSpec, DateAdvancedSpec)
    "flight on 16/08/2026 please", "16-08-26", "on 1.12.2027", "99/99/9999",
    "let us meet tomorrow", "yesterday was nice; day after tomorrow works",
    "today today", "16th aug to 27th aug", "on 5 january", "august 21, 2027",
    "sept 3", "remind me in 10 days", "3 days later", "see you next monday",
    "this friday", "sunday plans", "last tuesday",
    "on 16/08/2026 not on monday", "deploy on 2026/12/25 ok",
    "party on 12/25/2026", "on 5/6/2027", "due 26-dec-2027 ok",
    "due 26/dec/2027 ok", "dec-26-2027", "audit 2027 june 5 sharp",
    "audit 2027 5th june sharp", "lets do the 23rd", "the 23rd of next month",
    "the 5th of this month", "on the 5th works", "open everyday except weekends",
    "daily except weekdays", "only weekdays please", "deliveries on weekends",
    "02 january 1972", "1972 january 2", "2/3/17", "2/3/19", "2/3/66",
    "2017/12/01", "2099 21st Nov", "2nd jan to 5th", "first week of jan",
    "last week of next month", "21st to 30th of next month",
    "monday to friday", "every monday", "departing on 21/11/2026",
    // times (DateTimeSpec, TimeYamlSpec)
    "02 33 p.m works", "02:59 morning alarm", "2 hours later",
    "30 mins later please", "5 o'clock sharp", "7 pm or 7.30 pm",
    "after 2 hours call me", "arrives 19:30", "at 11 night please",
    "at 11:30 night", "at 2:30 night", "at 3 night", "at 5:30 pm this evening",
    "be there by 4:30 oclock", "come at 5:30 evening",
    "come at 8 in the morning", "every 30 mins", "in 15 minutes or at 8 pm",
    "in 20 mins", "lands at 19 hrs sharp", "lets meet at 1:45 today",
    "lets meet at 5 today", "meet me at 10:33 pm at the cafe",
    "on 12 night we leave", "once a day", "once in 2 days", "reach at 5",
    "reach by 6:20 please", "take it every 6 hours", "the time is 12:35 am est",
    "meet me at 10:33 pm AKST at the cafe", "the lecture starts at 12-pm",
    "lets all meet in 15mins", "about 25 minutes", "in around 13 hours",
    "5mins latr", "1 hour ltr", "evry 24 hrs", "once in 3 days",
    "meet me at 22:33 hours at the cafe", "meet me at 14 33 at the cafe",
    "the lecture starts at 0 hours", "my flight is 11:30 in the morning",
    "my flight departs by 4 in the night", "my flight departs at exact 6 tonight",
    "my flight departs exactly at 12 noon", "Sessions begin at noon",
    "arrives 10:30 and lands at 21 hrs",
    // sizes and passengers (SizePassengerSpec)
    "need a large and an XL tshirt", "size 32 jeans", "extra large please",
    "no sizes mentioned 45", "2 adults and 1 child", "32 sizes of m",
    // numbers (DetectorSpec, NumberLangSpec)
    "1,22,000 items", "1.5 million", "12.23", "2.2k views", "200-300",
    "5 lakh people", "costs 2k", "double two three", "fourty two",
    "i want twenty five apples and 3 oranges", "one thousand two",
    "two hundred three four hundred three", "that costs rs 200 or 3 dollars",
    "5 and 55 and 55555", "room 421", "rs.100 is the application charger",
    "more than 200 rupees", "rs 200 or 200 rupees", "order #123 and #456",
    "一二三", "一千零一", "三千五百", "二百三十九萬三千五百七十六",
    "五十個蘋果", "我有一百二十三元", "十五")

  // range inputs (DateRangeSpec, TimeRangeLemmaSpec, RangeSpec), for the
  // range detectors whose range phase claims spans the same way
  private val rangeFragments: Seq[String] = Seq(
    "travel 16th aug to 27th aug please", "anytime between 1/09/2026 and 5/09/2026",
    "finish by 20/08/2026", "from tomorrow", "meet on monday",
    "meet between 7 and 9 pm tonight", "open 7 pm to 9 pm daily",
    "open 7 pm to 9", "from 19:00 till 21:30", "by 10:00 am", "at 8:15 pm",
    "evening works for me", "i prefer flights in the morning",
    "anytime is fine", "9 pm tonight", "10:00 to 14:00",
    "from 12:30 am to 2:30 pm", "200 - 300 rupees", "200 rupees to 300",
    "between 2000 and 3000", "between rs 100 to rs 200",
    "more than 2.5k people in the stadium", "less than 50000 rupees",
    "from 5 - 10 items", "between 10 to 20 but above 100",
    "200k-300k men and around 300k women", "salary 30k onwards",
    "jada se jada 2500 rupees", "2k se upar")

  private val fillers = Seq("and", "then", "please", "ok", "also", "at", "on",
    "by", "or", "to", "the", "morning", "so", "-", ",")

  private def compose(seed: Long, count: Int, from: Seq[String]): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(count) {
      val n = 1 + rnd.nextInt(4)
      val parts = Seq.fill(n)(from(rnd.nextInt(from.length)))
      parts.reduce((a, b) => s"$a ${fillers(rnd.nextInt(fillers.length))} $b")
    } ++ from
  }
  private val messages = compose(20261020L, 600, fragments)
  private val rangeMessages =
    compose(20261021L, 400, rangeFragments ++ fragments)

  private def sha(detect: String => Seq[Product],
      messages: Seq[String] = messages): String = {
    val md = MessageDigest.getInstance("SHA-256")
    for (m <- messages)
      md.update((m + "\t" + detect(m).mkString("|") + "\n")
        .getBytes(StandardCharsets.UTF_8))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val refDate = LocalDate.of(2026, 8, 16)
  private val units = Map("rs" -> "rupees", "rupees" -> "rupees",
    "rupee" -> "rupees", "dollars" -> "dollar", "$" -> "dollar")

  private val pins: Seq[(String, String => Seq[Product], String)] = Seq(
    ("date default", new DateDetector(refDate).detect,
      "6250e56b4c386be25d30d644d18c50948ab9711b9802d31b9d3ef185d18b9bb6"),
    ("date en-US", new DateDetector(refDate, locale = Some("en-US")).detect,
      "5469d2063124a90cb2fe226a76b057640718c2b6c33eb911650f4d8c8979ffc8"),
    ("date pastDateReferenced",
      new DateDetector(refDate, pastDateReferenced = true).detect,
      "dbcbd920e9877b1342d3ff0a8a243ae87623b8b9a3b1b4b9562d83e6cb2af229"),
    ("time default", new TimeDetector().detect,
      "55d6bee8fe50cb73c5960266efd0a7ca2fd6be5c37d8331b6393c1d06ef11fe7"),
    ("time 21:40 reference",
      new TimeDetector(referenceTime = LocalDateTime.of(2026, 1, 15, 21, 40)).detect,
      "115d13c44c6ef4f187b6642ef39488792be869758ce771f85f1afcb85be4a752"),
    ("shopping size", ShoppingSizeDetector.detect,
      "aa072444b36cb11281ee563fe40a734e25be7671783479cdae7411381ec3e71c"),
    ("number default", new NumberDetector().detect,
      "e924434f321dfd65d1ce5c7b1d0262e62eff6df3b6b3d6355906d70b41a70980"),
    ("number budget", new NumberDetector("budget", units, 2, 4).detect,
      "dfcbd749e2268098ae66e27fbee30ca2567ce18390079808275f4c4aa1913031"),
    ("number zh-TW", NumberDetectors.forLanguage("zh-TW").detect,
      "286a8ebef93b1c39544e8ece0a188130f797e97e4a551585ca9c1fcf6f2719f8"))

  for ((name, detect, expected) <- pins)
    test(s"output pin: $name") {
      assert(sha(detect) == expected)
    }

  private val rangePins: Seq[(String, String => Seq[Product], String)] = Seq(
    ("date range", new DateRangeDetector(refDate).detect,
      "e3df5d9529894dceb28a0a8b6031c91f13564463c05c91b784a21dffe1543a34"),
    ("time range", new TimeRangeDetector().detect,
      "cf413f45004799f03acb8e2046ed354ff852a0d021a3b4e86713332e576e21fa"),
    ("number range en", NumberRangeDetectors.forLanguage("en").detect,
      "25bf6b98cf7bcc958ebaed2a296582428ba2842083bee67599f41054af66746f"),
    ("number range en currency",
      NumberRangeDetectors.forLanguage("en", Some("currency")).detect,
      "33f66f8ed9420f8bde414d49d99ce305cc42307a73a27421ec87573724f8fedd"))

  for ((name, detect, expected) <- rangePins)
    test(s"output pin: $name") {
      assert(sha(detect, rangeMessages) == expected)
    }

  test("the seed reaches the competing paths") {
    val dates = new DateDetector(refDate)
    val times = new TimeDetector()
    // nth-week's padded match: the form ends its message and still matches
    assert(messages.exists(_.endsWith("first week of jan")))
    assert(dates.detect("first week of jan").map(_.original).distinct ==
      Seq("first week of jan"))
    // p24a finds a span, so p24b never sees "21 hrs"; alone, p24b claims it
    assert(messages.contains("arrives 10:30 and lands at 21 hrs"))
    assert(times.detect("arrives 10:30 and lands at 21 hrs")
      .map(_.original) == Seq("10:30"))
    assert(times.detect("lands at 21 hrs").map(_.original) == Seq("21 hrs"))
    // the prefix-hour sub-detector aborts with no daytime word, leaving
    // "at 5" to the within-12h prefix form
    assert(messages.contains("reach at 5"))
    assert(times.detect("reach at 5") == Seq(DetectedTime(5, 0, "pm", "at 5")))
    // unit capture reads the text between claims
    assert(messages.contains("rs 200 or 200 rupees"))
    assert(new NumberDetector("budget", units, 2, 4)
      .detect("rs 200 or 200 rupees").map(_.original) ==
      Seq("rs 200", "200 rupees"))
    // a span that occurs twice is claimed twice, first occurrence first
    assert(messages.exists(_.contains("today today")))
    assert(dates.detect("today today").map(_.original) == Seq("today", "today"))
    // `\b…\b` claims skip an earlier occurrence inside a longer word, which
    // moves the claim, and so the result, behind the other results
    assert(dates.detect("tomorrows plan: monday or tomorrow").map(_.original) ==
      Seq("monday", "tomorrow"))
    assert(ShoppingSizeDetector.detect("axl, small, xl").map(_.value) ==
      Seq("S", "XL"))
    // a literal claim takes a span inside a word: the prefix-hour form's
    // "at 9" inside "chat 9" (reference parity)
    assert(times.detect("chat 9 in the morning") ==
      Seq(DetectedTime(9, 0, "am", "at 9")))
  }
}
