package graft.detectors

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.SparkTestBase
import graft.detectors.lang.{LangData, NumberDetectors, NumberRangeDetectors,
  StandardDateRegex, StandardTimeRegex}

/** The detector column surface (`functions`, SURVEY §2.10), one table row
  * per column: over one shared DataFrame of inputs taken from the detector
  * specs (plus a null row), every column's exploded rows equal its
  * detector's direct output mapped to the column's tuple, a null row
  * explodes to nothing, and each output schema is pinned. All columns are
  * selected from one DataFrame, so the spec runs two Spark jobs.
  */
class ColumnSpec extends SparkTestBase {

  private val refDate = LocalDate.of(2026, 8, 16)
  private val refTime = LocalDateTime.of(2026, 1, 15, 14, 15)
  private val units = Map("rs" -> "rupees", "rupees" -> "rupees")
  private val hashNum = raw"#(\d+)"
  private val sevenDigits = raw"\d{7}"

  private val texts: Seq[String] = Seq(
    // DetectorSpec
    "pay rs 2k to a@b.co or twenty five dollars",
    "my pnr is 4123456789", "code 4123-4567-89",
    "call +91 98765 43210", "call 98765432",
    // PhoneSpec
    "Send 1000rs to +14089126172 and call 02226129854",
    "打给 13912345678 谢谢", "请拨打一三八零零一三八零零零",
    // DateTimeSpec
    "flight on 16/08/2026 please", "yesterday was nice; day after tomorrow works",
    "16th aug to 27th aug", "reach at 5", "be there by 4:30 oclock",
    "lets meet at 1:45 today",
    // LangSpec
    "kal chalenge", "१२ july ko", "shaam me 5 baje", "सुबह 10 बजे",
    // NumberLangSpec
    "100 got selected for interview", "my monthly salary is 10.12k rupees",
    "dedh hazar rupaye", "200 se jyada", "५० से १००", "200 rupees se jyada",
    // RangeSpec
    "shirts between 2000 to 3000", "more than 500 users", "upto 800 only",
    // BudgetSpec
    "Show products in 10,000 - 20,000 range", "costs upto Rs.100",
    // DetectorSpec (custom regex), AsrNameSpec
    "order #123 and #456", "pnr is 4 5123 89 ok",
    "my name is yash doshi", "my name is yash p. m. doshi",
    "", null)

  private def numeric(ds: Seq[Detected]) = ds.map(d => (d.value, d.unit, d.original))
  private def phone(ds: Seq[DetectedPhone]) =
    ds.map(d => (d.countryCallingCode, d.value, d.original))
  private def date(ds: Seq[DetectedDate]) =
    ds.map(d => (d.dd, d.mm, d.yy, d.dtype, d.original))
  private def time(ts: Seq[DetectedTime]) = ts.map(t => (t.hh, t.mm, t.nn, t.original))
  private def range(rs: Seq[DetectedRange]) =
    rs.map(r => (r.minValue, r.maxValue, r.unit, r.original))

  private val numeric3 = "<string?,string?,string?>?"
  private val date5 = "<int,int,int,string?,string?>?"
  private val time4 = "<int,int,string?,string?>?"
  private val range4 = "<string?,string?,string?,string?>?"

  /** (column name, column, the detector's direct output, output schema) */
  private val columns: Seq[(String, Column => Column, String => Seq[Product], String)] = Seq(
    ("detect_numbers", functions.detect_numbers,
      t => numeric(new NumberDetector().detect(t)), numeric3),
    ("detect_numbers_with", functions.detect_numbers_with("budget", units),
      t => numeric(new NumberDetector("budget", units).detect(t)), numeric3),
    ("detect_numbers_with_2_4", functions.detect_numbers_with("budget", units, 2, 4),
      t => numeric(new NumberDetector("budget", units, 2, 4).detect(t)), numeric3),
    ("detect_emails", functions.detect_emails,
      t => numeric(PatternDetectors.emails(t)), numeric3),
    ("detect_pnrs", functions.detect_pnrs,
      t => numeric(PatternDetectors.pnrs(t)), numeric3),
    ("detect_phones", functions.detect_phones,
      t => numeric(PatternDetectors.phones(t)), numeric3),
    ("detect_phone_numbers", functions.detect_phone_numbers(),
      t => phone(PhoneNumbers.detect(t, "en-IN")), "<string?,string?,string?>?"),
    ("detect_phone_numbers_us", functions.detect_phone_numbers("en-US"),
      t => phone(PhoneNumbers.detect(t, "en-US")), "<string?,string?,string?>?"),
    ("detect_phone_numbers_zh", functions.detect_phone_numbers_zh(),
      t => phone(ChinesePhone.detect(t, "zh-CN")), "<string?,string?,string?>?"),
    ("detect_dates", functions.detect_dates(refDate),
      t => date(new DateDetector(refDate).detect(t)), date5),
    ("detect_times", functions.detect_times,
      t => time(new TimeDetector().detect(t)), time4),
    ("detect_times_at", functions.detect_times_at(refTime),
      t => time(new TimeDetector(referenceTime = refTime).detect(t)), time4),
    ("detect_dates_lang", functions.detect_dates_lang("hi", refDate),
      t => date(new StandardDateRegex(LangData.date("hi"), refDate).detect(t)), date5),
    ("detect_dates_lang_past", functions.detect_dates_lang("hi", refDate, true),
      t => date(new StandardDateRegex(LangData.date("hi"), refDate, true).detect(t)), date5),
    ("detect_times_lang", functions.detect_times_lang("hi", refTime),
      t => time(new StandardTimeRegex(LangData.time("hi"), refTime).detect(t)), time4),
    ("detect_numbers_lang", functions.detect_numbers_lang("hi"),
      t => numeric(NumberDetectors.forLanguage("hi").detect(t)), numeric3),
    ("detect_numbers_lang_currency", functions.detect_numbers_lang("hi", Some("currency")),
      t => numeric(NumberDetectors.forLanguage("hi", Some("currency"),
        requireUnit = true).detect(t)), numeric3),
    ("detect_number_ranges_lang", functions.detect_number_ranges_lang("hi"),
      t => range(NumberRangeDetectors.forLanguage("hi").detect(t)), range4),
    ("detect_number_ranges_lang_currency",
      functions.detect_number_ranges_lang("hi", Some("currency")),
      t => range(NumberRangeDetectors.forLanguage("hi", Some("currency")).detect(t)), range4),
    ("detect_number_ranges", functions.detect_number_ranges,
      t => range(new NumberRangeDetector().detect(t)), range4),
    ("detect_budgets", functions.detect_budgets,
      t => new BudgetDetector().detect(t)
        .map(b => (b.minBudget, b.maxBudget, b.btype, b.original)),
      "<bigint,bigint,string?,string?>?"),
    ("detect_regex", functions.detect_regex(hashNum),
      t => numeric(PatternDetectors.custom(t, hashNum)), numeric3),
    ("detect_regex_1", functions.detect_regex(hashNum, 1),
      t => numeric(PatternDetectors.custom(t, hashNum, 1)), numeric3),
    ("detect_regex_asr", functions.detect_regex_asr(sevenDigits),
      t => numeric(PatternDetectors.customAsr(t, sevenDigits)), numeric3),
    ("detect_person_names", functions.detect_person_names(),
      t => PersonName.detect(t).map(n => (n.firstName, n.middleName, n.lastName, n.original)),
      range4),
    ("detect_person_names_bot", functions.detect_person_names(Some("what is your name?")),
      t => PersonName.detect(t, Some("what is your name?"))
        .map(n => (n.firstName, n.middleName, n.lastName, n.original)),
      range4))

  private lazy val input = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  private lazy val arrays = input.select(col("id") +:
    columns.map { case (name, column, _, _) => column(col("text")).as(name) }: _*)

  /** array<struct<...>> rendered field by field; `?` marks a nullable type */
  private def render(dt: DataType): String = dt match {
    case ArrayType(StructType(fields), containsNull) =>
      fields.map(f => f.dataType.simpleString + (if (f.nullable) "?" else ""))
        .mkString("<", ",", ">") + (if (containsNull) "?" else "")
    case other => other.simpleString
  }

  private def flat(p: Product): Seq[Any] = p.productIterator.map {
    case Some(x) => x
    case None => null
    case x => x
  }.toSeq

  test("every column's rows equal its detector's direct output") {
    val rows = arrays.collect().map(r => r.getLong(0) -> r).toMap
    for (((name, _, direct, _), i) <- columns.zipWithIndex;
         (text, id) <- texts.zipWithIndex) {
      val got = rows(id.toLong).getSeq[Row](i + 1)
      if (text == null) assert(got.isEmpty, s"$name on a null row")
      else assert(got.map(_.toSeq) == direct(text).map(flat), s"$name on '$text'")
    }
    // the inputs exercise every column at least once
    for ((name, _, direct, _) <- columns)
      assert(texts.exists(t => t != null && direct(t).nonEmpty), s"$name never fires")
  }

  test("exploded rows match the arrays, and a null row explodes to nothing") {
    val asJson = arrays.select(col("id") +: columns.map { case (name, _, _, _) =>
      transform(col(name), x => to_json(x)).as(name) }: _*)
      .collect().flatMap { r =>
        columns.indices.map(i => (columns(i)._1, r.getLong(0)) -> r.getSeq[String](i + 1))
      }.filter(_._2.nonEmpty).toMap
    val exploded = columns.map { case (name, column, _, _) =>
      input.select(lit(name).as("column"), col("id"), posexplode(column(col("text"))))
        .select(col("column"), col("id"), col("pos"), to_json(col("col")).as("json"))
    }.reduce(_ union _).collect()
      .groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(2)).map(_.getString(3)).toSeq }
    assert(exploded == asJson)
    val nullId = texts.indexOf(null).toLong
    assert(!exploded.keys.exists(_._2 == nullId))
  }

  test("output schemas are pinned") {
    for ((name, _, _, schema) <- columns)
      assert(render(arrays.schema(name).dataType) == schema, name)
  }

  test("detect_regex and detect_regex_asr reject a bad pattern when built") {
    intercept[java.util.regex.PatternSyntaxException] {
      functions.detect_regex("([unclosed")
    }
    intercept[java.util.regex.PatternSyntaxException] {
      functions.detect_regex_asr("([unclosed")
    }
  }
}
