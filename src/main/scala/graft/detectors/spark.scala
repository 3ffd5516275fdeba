package graft.detectors

import scala.collection.concurrent.TrieMap
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Column-level wrappers: each detector returns an array of structs per
  * row — UDTF-like multi-match output modeled as array + explode
  * (SURVEY.md §2.10). Detections run per row, zero shuffles; each detector
  * is built once per JVM (lazy vals and caches in this object), never per
  * row.
  */
object functions {

  /** The one per-row wrapper: a null row gives an empty array. `detect`
    * reaches its detector through this object, never holds one: the udf
    * closure ships with every task, and a projection over a local relation
    * runs on the driver, so a closure holding a built detector could no
    * longer be serialized.
    */
  private def perRow[T: TypeTag](detect: String => Seq[T]): Column => Column = {
    val u = udf((text: String) => if (text == null) Seq.empty[T] else detect(text))
    c => u(c)
  }

  // the struct each detection becomes, field by field
  private val numeric = (d: Detected) => (d.value, d.unit, d.original)
  private val phone = (d: DetectedPhone) => (d.countryCallingCode, d.value, d.original)
  private val date = (d: DetectedDate) => (d.dd, d.mm, d.yy, d.dtype, d.original)
  private val time = (t: DetectedTime) => (t.hh, t.mm, t.nn, t.original)
  private val range = (r: DetectedRange) => (r.minValue, r.maxValue, r.unit, r.original)

  private lazy val defaultNumberDetector = new NumberDetector()
  private lazy val defaultTimeDetector = new TimeDetector()
  private lazy val defaultRangeDetector = new NumberRangeDetector()
  private lazy val defaultBudgetDetector = new BudgetDetector()
  // per-JVM caches keyed by the column's parameters: building a detector
  // compiles its regex families (the month/weekday alternations, the
  // CSV-driven language tables) — once per key and JVM, never per row
  private val numberDetCache =
    TrieMap.empty[(String, Map[String, String], Int, Int), NumberDetector]
  private val dateDetCache = TrieMap.empty[String, DateDetector]
  private val timeDetectorCache = TrieMap.empty[String, TimeDetector]
  private val langDateCache =
    TrieMap.empty[(String, String, Boolean), lang.StandardDateRegex]
  private val langTimeCache = TrieMap.empty[(String, String), lang.StandardTimeRegex]
  private val langNumberCache = TrieMap.empty[(String, Option[String]), NumberDetection]
  private val langRangeCache = TrieMap.empty[(String, Option[String]), NumberRangeDetector]

  val detect_numbers: Column => Column =
    perRow(t => defaultNumberDetector.detect(t).map(numeric))

  def detect_numbers_with(entity: String, units: Map[String, String],
      minDigits: Int = 1, maxDigits: Int = 6): Column => Column = {
    val key = (entity, units, minDigits, maxDigits)
    perRow(t => numberDetCache.getOrElseUpdate(key,
      new NumberDetector(entity, units, minDigits, maxDigits)).detect(t).map(numeric))
  }

  val detect_emails: Column => Column = perRow(t => PatternDetectors.emails(t).map(numeric))

  val detect_pnrs: Column => Column = perRow(t => PatternDetectors.pnrs(t).map(numeric))

  val detect_phones: Column => Column = perRow(t => PatternDetectors.phones(t).map(numeric))

  /** Locale-aware phone detection (F16): per-region calling-code + pattern
    * tables.
    */
  def detect_phone_numbers(locale: String = "en-IN"): Column => Column =
    perRow(t => PhoneNumbers.detect(t, locale).map(phone))

  /** Chinese digit-word phone detection (F17). */
  def detect_phone_numbers_zh(locale: String = "zh-CN"): Column => Column =
    perRow(t => ChinesePhone.detect(t, locale).map(phone))

  /** Dates need an explicit reference date (never the wall clock —
    * deterministic at any time and parallelism).
    */
  def detect_dates(referenceDate: java.time.LocalDate): Column => Column = {
    val refStr = referenceDate.toString
    perRow(t => dateDetCache.getOrElseUpdate(refStr,
      new DateDetector(java.time.LocalDate.parse(refStr))).detect(t).map(date))
  }

  val detect_times: Column => Column =
    perRow(t => defaultTimeDetector.detect(t).map(time))

  /** detect_times with an explicit reference clock for the bare-time
    * meridiem rule ("at 5" → am/pm within 12 h of `referenceTime`) —
    * the deterministic stand-in for the reference's datetime.now().
    */
  def detect_times_at(referenceTime: java.time.LocalDateTime): Column => Column = {
    val refStr = referenceTime.toString
    perRow(t => timeDetectorCache.getOrElseUpdate(refStr,
      new TimeDetector(referenceTime = java.time.LocalDateTime.parse(refStr)))
      .detect(t).map(time))
  }

  /** Language-generic date detection (F27): CSV-driven regex families
    * (built-in: hi, bn). Same envelope as detect_dates.
    */
  def detect_dates_lang(language: String, referenceDate: java.time.LocalDate,
      pastDateReferenced: Boolean = false): Column => Column = {
    val refStr = referenceDate.toString
    perRow(t => langDateCache.getOrElseUpdate((language, refStr, pastDateReferenced),
      new lang.StandardDateRegex(lang.LangData.date(language),
        java.time.LocalDate.parse(refStr), pastDateReferenced)).detect(t).map(date))
  }

  /** Language-generic time detection (F30). Same envelope as detect_times. */
  def detect_times_lang(language: String,
      referenceTime: java.time.LocalDateTime): Column => Column = {
    val refStr = referenceTime.toString
    perRow(t => langTimeCache.getOrElseUpdate((language, refStr),
      new lang.StandardTimeRegex(lang.LangData.time(language),
        java.time.LocalDateTime.parse(refStr))).detect(t).map(time))
  }

  /** Language-generic number detection (F18/F19 breadth): CSV-driven
    * vocabularies (built-in: hi, bn, gu, mr, ta, te, zh-TW). Same envelope
    * as detect_numbers.
    */
  def detect_numbers_lang(language: String,
      unitType: Option[String] = None): Column => Column =
    perRow(t => langNumberCache.getOrElseUpdate((language, unitType),
      // plain surface: numbers without a unit of the requested type are
      // dropped (reference detect_without_unit=False default)
      lang.NumberDetectors.forLanguage(language, unitType,
        requireUnit = unitType.isDefined)).detect(t).map(numeric))

  /** Language-generic number-range detection (F22 breadth; built-in: hi).
    * Same envelope as detect_number_ranges.
    */
  def detect_number_ranges_lang(language: String,
      unitType: Option[String] = None): Column => Column =
    perRow(t => langRangeCache.getOrElseUpdate((language, unitType),
      lang.NumberRangeDetectors.forLanguage(language, unitType)).detect(t).map(range))

  val detect_number_ranges: Column => Column =
    perRow(t => defaultRangeDetector.detect(t).map(range))

  val detect_budgets: Column => Column = perRow(t => defaultBudgetDetector.detect(t)
    .map(b => (b.minBudget, b.maxBudget, b.btype, b.original)))

  /** A bad pattern throws here, when the column is built. */
  def detect_regex(pattern: String, maxMatches: Int = 50): Column => Column = {
    java.util.regex.Pattern.compile(pattern)
    perRow(t => PatternDetectors.custom(t, pattern, maxMatches).map(numeric))
  }

  /** ASR-mode regex detector (F11): text is fuzzy-fitted to the pattern
    * (extra-character deletion + spoken-letter mapping) before matching.
    */
  def detect_regex_asr(pattern: String, maxMatches: Int = 50): Column => Column = {
    java.util.regex.Pattern.compile(pattern)
    perRow(t => PatternDetectors.customAsr(t, pattern, maxMatches).map(numeric))
  }

  /** Person-name detection (F31; en = the reference's POS path over the
    * bundled averaged-perceptron tagger, hi = the reference's POS-free
    * indic path — both at parity).
    */
  def detect_person_names(botMessage: Option[String] = None,
      language: String = "en"): Column => Column =
    perRow(t => PersonName.detect(t, botMessage, language)
      .map(n => (n.firstName, n.middleName, n.lastName, n.original)))
}
