package graft.detectors.lang

import java.util.regex.Pattern
import scala.collection.mutable.{LinkedHashMap, ListBuffer}

import graft.BundledResource
import graft.detectors.{Cascade, Detected, NumberDetection, NumberDetector, NumberWords}
import graft.detectors.NumberWords.NumberVariant

/** Per-language numeral vocabulary for the number engines (F18/F19/F22
  * breadth) — the LangData CSV-resource pattern applied to the last
  * detector family that wasn't on it.
  *
  * Resource CSVs are recreated from the reference's data dirs
  * (`ner_v2/detectors/numeral/number/<lang>/data/{numerals_constant,units}
  * .csv` loaded at standard_number_detector.py:104-153, and
  * `number_range/<lang>/data/number_range_keywords.csv` at
  * standard_number_range_detector.py:75-117). Like the date/time tables,
  * they are vocabulary data, not code: behavioral parity requires the
  * identical variant lists.
  */
object NumberLangData {

  /** Languages with shipped numeral tables (en stays on the hardcoded
    * NumberWords.en map, which extends the en CSV with misspelling
    * variants; zh-TW routes to [[ChineseNumberDetector]]).
    */
  val builtinLanguages: Seq[String] =
    Seq("hi", "bn", "gu", "mr", "ta", "te", "zh-TW")

  final case class Tables(
      wordMap: Map[String, NumberVariant],
      digitScales: Map[String, Long],
      /** numeral text (native spelling AND every variant) -> value,
        * insertion-ordered — the zh char-by-char base map.
        */
      baseNumbers: LinkedHashMap[String, Double],
      /** unit variant -> (canonical value, unit type) */
      units: Map[String, (String, String)])

  private def rows(csv: String): Iterator[Vector[String]] = {
    val lines = csv.split("\r?\n").iterator.filter(_.nonEmpty)
    if (lines.hasNext) lines.next() // header
    lines.map(_.split(",", -1).toVector)
  }

  private def variantsOf(cell: String): Seq[String] =
    cell.split("\\|").iterator.map(_.strip()).filter(_.nonEmpty).toSeq

  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, Tables]

  def tables(lang: String): Tables = cache.getOrElseUpdate(lang, {
    val wordMap = Map.newBuilder[String, NumberVariant]
    val scales = Map.newBuilder[String, Long]
    val base = LinkedHashMap.empty[String, Double]
    // numerals_constant: number,name_variants,number_value,number_type
    rows(BundledResource.text(s"/graft/lang/number/$lang/numerals_constant.csv"))
      .foreach { cols =>
        val numberText = cols(0).strip()
        val variants = variantsOf(cols(1))
        val value = cols(2).strip().toDouble
        cols(3).strip() match {
          case "unit" =>
            variants.foreach { v =>
              val k = v.toLowerCase(java.util.Locale.ROOT)
              wordMap += k -> NumberVariant(1L, value)
              base(k) = value
            }
          case "scale" =>
            variants.foreach { v =>
              val k = v.toLowerCase(java.util.Locale.ROOT)
              wordMap += k -> NumberVariant(value.toLong, 0.0)
              scales += k -> value.toLong
              base(k) = value
            }
          case other =>
            throw new IllegalArgumentException(s"unknown number_type $other")
        }
        if (numberText.nonEmpty) base(numberText) = value
      }
    // units: unit_type,unit_value,unit_variants (absent for some langs)
    val units = Map.newBuilder[String, (String, String)]
    if (getClass.getResource(s"/graft/lang/number/$lang/units.csv") != null)
      rows(BundledResource.text(s"/graft/lang/number/$lang/units.csv")).foreach { cols =>
        val uType = cols(0).strip()
        val uValue = cols(1).strip()
        variantsOf(cols(2)).foreach(v =>
          units += v.toLowerCase(java.util.Locale.ROOT) -> (uValue, uType))
      }
    Tables(wordMap.result(), scales.result(), base, units.result())
  })

  /** variant -> canonical unit value, optionally restricted to one
    * unit_type (the reference's `unit_type` constructor arg).
    */
  def unitsMap(lang: String, unitType: Option[String]): Map[String, String] =
    tables(lang).units.collect {
      case (variant, (value, t)) if unitType.forall(_ == t) => variant -> value
    }

  /** Range keyword table: (variants, position, range_type) rows. */
  def rangeKeywords(lang: String): Seq[(Seq[String], Int, String)] =
    rows(BundledResource.text(s"/graft/lang/number_range/$lang/number_range_keywords.csv"))
      .map(cols => (variantsOf(cols(0)).map(_.toLowerCase(java.util.Locale.ROOT)),
        cols(1).strip().toInt, cols(2).strip()))
      .toSeq
}

/** Factory: one number engine per language, vocabulary swapped from the
  * CSV tables (reference number_detection.py:22-48 language dispatch).
  */
object NumberDetectors {

  def forLanguage(lang: String, unitType: Option[String] = None,
      entityName: String = "number", minDigits: Int = 1,
      maxDigits: Int = 6,
      // reference parity: the PLAIN number surface drops numbers without
      // a unit of the requested type (detect_without_unit=False); range
      // detection keeps them (detect_without_unit=True) and gates itself
      requireUnit: Boolean = false): NumberDetection = lang match {
    case "en" =>
      // word map stays the hardcoded NumberWords.en (CSV + misspelling
      // variants); units come from the en CSV under the same
      // only-with-unit_type gate as every other language
      val units = unitType match {
        case Some(ut) => NumberLangData.unitsMap("en", Some(ut))
        case None => Map.empty[String, String]
      }
      new NumberDetector(entityName, units, minDigits, maxDigits,
        requireUnit = requireUnit)
    case "zh-TW" | "zh" =>
      // reference parity: the zh detector never consults units —
      // _detect_number_from_text hardcodes unit None
      // (number/zh-TW/number_detection.py:128-135)
      new ChineseNumberDetector(entityName, minDigits, maxDigits)
    case l =>
      val t = NumberLangData.tables(l)
      // units are captured ONLY when a unit_type is requested — the
      // reference gates _get_unit_from_text on `if self.unit_type:`
      // (standard_number_detector.py:265,334), so with no unit_type the
      // originals never absorb adjacent unit words
      val units = unitType match {
        case Some(ut) => NumberLangData.unitsMap(l, Some(ut))
        case None => Map.empty[String, String]
      }
      new NumberDetector(entityName, units, minDigits, maxDigits,
        t.wordMap, t.digitScales, requireUnit = requireUnit)
  }
}

/** Per-language number-range engines: the shared six-phase pipeline with
  * keyword families loaded from the language's number_range_keywords.csv
  * and numbers resolved by the language's number engine.
  */
object NumberRangeDetectors {

  def forLanguage(lang: String, unitType: Option[String] = None,
      entityName: String = "number_range"): graft.detectors.NumberRangeDetector =
    lang match {
      case "en" =>
        new graft.detectors.NumberRangeDetector(entityName,
          numberDetectorOverride = Some(NumberDetectors.forLanguage(
            "en", unitType, entityName, minDigits = 1, maxDigits = 100)),
          requireUnit = unitType.isDefined)
      case l =>
        new graft.detectors.NumberRangeDetector(entityName,
          keywords = graft.detectors.RangeKeywords.fromTable(
            NumberLangData.rangeKeywords(l)),
          customBetween = false, // en-subclass-only sub-detector
          numberDetectorOverride = Some(NumberDetectors.forLanguage(
            l, unitType, entityName, minDigits = 1, maxDigits = 100)),
          // reference drops ranges whose number carries no unit of the
          // requested type (standard_number_range_detector.py:252-254)
          requireUnit = unitType.isDefined)
    }
}

/** Chinese (zh-TW) number detection — the reference's custom subclass
  * (ner_v2/detectors/numeral/number/zh-TW/number_detection.py:58-280):
  * runs of numeral characters are parsed digit-by-digit when no scale
  * character is present (一二三 → 123), otherwise by the power-of-10
  * grouping algorithm (二百三十九萬三千五百七十六 → 2393576).
  *
  * Documented divergence: the reference builds its match character class
  * by string-formatting the base-numbers DICT into the regex
  * (number_detection.py:106-110), so the class accidentally contains the
  * dict repr's punctuation. We build the intended class — single-char
  * numerals plus ASCII digits. Behavior on numeral text is identical;
  * the reference additionally "matches" stray `{`/`'`/`:` characters.
  */
final class ChineseNumberDetector(entityName: String = "number",
    minDigits: Int = 1, maxDigits: Int = 6) extends NumberDetection {

  private val tag = s"__${entityName}__"
  private val t = NumberLangData.tables("zh-TW")

  private val baseFull: Map[Char, Long] = t.baseNumbers.iterator
    .filter(_._1.length == 1)
    .map { case (k, v) => k.charAt(0) -> v.toLong }.toMap
  // digit-by-digit path uses only 0..9 numerals (reference
  // _filter_base_numbers_map)
  private val baseDigits: Map[Char, Long] =
    baseFull.filter { case (_, v) => v >= 0 && v <= 9 }
  private val powersOf10: Set[Long] =
    Iterator.iterate(10L)(_ * 10).take(16).toSet

  private val charClass =
    (baseFull.keySet ++ ('0' to '9')).mkString
  // ([C]+)(點?([C]*)) — the decimal tail is consumed but, as in the
  // reference, only the integer part becomes a number
  private val pat = Pattern.compile(s"([$charClass]+)(點?([$charClass]*))")

  def detect(text: String): Seq[Detected] = {
    if (text == null) return Seq.empty
    // reference removes hyphens up front, then claims each number's first
    // literal occurrence (tag sub count=1)
    val c = new Cascade[Detected](text.replaceAll("-+", ""), tag,
      Cascade.literal, _.original)
    c.run(pat) { m =>
      val original = m.group(1).strip()
      if (original.isEmpty) None
      else numberOf(original).filter(digitCountOk).map(Detected(_, None, original))
    }
    c.results
  }

  private def digitCountOk(value: String): Boolean = {
    val digits = value.takeWhile(_.isDigit)
    digits.length >= minDigits && digits.length <= maxDigits
  }

  private def hasScaleChar(s: String): Boolean =
    s.exists(c => baseFull.get(c).exists(powersOf10.contains))

  /** get_number: digit-by-digit without scales, else power-of-10 grouping.
    * Returns None when the text mixes characters the scaled path cannot
    * value (the reference returns '' and drops the match).
    */
  private def numberOf(text0: String): Option[String] = {
    val text = text0.strip()
    if (!hasScaleChar(text)) {
      val mapped = text.map(c =>
        baseDigits.get(c).map(_.toString).getOrElse(c.toString)).mkString
      if (mapped.nonEmpty && mapped.forall(c => c >= '0' && c <= '9'))
        Some(BigInt(mapped).toString)
      else None
    } else {
      val digitList = new ListBuffer[Long]
      val pwrIndex = LinkedHashMap.empty[Long, Int]
      for (c <- text) baseFull.get(c) match {
        case Some(v) =>
          digitList += v
          if (powersOf10.contains(v)) pwrIndex(v) = digitList.length - 1
        case None => return None
      }
      if (digitList.isEmpty) return None
      pwrIndex(1L) = digitList.length
      var st = 0
      var finalVal = 0L
      for ((pwr, idx) <- pwrIndex.toSeq.sortBy(-_._1)) {
        if (st <= idx) {
          combine(digitList.slice(st, idx).toSeq).foreach(v =>
            finalVal += v * pwr)
          st = idx + 1
        }
      }
      Some(finalVal.toString)
    }
  }

  /** combine_digit_and_scale: left-to-right digit/scale accumulation. */
  private def combine(nums: Seq[Long]): Option[Long] = {
    if (nums.isEmpty) return None
    val acc = ListBuffer(1L)
    var start = 0
    if (!powersOf10.contains(nums.head)) { acc(0) = nums.head; start = 1 }
    var zeroFound = false
    for (x <- nums.drop(start)) {
      if (x == 0) zeroFound = true
      else if (powersOf10.contains(x)) acc(acc.length - 1) *= x
      else acc += x
    }
    val value = acc.sum
    if (value == 0 && !zeroFound) None else Some(value)
  }
}
