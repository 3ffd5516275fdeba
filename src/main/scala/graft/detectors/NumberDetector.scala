package graft.detectors

import java.util.regex.Pattern

/** Detected scalar: stringified value + optional unit + original span text —
  * the reference's detector envelope (value/unit/original_text,
  * standard_number_detector.py:345-363).
  */
final case class Detected(value: String, unit: Option[String], original: String)

/** Common surface of the per-language number engines (the latin-script
  * digit+word engine and the Chinese digit-by-digit/scaling engine).
  */
trait NumberDetection {
  def detect(text: String): Seq[Detected]
}

/** The reference's `_SPAN_BOUNDARY_TEMPLATE`
  * (standard_number_detector.py:32): a span counts only when preceded by
  * start-of-text/space/quote/comma/dash/question and followed by
  * end-of-text or closing punctuation. NOT `\b` — Java's ASCII `\b` fails
  * after Indic combining matras (e.g. the final vowel sign of `सौ`), so
  * boundary semantics must be these explicit character classes.
  */
object SpanBoundary {
  // detected spans repeat heavily across a corpus ("50", "100", ...), and
  // pattern() is called once per DETECTION — a bounded cache turns the
  // per-match Pattern.compile into a hash lookup (Pattern is immutable and
  // thread-safe; the cap bounds executor memory on adversarial
  // vocabularies). At the cap, ONE arbitrary entry is evicted — not a full
  // clear, which recompiled every hot span at once and could transiently
  // overshoot the cap under concurrency.
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Pattern]()

  def pattern(original: String): Pattern = {
    val hit = cache.get(original)
    if (hit != null) return hit
    val p = Pattern.compile(
      "(?:^|(?<=[\\s\"',\\-?]))" + Pattern.quote(original) +
        "(?=[\\s!\"%',?.\\-]|$)")
    while (cache.size() >= 4096) {
      val it = cache.keySet().iterator()
      if (it.hasNext) cache.remove(it.next()) else cache.clear()
    }
    cache.putIfAbsent(original, p)
    p
  }
}

/** Number detection: digits (with thousands commas, decimal point, scale
  * suffix like `2.2k`) first, then number words — the reference's ordered
  * `detector_preferences` pipeline (standard_number_detector.py:66-102),
  * claiming spans through [[Cascade]] under the [[SpanBoundary]] rule.
  */
final class NumberDetector(
    entityName: String = "number",
    unitsMap: Map[String, String] = Map.empty, // variant -> canonical unit
    minDigits: Int = 1,
    maxDigits: Int = 6,
    // per-language vocabulary (defaults = en; other languages load their
    // reference CSVs via NumberLangData — same engine, swapped tables)
    wordMap: Map[String, NumberWords.NumberVariant] = NumberWords.en,
    digitScales: Map[String, Long] = NumberWords.enDigitScales,
    // the reference's unit_type gate on the PLAIN number surface
    // (number_detection.py:168-194, detect_without_unit=False default):
    // a number with no unit of the requested type is dropped from the
    // output (it is still consumed — the filter sits above the language
    // detector). Range detection passes detect_without_unit=True and
    // gates per-range instead, so it constructs with requireUnit=false.
    requireUnit: Boolean = false)
  extends NumberDetection {

  private val tag = s"__${entityName}__"

  private val scaleAlt = digitScales.keys.toSeq
    .sortBy(-_.length).map(Pattern.quote).mkString("|")
  // UNICODE_CHARACTER_CLASS: the reference's re.UNICODE \d matches native
  // digit scripts (e.g. Devanagari २००), and so must ours
  private val digitPattern = Pattern.compile(
    raw"(([\d,]+\.?[\d]*)\s?($scaleAlt))[\s\-:]|([\d,]+\.?[\d]*)",
    Pattern.UNICODE_CHARACTER_CLASS)
  private val unitAlt = unitsMap.keys.toSeq
    .sortBy(-_.length).map(Pattern.quote).mkString("|")

  /** Any-script decimal digits → ASCII (int('२००') == 200 in the
    * reference; Long.parseLong needs the mapping made explicit).
    */
  private def asciiDigits(s: String): String =
    s.map(c => if (c.isDigit) ('0' + Character.digit(c, 10)).toChar else c)

  def detect(text: String): Seq[Detected] = {
    val c = new Cascade[Detected](text.toLowerCase(java.util.Locale.ROOT),
      tag, SpanBoundary.pattern, _.original)
    // the unit capture reads the text as the earlier claims left it, so
    // each number's span is settled just before its claim; a number
    // without the required unit is still claimed, only not kept
    def claimWithUnit(value: String, span: String): Unit =
      if (digitCountOk(value)) {
        val (unit, original) = captureUnit(span, c.text)
        val at = c.claim(original)
        if (at >= 0 && (!requireUnit || unit.isDefined))
          c.keep(at, Detected(value, unit, original))
      }

    // stage 1: digits (+ scale suffix); trailing pad so an end-of-string
    // scale suffix ("...costs 2k") still matches the separator class
    c.find(digitPattern, pad = " ") { m =>
      val (numStr, scale, originalRaw) =
        if (m.group(2) != null && isNumeric(m.group(2)))
          (asciiDigits(m.group(2)).replace(",", ""), digitScales(m.group(3)),
            m.group(1).strip().stripSuffix(",").stripSuffix(".").strip())
        else if (m.group(4) != null && isNumeric(m.group(4)))
          (asciiDigits(m.group(4)).replace(",", ""), 1L,
            m.group(4).strip().stripSuffix(",").stripSuffix(".").strip())
        else (null, 0L, null)
      if (numStr == null || numStr.isEmpty || numStr == "." || originalRaw.isEmpty) None
      else {
        val value =
          if (!numStr.contains('.')) {
            // BigInt: python's int() is unbounded and range engines run
            // with maxDigits=100 — a >18-digit run must not throw
            if (numStr.length <= 18) (numStr.toLong * scale).toString
            else (BigInt(numStr) * scale).toString
          } else {
            val v = numStr.toDouble * scale
            if (v.isWhole) v.toLong.toString else v.toString
          }
        Some((value, originalRaw))
      }
    }.foreach { case (value, span) => claimWithUnit(value, span) }

    // stage 2: number words over the consumed text
    val (nums, origs) = NumberWords.numbersFromWords(c.text, wordMap)
    for ((n, o) <- nums.zip(origs)) claimWithUnit(NumberWords.numString(n), o)
    c.results
  }

  private def isNumeric(s: String): Boolean = {
    val t = s.replace(",", "").replace(".", "")
    t.nonEmpty && t.forall(_.isDigit)
  }

  private def digitCountOk(value: String): Boolean = {
    val digits = value.takeWhile(c => c.isDigit)
    digits.length >= minDigits && digits.length <= maxDigits
  }

  /** Unit prefix/suffix capture around the detected span
    * (standard_number_detector.py:155-201).
    */
  private def captureUnit(original: String, processed: String): (Option[String], String) = {
    if (unitsMap.isEmpty) return (None, original)
    val padded = " " + processed.strip() + " "
    val esc = Pattern.quote(original)
    val p = Pattern.compile(
      raw"\W+(($unitAlt)[.,\s]*$esc)\W+|\W+($esc\s*($unitAlt))\W+")
    val m = p.matcher(padded)
    if (m.find()) {
      if (m.group(3) != null) (Some(unitsMap(m.group(4).strip())), m.group(3).strip())
      else (Some(unitsMap(m.group(2).strip())), m.group(1).strip())
    } else (None, original)
  }
}
