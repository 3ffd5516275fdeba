package graft.detectors

import java.util.regex.Pattern
import scala.collection.mutable.ListBuffer

/** Shopping-size detection (reference
  * ner_v1/detectors/numeral/size/shopping_size_detection.py:97-160):
  * dictionary apparel sizes (incl. word forms) + numeric sizes in a size
  * context. Values are normalized size codes.
  */
object ShoppingSizeDetector {

  private val sizeMap: Map[String, String] = Map(
    "xxs" -> "XXS", "extra extra small" -> "XXS",
    "xs" -> "XS", "extra small" -> "XS",
    "s" -> "S", "small" -> "S",
    "m" -> "M", "medium" -> "M",
    "l" -> "L", "large" -> "L",
    "xl" -> "XL", "extra large" -> "XL",
    "xxl" -> "XXL", "extra extra large" -> "XXL",
    "xxxl" -> "XXXL")
  private val sizeAlt = sizeMap.keys.toSeq.sortBy(-_.length)
    .map(Pattern.quote).mkString("|")
  private val pDict = Pattern.compile(raw"\b($sizeAlt)\b")
  private val pNumeric = Pattern.compile(
    raw"\b(?:size|sizes)\s+(\d{1,2})\b|\b(\d{1,2})\s+(?:size|sizes)\b")

  def detect(text0: String): Seq[Detected] = {
    val c = new Cascade[Detected](text0.toLowerCase(java.util.Locale.ROOT),
      "__shopping_size__", Cascade.wordBounded, _.original)
    c.run(pDict)(m => Some(Detected(sizeMap(m.group(1)), None, m.group(1))))
    c.run(pNumeric) { m =>
      val v = if (m.group(1) != null) m.group(1) else m.group(2)
      Some(Detected(v, None, m.group().strip()))
    }
    c.results
  }
}

/** Passenger-count detection (reference
  * ner_v1/detectors/numeral/number/passenger_detection.py:92-205):
  * numbers (digits or words) scoped by passenger keywords
  * (adult/child/infant/passenger/person/people/pax), keyword before or
  * after the count. Returns the count with the passenger class as unit.
  */
object PassengerDetector {

  private val kw = Map(
    "adults" -> "adult", "adult" -> "adult",
    "children" -> "child", "child" -> "child", "kids" -> "child",
    "kid" -> "child",
    "infants" -> "infant", "infant" -> "infant", "babies" -> "infant",
    "baby" -> "infant",
    "passengers" -> "passenger", "passenger" -> "passenger",
    "persons" -> "passenger", "person" -> "passenger",
    "people" -> "passenger", "pax" -> "passenger", "travellers" -> "passenger",
    "traveller" -> "passenger")
  private val kwAlt = kw.keys.toSeq.sortBy(-_.length).mkString("|")
  private val numberWordAlt = NumberWords.en
    .filter { case (w, v) => v.scale == 1 && w.length > 1 }
    .keys.toSeq.sortBy(-_.length).mkString("|")
  private val p = Pattern.compile(
    raw"\b(\d{1,3}|$numberWordAlt)\s+($kwAlt)\b|\b($kwAlt)\s*[:\-]?\s*(\d{1,3}|$numberWordAlt)\b")

  def detect(text0: String): Seq[Detected] = {
    val processed = text0.toLowerCase(java.util.Locale.ROOT)
    val out = ListBuffer.empty[Detected]
    val m = p.matcher(processed)
    while (m.find()) {
      val (numStr, kwStr) =
        if (m.group(1) != null) (m.group(1), m.group(2))
        else (m.group(4), m.group(3))
      val value: Option[Long] =
        if (numStr.forall(_.isDigit)) Some(numStr.toLong)
        else NumberWords.numbersFromWords(numStr)._1.headOption.map(_.toLong)
      value.foreach(v =>
        out += Detected(v.toString, Some(kw(kwStr)), m.group().strip()))
    }
    out.toSeq
  }
}
