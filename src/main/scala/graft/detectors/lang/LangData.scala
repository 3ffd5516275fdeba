package graft.detectors.lang

import scala.collection.mutable.LinkedHashMap

/** CSV-driven language constant tables for the standard date/time regex
  * engines — the reference's headline v2 architecture
  * (ner_v2/detectors/temporal/utils.py:get_tuple_dict feeding
  * standard_date_regex.py / standard_time_regex.py): one engine, per-language
  * vocabulary tables. A language is three CSVs, shipped as classpath
  * resources under /graft/lang.
  *
  * Row format: `key,<col1>,<col2>,...` where key is a '|'-separated variant
  * list; every variant maps (lowercased) to the remaining columns. Insertion
  * order is preserved — the time engine's meridiem-word scan is
  * order-sensitive, matching the reference's dict iteration.
  */
final case class TupleDict(entries: LinkedHashMap[String, Vector[String]]) {
  def apply(key: String): Vector[String] = entries(key)
  def get(key: String): Option[Vector[String]] = entries.get(key)
  def keys: Iterator[String] = entries.keysIterator
  /** Variants whose column `col` equals `value`. */
  def variantsOfType(col: Int, value: String): Seq[String] =
    entries.iterator.collect {
      case (k, cols) if k.nonEmpty && cols.lift(col).contains(value) => k
    }.toSeq
}

object TupleDict {

  def parse(csv: String): TupleDict = {
    val out = LinkedHashMap.empty[String, Vector[String]]
    val lines = csv.split("\r?\n").iterator.filter(_.nonEmpty)
    if (lines.hasNext) lines.next() // header
    lines.foreach { line =>
      val cols = line.split(",", -1).toVector
      val values = cols.drop(1)
      cols.head.split("\\|").iterator
        .map(_.strip().toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty)
        .foreach(k => out(k) = values)
    }
    TupleDict(out)
  }

  /** Built-in language table (classpath resource under /graft/lang). */
  def resource(kind: String, lang: String, file: String): TupleDict =
    parse(graft.BundledResource.text(s"/graft/lang/$kind/$lang/$file"))
}

/** The three tables a date language needs. Columns mirror the reference CSVs:
  * date_constant: (numeric_representation, date_type);
  * datetime_diff_constant: (present_in_start, adding_magnitude, datetime_type);
  * numbers_constant: (numeric_representation).
  */
final case class DateLangData(dateConst: TupleDict, dtConst: TupleDict,
    numerals: TupleDict)

/** time_constant: (time_type, meridiem); plus diff + numerals as above. */
final case class TimeLangData(timeConst: TupleDict, dtConst: TupleDict,
    numerals: TupleDict)

object LangData {

  /** Languages shipped as resources (recreated from the reference's
    * per-language data dirs — all six date languages; te ships no time
    * tables in the reference either).
    */
  val builtinDateLanguages: Seq[String] = Seq("hi", "bn", "ta", "te", "gu", "mr")
  val builtinTimeLanguages: Seq[String] = Seq("hi", "bn", "ta", "gu", "mr")

  def date(lang: String): DateLangData = DateLangData(
    TupleDict.resource("date", lang, "date_constant.csv"),
    TupleDict.resource("date", lang, "datetime_diff_constant.csv"),
    TupleDict.resource("date", lang, "numbers_constant.csv"))

  def time(lang: String): TimeLangData = TimeLangData(
    TupleDict.resource("time", lang, "time_constant.csv"),
    TupleDict.resource("time", lang, "datetime_diff_constant.csv"),
    TupleDict.resource("time", lang, "numbers_constant.csv"))
}
