package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CodeCorpus
import graft.index.SnapshotMeta

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test only ever sees the generated inputs.
  */
object Gen {

  // ---- corpus, query stream ----

  /** `n` CodeCorpus documents under `seed`, written as parquet at `dir`
    * and read back from there.
    */
  def corpus(spark: SparkSession, n: Long, seed: Long, dir: String,
      pathPrefix: String = ""): DataFrame = {
    CodeCorpus.generate(spark, n, seed)
      .withColumn("path", concat(lit(pathPrefix), col("path")))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** An order-independent hash of every row, with the row count. */
  def rowsHash(df: DataFrame): String =
    df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
        count(lit(1))).collect()(0).toString

  /** The built dictionary ordered by df rank (most frequent first). */
  def dictionaryByDf(spark: SparkSession, indexDir: String,
      meta: SnapshotMeta): Array[String] =
    spark.read.schema(graft.index.IndexSchemas.dict).parquet(meta.dictDir(indexDir))
      .select("term", "df").orderBy(desc("df"), asc("term"))
      .collect().map(_.getString(0))

  final case class Query(text: String, fuzzy: Boolean, k: Int)

  /** `n` queries of 1–4 terms drawn Zipf(1.1) by df rank over `dict`; a
    * `fuzzyShare` of them misspell each term once (first letter kept,
    * as the fuzzy prefix length requires).
    */
  def queries(dict: Array[String], n: Int, fuzzyShare: Double,
      exactK: Int, fuzzyK: Int, r: SplittableRandom): Array[Query] = {
    val z = new Zipf(dict.length, 1.1)
    Array.fill(n) {
      val fuzzy = r.nextDouble() < fuzzyShare
      val terms = Seq.fill(1 + r.nextInt(4))(dict(z.sample(r)))
      if (fuzzy) Query(terms.map(misspell(_, r)).mkString(" "), true, fuzzyK)
      else Query(terms.mkString(" "), false, exactK)
    }
  }

  private val letters = "abcdefghijklmnopqrstuvwxyz"

  /** One substitution or adjacent transposition after the first letter. */
  def misspell(w: String, r: SplittableRandom): String =
    if (w.length < 4) w
    else {
      val i = 1 + r.nextInt(w.length - 1)
      if (i < w.length - 1 && r.nextBoolean())
        w.substring(0, i) + w.charAt(i + 1) + w.charAt(i) + w.substring(i + 2)
      else {
        var c = letters.charAt(r.nextInt(26))
        while (c == w.charAt(i)) c = letters.charAt(r.nextInt(26))
        w.substring(0, i) + c + w.substring(i + 1)
      }
    }

  // ---- entity dictionary, messages with answer keys ----

  val Entities: Seq[String] = Seq("city", "restaurant", "dish")

  final case class Entry(entity: String, value: String, variants: Seq[String])

  /** A message and the value each requested entity must be detected as. */
  final case class Msg(text: String, answers: Map[String, String])

  private val syllables = Array("ka", "ro", "mi", "ta", "ve", "lo", "su",
    "na", "de", "pa", "zu", "ri", "bo", "ge", "fa", "ni", "tu", "le", "mo",
    "sa", "hi", "ju", "ko", "ra", "ve", "di", "po", "ga", "lu", "ne", "xa",
    "qi", "wo", "ye", "ba", "ci", "fo", "ha", "ku", "me")

  /** Four syllables: equal lengths, so no word is a prefix of another. */
  private def pseudoWord(r: SplittableRandom): String =
    Seq.fill(4)(syllables(r.nextInt(syllables.length))).mkString

  /** `perEntity` values per entity: pseudo-words, a third of them two
    * words long. Variants: the value, a misspelling of it and, for two
    * words, the joined form. No variant string repeats across values.
    */
  def entityDictionary(perEntity: Int, r: SplittableRandom): Seq[Entry] = {
    val taken = scala.collection.mutable.HashSet.empty[String]
    def fresh(make: => String): String = {
      var s = make
      while (taken(s)) s = make
      taken += s
      s
    }
    Entities.flatMap { e =>
      (0 until perEntity).map { _ =>
        val value = fresh {
          val w = pseudoWord(r).capitalize
          if (r.nextInt(3) == 0) s"$w ${pseudoWord(r).capitalize}" else w
        }
        val lower = value.toLowerCase
        val typo = fresh(lower.split(' ').map(misspell(_, r)).mkString(" "))
        val joined = if (lower.contains(' ')) Seq(fresh(lower.replace(" ", ""))) else Nil
        Entry(e, value, Seq(value, typo) ++ joined)
      }
    }
  }

  def dictionaryFrame(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    import spark.implicits._
    entries.map(x => (x.entity, x.value, x.variants, "en"))
      .toDF("entity_data", "value", "variants", "language_script")
  }

  private val templates = Array(
    "i want to order {dish} from {restaurant} in {city} tonight",
    "is {restaurant} open near {city}",
    "please get me {dish} and a coke",
    "book a table at {restaurant}",
    "what is the best {dish} in {city}",
    "deliver {dish} from {restaurant} please",
    "i am travelling to {city} next week",
    "show me {restaurant} reviews")

  /** `n` messages built from templates over seeded dictionary values. */
  def messages(entries: Seq[Entry], n: Int, r: SplittableRandom): Array[Msg] = {
    val byEntity = entries.groupBy(_.entity).view.mapValues(_.toArray).toMap
    Array.fill(n) {
      var text = templates(r.nextInt(templates.length))
      val answers = Entities.filter(e => text.contains(s"{$e}")).map { e =>
        val v = byEntity(e)(r.nextInt(byEntity(e).length)).value
        text = text.replace(s"{$e}", v.toLowerCase)
        e -> v
      }.toMap
      Msg(text, answers)
    }
  }

  /** The reference-shaped `/v2/text` request body for `msgs`. */
  def requestBody(msgs: Seq[Msg]): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "messages" -> JArray(msgs.map(m => JString(m.text)).toList),
      "source_language" -> JString("en"),
      "entities" -> JObject(Entities.map(_ -> JObject()).toList))))
  }

  // ---- numeral / temporal / pattern messages ----

  /** A message for one detector family and the value it must yield, in
    * the form [[Detect.patternAnswer]] renders that family's output.
    */
  final case class PatternMsg(family: String, text: String, answer: String)

  val Families: Seq[String] = Seq("number", "date", "time", "number_range",
    "budget", "phone", "email", "person_name", "pos_tag")

  private val firstNames = Array("yash", "pratik", "asha", "ravi", "meera",
    "kiran", "arjun", "nisha", "rohan", "divya")
  private val lastNames = Array("doshi", "jain", "shah", "patel", "rao",
    "iyer", "menon", "gupta", "verma", "nair")

  def pattern(family: String, r: SplittableRandom): PatternMsg = family match {
    case "number" =>
      val n = 2 + r.nextInt(998)
      PatternMsg(family, s"i need $n tickets for the show", n.toString)
    case "date" =>
      val (d, m, y) = (1 + r.nextInt(28), 1 + r.nextInt(12), 2027 + r.nextInt(3))
      PatternMsg(family, f"flight on $d%02d/$m%02d/$y please", s"$d/$m/$y")
    case "time" =>
      val (h, mi) = (1 + r.nextInt(11), r.nextInt(60))
      PatternMsg(family, f"wake me up at $h:$mi%02d pm", s"$h:$mi:pm")
    case "number_range" =>
      val a = 10 + r.nextInt(900)
      val b = a + 10 + r.nextInt(900)
      PatternMsg(family, s"shirts between $a to $b", s"$a-$b")
    case "budget" =>
      val k = 2 + r.nextInt(90)
      PatternMsg(family, s"show me cars that cost less than ${k}k", s"0-${k * 1000}")
    case "phone" =>
      val num = s"9${(0 until 9).map(_ => r.nextInt(10)).mkString}"
      PatternMsg(family, s"call the number $num", num)
    case "email" =>
      val u = pseudoWord(r)
      PatternMsg(family, s"write to $u@example.com today", s"$u@example.com")
    case "person_name" =>
      val f = firstNames(r.nextInt(firstNames.length))
      val l = lastNames(r.nextInt(lastNames.length))
      PatternMsg(family, s"my name is $f $l", s"$f $l")
    case "pos_tag" =>
      val w = Seq("the", "a", "this")(r.nextInt(3))
      PatternMsg(family, s"$w ${pseudoWord(r)} was delivered quickly", s"$w/DT")
  }
}
