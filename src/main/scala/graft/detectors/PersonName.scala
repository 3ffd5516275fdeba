package graft.detectors

/** A detected person name split into parts (reference envelope:
  * name_detection.py get_format_name — first/middle/last).
  */
final case class DetectedName(firstName: String, middleName: Option[String],
    lastName: Option[String], original: String)

/** Person-name detector (F31) — the reference's NameDetector en path
  * (ner_v1/detectors/textual/name/name_detection.py:58-145) over a real
  * averaged-perceptron POS tagger (graft.nlp.PosTagger — the NLTK
  * PerceptronTagger algorithm the reference loads via lib/nlp/pos.py,
  * trained deterministically from the bundled corpus since NLTK's
  * pretrained weights are not shippable offline):
  *  - question guard — tags starting WR / WP / CD anywhere reject the
  *    whole message (:126-131);
  *  - free-text path keeps the NN* / JJ* tokens, fires only on messages
  *    under 4 tokens when the previous bot message asked for a name
  *    (:133-140, context_check_botmessage:370-390);
  *  - first/middle/last split (get_format_name:59-103);
  *  - 'my name is X' templates fire regardless of bot context (a
  *    documented extension beyond the reference's pos-only path; the
  *    reference docstring names templates but ships none).
  */
object PersonName {

  private val stopwords = Set(
    "i", "am", "is", "the", "a", "an", "my", "me", "you", "your", "it's",
    "its", "name", "yes", "no", "ok", "okay", "please", "hi", "hello", "hey")

  /** name-asking phrases for the bot-context check (subset of the
    * reference's PREVIOUS_MESSAGE_VARIATIONS, lang_constants.py:885-892).
    */
  private val nameContextPhrases = Seq(
    "call you", "your name", "address you", "is your name", "say your name",
    "know your name", "tell your name", "your full name", "enter your name",
    "share your name", "what's your name", "tell me your name",
    "what is your name", "mention your name", "provide your name",
    "help me with your name", "please enter your name")

  private val templates = Seq(
    "my name is ", "name is ", "i am ", "i'm ", "this is ", "myself ",
    "call me ")

  /** hi name-path language data (reference lang_constants.py hi entries —
    * PREVIOUS_MESSAGE_VARIATIONS / INDIC_STOPWORDS / COMMON_INDIC_WORDS_
    * OCCURRING_WITH_NAME / INDIC_BADWORDS / INDIC_QUESTIONWORDS — shipped
    * verbatim as resources under graft/lang/name/hi/).
    */
  private def loadHiSet(name: String): Set[String] =
    graft.BundledResource.lines(s"/graft/lang/name/hi/$name.csv").drop(1)
      .map(_.strip()).filter(_.nonEmpty).toSet
  private lazy val hiPrevVariations = loadHiSet("prev_message_variations")
  private lazy val hiStopwords = loadHiSet("stopwords")
  private lazy val hiCommonWithName = loadHiSet("common_with_name")
  private lazy val hiBadwords = loadHiSet("badwords")
  private lazy val hiQuestionWords = loadHiSet("questionwords")

  // reference EMOJI_RANGES (ner_v1/constant.py:119-134), joined into one
  // character class exactly like remove_emojis does
  private val emojiPattern = java.util.regex.Pattern.compile(
    "[🇦-🇿🌀-🗿😀-🙏" +
      "🚀-🛿🤀-🧿‍️" +
      "☀-➿🏻-🏿℀-⅏←-⇿" +
      "⌀-⏿①-⓿■-◿]+")

  private val hiUnicodeRange = "ऀ-ॿ" // INDIC_UNICODE_RANGE[hi]

  /** Does the previous bot message ask for a name? (context_check_botmessage:
    * punctuation stripped, lowercase, space-wrapped phrase containment;
    * phrase set is per-language — PREVIOUS_MESSAGE_VARIATIONS[language].)
    */
  def nameContext(botMessage: String): Boolean = nameContext(botMessage, "en")

  def nameContext(botMessage: String, language: String): Boolean = {
    val cleaned = " " + botMessage.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\p{Punct}+", "").strip() + " "
    val phrases =
      if (language == "hi") hiPrevVariations.toSeq.map(_.toLowerCase(java.util.Locale.ROOT))
      else nameContextPhrases
    phrases.exists(p => cleaned.contains(" " + p.replaceAll("\\p{Punct}+", "") + " ") ||
      cleaned.contains(p))
  }

  private def formatName(tokens: Seq[String], text: String): Seq[DetectedName] = {
    if (tokens.isEmpty) return Seq.empty
    val nameText = tokens.mkString(" ")
    if (!text.contains(nameText)) return Seq.empty
    if (tokens.length == 1) Seq(DetectedName(tokens.head, None, None, nameText))
    else Seq(DetectedName(tokens.head,
      Some(tokens.slice(1, tokens.length - 1).mkString(" ")).filter(_.nonEmpty),
      Some(tokens.last), nameText))
  }

  private def nameLike(tok: String): Boolean =
    tok.nonEmpty && !stopwords.contains(tok.toLowerCase(java.util.Locale.ROOT)) &&
      tok.forall(c => c.isLetter || c == '.' || c == '\'' || c == '-')

  /** Detect a name in `text`. `botMessage` (the previous bot turn) gates the
    * free-text path exactly like the reference; templates fire without it.
    * `language = "hi"` takes the reference's INDIC path
    * (detect_indic_name, name_detection.py:209-243): badword/question
    * guards, emoji removal, keep-Devanagari-only, stopword +
    * common-with-name removal, <= 4 tokens → first/middle/last; when the
    * Devanagari residue is empty but latin text exists, the latin-only
    * text falls through to the free-text path (the reference's
    * "name written in latin script" fallback) — the bot-context gate uses
    * the hi phrase set in both branches.
    */
  def detect(text: String, botMessage: Option[String] = None,
      language: String = "en"): Seq[DetectedName] = {
    if (language == "hi") return detectHi(text, botMessage)
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val tokens = text.split("\\s+").filter(_.nonEmpty).toSeq
    if (tokens.isEmpty) return Seq.empty

    // POS pass, once per message — the reference tags text.split()
    // through the NLTK averaged perceptron (get_name_using_pos_tagger:
    // 121-125); graft.nlp.PosTagger is the same algorithm trained on the
    // bundled corpus.
    val tagged = graft.nlp.PosTagger.en.tag(tokens)

    // question guard: interrogatives or cardinals anywhere → no name
    // (name_detection.py:127-131 — tags starting WR / WP / CD). A belt-and-
    // braces digit check backs the CD tag for digit-bearing tokens the
    // normalizer does not canonicalize (e.g. '2pm' → leading digit IS
    // canonicalized; 'b2b' is not).
    if (tagged.exists { case (_, t) =>
        t.startsWith("WR") || t.startsWith("WP") || t.startsWith("CD") } ||
      tokens.exists(_.exists(_.isDigit))) return Seq.empty

    // template path: 'my name is X Y' and friends
    for (tpl <- templates) {
      val at = lower.indexOf(tpl)
      if (at >= 0) {
        val rest = text.substring(at + tpl.length)
        val nameToks = rest.split("\\s+").filter(_.nonEmpty).takeWhile(nameLike)
        if (nameToks.nonEmpty) return formatName(nameToks.toSeq, text)
      }
    }

    // free-text path: short message + the bot asked for a name — keep the
    // noun/adjective tokens (name_detection.py:133-140, startswith NN/JJ)
    if (botMessage.exists(nameContext) && tokens.length < 4) {
      val nameToks = tagged.collect { case (w, t)
        if t.startsWith("NN") || t.startsWith("JJ") => w }
      if (nameToks.nonEmpty) return formatName(nameToks, text)
    }
    Seq.empty
  }

  private def detectHi(text0: String, botMessage: Option[String]): Seq[DetectedName] = {
    // bot-context gate applies whenever a bot message is present
    // (detect_entity:163-166)
    if (botMessage.exists(b => !nameContext(b, "hi"))) return Seq.empty
    val spaced = " " + text0 + " "
    if (hiBadwords.exists(b => spaced.contains(" " + b + " "))) return Seq.empty
    if (text0.split("\\s+").exists(hiQuestionWords.contains)) return Seq.empty
    val noEmoji = emojiPattern.matcher(text0).replaceAll("")
    // keep Devanagari + whitespace only (INDIC_UNICODE_RANGE[hi])
    val devnag = noEmoji.replaceAll(s"[^$hiUnicodeRange\\s]+", "")
    val kept = devnag.split(" ").toSeq
      .filter(w => !hiStopwords.contains(w))
      .filter(w => !hiCommonWithName.contains(w))
      .filter(_.nonEmpty)
    // > 4 tokens or not a contiguous substring of the stripped text → no
    // Devanagari name (get_indic_names_without_regex:418-421); an empty
    // result falls through to the latin fallback, like the reference's
    // `if not entity_value` chain
    val indic =
      if (kept.nonEmpty && kept.length <= 4 && devnag.contains(kept.mkString(" ")))
        formatName(kept, devnag)
      else Seq.empty
    if (indic.nonEmpty) return indic
    // latin fallback: a name typed in latin script under a hi bot message
    if (noEmoji.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) {
      val latinOnly = noEmoji.replaceAll("[^a-zA-Z\\s]+", "").strip()
      val toks = latinOnly.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length < 4) {
        val nameToks = toks.filter(nameLike)
        if (nameToks.nonEmpty) return formatName(nameToks, latinOnly)
      }
    }
    Seq.empty
  }
}
