package graft.analyzer

/** Light English lemmatizer — the optional analyzer filter slot the
  * reference fills with WordNet (lib/nlp/lemmatizer.py). WordNet itself is a
  * large external resource; this is a dictionary-of-irregulars + suffix-rule
  * lemmatizer covering the inflections that matter for matching, documented
  * as a divergence (the analyzer DEFAULT remains the Porter chain — the
  * lemmatizer is opt-in, exactly like the reference's).
  */
object Lemmatizer {

  private val irregular: Map[String, String] = Map(
    // verbs
    "was" -> "be", "were" -> "be", "been" -> "be", "is" -> "be", "are" -> "be",
    "am" -> "be", "had" -> "have", "has" -> "have", "did" -> "do",
    "done" -> "do", "went" -> "go", "gone" -> "go", "ran" -> "run",
    "said" -> "say", "made" -> "make", "took" -> "take", "taken" -> "take",
    "came" -> "come", "saw" -> "see", "seen" -> "see", "got" -> "get",
    "gotten" -> "get", "wrote" -> "write", "written" -> "write",
    "found" -> "find", "gave" -> "give", "given" -> "give",
    "told" -> "tell", "left" -> "leave", "built" -> "build",
    "sent" -> "send", "held" -> "hold", "kept" -> "keep", "paid" -> "pay",
    "met" -> "meet", "ate" -> "eat", "eaten" -> "eat",
    // nouns
    "children" -> "child", "men" -> "man", "women" -> "woman",
    "people" -> "person", "feet" -> "foot", "teeth" -> "tooth",
    "mice" -> "mouse", "geese" -> "goose", "indices" -> "index",
    "matrices" -> "matrix", "vertices" -> "vertex", "leaves" -> "leaf",
    "lives" -> "life", "knives" -> "knife")

  private val vowels = "aeiou".toSet

  /** Bundled starter lemma table (resources/graft/lang/lemma/en.csv —
    * standard irregular verbs, irregular/Latin/Greek plurals,
    * comparatives, PLUS the morphy-membership stand-in: identity entries
    * protecting frequent words the suffix rules would mangle ("news",
    * "string", "speed") and silent-e corrections for the -re/-le/-ate/
    * -ide/-ine/-ype families whose stems end in consonants restoreE's
    * CVC set cannot cover): the frequent-word subset a WordNet exception
    * list + dictionary check covers, consulted by default so
    * out-of-the-box behavior approaches WordNet on common words.
    * Deployments with a full dictionary still pass their own table
    * (functions.lemmatize_with) — caller tables take precedence over
    * this one.
    */
  lazy val bundled: Map[String, String] =
    graft.BundledResource.lines("/graft/lang/lemma/en.csv")
      .drop(1) // header
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .flatMap { l =>
        val c = l.indexOf(',')
        if (c <= 0) None else Some(l.substring(0, c) -> l.substring(c + 1))
      }.toMap

  /** Lemmatize a lowercase word (bundled table + irregulars + rules). */
  def lemma(w: String): String = lemma(w, bundled)

  /** Dictionary-first lemmatization: a caller-supplied word→lemma table
    * (e.g. a WordNet exception list loaded from the user's own data,
    * broadcast by the column wrapper) takes precedence; the built-in
    * irregulars + suffix rules remain the fallback. This is the seam that
    * closes the F4 divergence when the deployment can ship a real lemma
    * dictionary — the engine no longer hardcodes the vocabulary.
    */
  def lemma(w: String, table: Map[String, String]): String = {
    // table precedence is absolute — even for short words the length guard
    // would otherwise pass through untouched
    table.get(w) match {
      case Some(l) => return l
      case None =>
    }
    // bundled table backs up a caller table (checked before the length
    // guard: it holds short irregulars like `am`/`ate`)
    if (table ne bundled) bundled.get(w) match {
      case Some(l) => return l
      case None =>
    }
    if (w.length < 3) return w
    irregular.get(w).getOrElse {
      if (w.endsWith("ies") && w.length > 4) w.dropRight(3) + "y"
      else if (w.endsWith("sses") || w.endsWith("shes") || w.endsWith("ches") ||
        w.endsWith("xes") || w.endsWith("zes")) w.dropRight(2)
      else if (w.endsWith("ss")) w
      else if (w.endsWith("s") && !w.endsWith("us") && !w.endsWith("is")) w.dropRight(1)
      else if (w.endsWith("ing") && w.length > 5) {
        val stem = w.dropRight(3)
        undouble(restoreE(stem))
      } else if (w.endsWith("ed") && w.length > 4) {
        val stem = w.dropRight(2)
        undouble(restoreE(stem))
      } else w
    }
  }

  /** running → run, stopped → stop (doubled final consonant). */
  private def undouble(s: String): String =
    if (s.length >= 3 && s.last == s(s.length - 2) &&
      !vowels.contains(s.last) && s.last != 'l' && s.last != 's') s.dropRight(1)
    else s

  /** maked? no — making → make: restore silent e after C-V-C + e-dropping
    * suffixes when the stem ends consonant preceded by single vowel
    * preceded by consonant (heuristic).
    */
  private def restoreE(s: String): String =
    if (s.length >= 3 && !vowels.contains(s.last) &&
      vowels.contains(s(s.length - 2)) && !vowels.contains(s(s.length - 3)) &&
      (s.last == 'k' || s.last == 'v' || s.last == 'c' || s.last == 'g' ||
        s.last == 's' || s.last == 'z' || s.last == 'u')) s + "e"
    else s

  def lemmatize(tokens: Array[String]): Array[String] =
    tokens.map(t => lemma(t))

  def lemmatize(tokens: Array[String],
      table: Map[String, String]): Array[String] =
    tokens.map(t => lemma(t, table))
}
