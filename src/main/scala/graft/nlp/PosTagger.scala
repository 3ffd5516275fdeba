package graft.nlp

import scala.collection.mutable

/** Averaged-perceptron part-of-speech tagger — the algorithm the
  * reference's person-name path loads through NLTK
  * (lib/nlp/pos.py:14-22 `nltk.PerceptronTagger`), reimplemented from the
  * public description (M. Honnibal, "A Good Part-of-Speech Tagger in about
  * 200 Lines of Python", 2013 — the post NLTK's tagger credits): greedy
  * left-to-right tagging over a 14-feature template (word shape
  * normalization, prefix/suffix, two previous tags, a ±2 word window)
  * with averaged weights.
  *
  * NLTK's pretrained Penn-Treebank weights are not shippable offline, so
  * the English model trains AT FIRST USE — deterministically (fixed seed,
  * fixed epoch count) — from a bundled hand-tagged conversational corpus
  * (resources/graft/lang/pos/en_tagged.csv) merged with a closed-class tag
  * dictionary (en_tagdict.csv). Training is a few milliseconds at this
  * corpus size and produces identical weights on every JVM, so behavior is
  * as reproducible as shipped weights. What the name path needs from the
  * tagger (name_detection.py:126-140) is the WR* / WP* / CD question-cardinal
  * guard and the NN* / JJ* keep-set; PersonNameSpec pins those via the
  * reference's own test sentences.
  */
object PosTagger {

  private val Start = Array("-START-", "-START2-")
  private val End = Array("-END-", "-END2-")

  /** Word-shape normalization (hyphenated -> !HYPHEN, 4-digit -> !YEAR,
    * leading digit -> !DIGITS, else lowercase).
    */
  private[nlp] def normalize(word: String): String =
    if (word.contains('-') && word.nonEmpty && word.charAt(0) != '-') "!HYPHEN"
    else if (word.length == 4 && word.forall(_.isDigit)) "!YEAR"
    else if (word.nonEmpty && word.charAt(0).isDigit) "!DIGITS"
    else word.toLowerCase(java.util.Locale.ROOT)

  private def suffix(s: String): String =
    if (s.length <= 3) s else s.substring(s.length - 3)

  /** The 14-feature template over the padded, normalized context. */
  private[nlp] def featuresOf(i: Int, word: String, context: Array[String],
      prev: String, prev2: String): Array[String] = {
    val j = i + Start.length
    Array(
      "bias",
      "i suffix " + suffix(word),
      "i pref1 " + (if (word.isEmpty) "" else word.substring(0, 1)),
      "i-1 tag " + prev,
      "i-2 tag " + prev2,
      "i tag+i-2 tag " + prev + " " + prev2,
      "i word " + context(j),
      "i-1 tag+i word " + prev + " " + context(j),
      "i-1 word " + context(j - 1),
      "i-1 suffix " + suffix(context(j - 1)),
      "i-2 word " + context(j - 2),
      "i+1 word " + context(j + 1),
      "i+1 suffix " + suffix(context(j + 1)),
      "i+2 word " + context(j + 2))
  }

  /** The averaged-perceptron model: per-feature label weights, with the
    * running totals/timestamps needed for averaging at the end of training.
    */
  private[nlp] final class Model(val classes: Array[String]) {
    val weights = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
    private val totals = mutable.HashMap.empty[(String, String), Double]
    private val tstamps = mutable.HashMap.empty[(String, String), Int]
    private var instances = 0

    def predict(feats: Array[String]): String = {
      val scores = mutable.HashMap.empty[String, Double]
      var i = 0
      while (i < feats.length) {
        weights.get(feats(i)).foreach(_.foreach { case (label, w) =>
          scores.update(label, scores.getOrElse(label, 0.0) + w)
        })
        i += 1
      }
      // ties break to the lexicographically larger tag (NLTK's max key)
      classes.maxBy(c => (scores.getOrElse(c, 0.0), c))
    }

    def update(truth: String, guess: String, feats: Array[String]): Unit = {
      instances += 1
      if (truth == guess) return
      for (f <- feats) {
        val w = weights.getOrElseUpdate(f, mutable.HashMap.empty)
        bump(f, truth, w.getOrElse(truth, 0.0), 1.0, w)
        bump(f, guess, w.getOrElse(guess, 0.0), -1.0, w)
      }
    }

    private def bump(f: String, c: String, w: Double, v: Double,
        m: mutable.HashMap[String, Double]): Unit = {
      val key = (f, c)
      totals.update(key,
        totals.getOrElse(key, 0.0) + (instances - tstamps.getOrElse(key, 0)) * w)
      tstamps.update(key, instances)
      m.update(c, w + v)
    }

    def average(): Unit =
      for ((f, m) <- weights; (c, w) <- m.toSeq) {
        val key = (f, c)
        val total = totals.getOrElse(key, 0.0) + (instances - tstamps.getOrElse(key, 0)) * w
        val avg = math.rint(total / instances * 1000.0) / 1000.0
        if (avg != 0.0) m.update(c, avg) else m.remove(c)
      }
  }

  private def loadResourceLines(path: String): Seq[String] =
    graft.BundledResource.lines(path)
      .map(_.strip()).filter(l => l.nonEmpty && !l.startsWith("#")).toVector

  /** Parse "word_TAG word_TAG ..." lines (tag = substring after the LAST
    * underscore, so hyphenated/apostrophe words survive).
    */
  private def parseTagged(lines: Seq[String]): Seq[Array[(String, String)]] =
    lines.map { line =>
      line.split("\\s+").filter(_.nonEmpty).map { wt =>
        val cut = wt.lastIndexOf('_')
        require(cut > 0, s"untagged token '$wt'")
        (wt.substring(0, cut), wt.substring(cut + 1))
      }
    }

  /** Deterministic training: unambiguous-frequent words go to the tag
    * dictionary (NLTK's _make_tagdict rule, threshold scaled to the
    * bundled corpus), then `epochs` shuffled perceptron passes, then
    * weight averaging. The explicit closed-class dictionary overrides the
    * derived one.
    */
  private def train(sentences: Seq[Array[(String, String)]],
      explicitDict: Map[String, String], epochs: Int, seed: Long): PosTagger = {
    val counts = mutable.HashMap.empty[String, mutable.HashMap[String, Int]]
    for (s <- sentences; (w, t) <- s)
      counts.getOrElseUpdate(w, mutable.HashMap.empty)
        .updateWith(t)(c => Some(c.getOrElse(0) + 1))
    val derived = counts.iterator.flatMap { case (w, byTag) =>
      val n = byTag.values.sum
      val (tag, mode) = byTag.maxBy(_._2)
      if (n >= 5 && mode.toDouble / n >= 0.97) Some(w -> tag) else None
    }.toMap
    val tagdict = derived ++ explicitDict
    val classes = (sentences.flatMap(_.map(_._2)) ++ explicitDict.values)
      .distinct.sorted.toArray

    val model = new Model(classes)
    val rnd = new java.util.Random(seed)
    val order = sentences.toArray
    for (_ <- 0 until epochs) {
      // Fisher-Yates with the fixed-seed generator: identical order every run
      var i = order.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
        i -= 1
      }
      for (sent <- order) {
        val words = sent.map(_._1)
        val context = Start ++ words.map(normalize) ++ End
        var prev = Start(0)
        var prev2 = Start(1)
        var k = 0
        while (k < words.length) {
          val truth = sent(k)._2
          val guess = tagdict.getOrElse(words(k), {
            val f = featuresOf(k, words(k), context, prev, prev2)
            val g = model.predict(f)
            model.update(truth, g, f)
            g
          })
          prev2 = prev
          prev = guess
          k += 1
        }
      }
    }
    model.average()
    new PosTagger(model, tagdict)
  }

  /** The English tagger, trained once per JVM from the bundled corpus. */
  lazy val en: PosTagger = {
    val sentences = parseTagged(loadResourceLines("/graft/lang/pos/en_tagged.csv"))
    val explicit = loadResourceLines("/graft/lang/pos/en_tagdict.csv").map { l =>
      val i = l.lastIndexOf(',')
      (l.substring(0, i), l.substring(i + 1))
    }.toMap
    train(sentences, explicit, epochs = 5, seed = 42L)
  }
}

/** A trained tagger: greedy left-to-right tag over the feature template,
  * tag dictionary consulted first (exactly the runtime the training loop
  * optimized for).
  */
final class PosTagger private[nlp] (m: PosTagger.Model,
    tagdict: Map[String, String]) {

  def tag(tokens: Seq[String]): Seq[(String, String)] = {
    val words = tokens.toArray
    val context = Array("-START-", "-START2-") ++
      words.map(PosTagger.normalize) ++ Array("-END-", "-END2-")
    var prev = "-START-"
    var prev2 = "-START2-"
    val out = new Array[(String, String)](words.length)
    var k = 0
    while (k < words.length) {
      val t = tagdict.getOrElse(words(k),
        m.predict(PosTagger.featuresOf(k, words(k), context, prev, prev2)))
      out(k) = (words(k), t)
      prev2 = prev
      prev = t
      k += 1
    }
    out.toSeq
  }
}
