package graft.analyzer

import org.scalatest.funsuite.AnyFunSuite

/** Golden vectors for the tokenizer were generated by running the reference
  * tokenizer regex (`\w(?:\B\S)*`, lib/nlp/tokenizer.py:61-72) over the same
  * inputs; stemmer vectors are canonical Porter-1980 pairs.
  */
class AnalyzerSpec extends AnyFunSuite {

  test("tokenizer matches reference regex behavior") {
    val cases: Seq[(String, Seq[String])] = Seq(
      "import org.apache.spark.sql.functions" ->
        Seq("import", "org", "apache", "spark", "sql", "functions"),
      "def foo_bar(x: Int): Boolean = x > 0" ->
        Seq("def", "foo_bar", "x", "Int", "Boolean", "x", "0"),
      "don't stop-me now; it's 3.14 times" ->
        Seq("don", "t", "stop", "me", "now", "it", "s", "3", "14", "times"),
      "  __init__  self._x2 = y[3] + z  " ->
        Seq("__init__", "self", "_x2", "y", "3", "z"),
      "CamelCaseToken snake_case_token UPPER" ->
        Seq("CamelCaseToken", "snake_case_token", "UPPER"),
      "a b  c" -> Seq("a", "b", "c"),
      "" -> Seq(),
      "..." -> Seq(),
      "naïve café 北京 привет мир" ->
        Seq("naïve", "café", "北京", "привет", "мир"),
      "x+y=z a&b|c" -> Seq("x", "y", "z", "a", "b", "c"))
    for ((in, expected) <- cases) {
      assert(Tokenizer.tokenizeTerms(in).toSeq == expected, s"input: '$in'")
    }
  }

  test("tokenizer offsets recover exact substrings") {
    val text = "def foo_bar(x) :=  baz.qux[2]"
    for (t <- Tokenizer.tokenize(text)) {
      assert(text.substring(t.start, t.end) == t.term)
    }
  }

  test("porter stemmer canonical vectors") {
    val cases = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "agreed" -> "agre", "plastered" -> "plaster", "motoring" -> "motor",
      "sing" -> "sing", "conflated" -> "conflat", "troubled" -> "troubl",
      "sized" -> "size", "hopping" -> "hop", "tanned" -> "tan",
      "falling" -> "fall", "hissing" -> "hiss", "fizzed" -> "fizz",
      "failing" -> "fail", "filing" -> "file", "happy" -> "happi",
      "sky" -> "sky", "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "valenci" -> "valenc", "hesitanci" -> "hesit",
      "digitizer" -> "digit", "conformabli" -> "conform",
      "radicalli" -> "radic", "differentli" -> "differ", "vileli" -> "vile",
      "analogousli" -> "analog", "vietnamization" -> "vietnam",
      "predication" -> "predic", "operator" -> "oper",
      "feudalism" -> "feudal", "decisiveness" -> "decis",
      "hopefulness" -> "hope", "callousness" -> "callous",
      "formaliti" -> "formal", "sensitiviti" -> "sensit",
      "sensibiliti" -> "sensibl", "triplicate" -> "triplic",
      "formative" -> "form", "formalize" -> "formal",
      "electriciti" -> "electr", "electrical" -> "electr",
      "hopeful" -> "hope", "goodness" -> "good", "revival" -> "reviv",
      "allowance" -> "allow", "inference" -> "infer",
      "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "irritant" -> "irrit", "replacement" -> "replac",
      "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "communism" -> "commun",
      "activate" -> "activ", "effective" -> "effect",
      "bowdlerize" -> "bowdler", "probate" -> "probat", "rate" -> "rate",
      "cease" -> "ceas", "controll" -> "control", "roll" -> "roll",
      "flies" -> "fli", "stemming" -> "stem", "running" -> "run")
    for ((in, expected) <- cases) {
      assert(PorterStemmer.stem(in) == expected, s"stem('$in')")
    }
  }

  test("analyze = tokenize + lowercase + stem") {
    assert(Analyzer.analyze("Imported Modules; the runner RUNS quickly").toSeq ==
      Seq("import", "modul", "the", "runner", "run", "quickli"))
  }

  test("term frequencies are sorted and complete") {
    val tfs = Analyzer.termFrequencies("def def import x def import")
    assert(tfs.toSeq == Seq(("def", 3), ("import", 2), ("x", 1)))
  }

  test("index-time and query-time analysis are identical (symmetry)") {
    val text = "SELECT running FROM imports WHERE happiness > 0"
    assert(Analyzer.analyze(text).toSeq ==
      Analyzer.analyzeWithOffsets(text).map(_.term).toSeq)
  }

  test("analyzers registry: whitespace keeps case/inflection, standard delegates") {
    // whitespace = split on \s+, drop empties, NO lowercase, NO stemming —
    // the contract the DuckDB BM25 oracle replays with
    // regexp_split_to_array(text,'\s+') minus empties
    assert(Analyzers.analyze(Analyzers.Whitespace,
      "  Imported  Modules\truns\nquickly ").toSeq ==
      Seq("Imported", "Modules", "runs", "quickly"))
    assert(Analyzers.analyze(Analyzers.Whitespace, "").isEmpty)
    assert(Analyzers.analyze(Analyzers.Standard, "Imported Modules").toSeq ==
      Analyzer.analyze("Imported Modules").toSeq)
    assert(Analyzers.termFrequencies(Analyzers.Whitespace, "b a b B").toSeq ==
      Seq(("B", 1), ("a", 1), ("b", 2)))
    intercept[IllegalArgumentException](Analyzers.analyze("nope", "x"))
  }

  /** Seeded scalacheck Gens (as in PostingCodecSpec): text mixing ASCII,
    * punctuation, digits and non-ASCII letters and marks.
    */
  test("property: index-time and query-time analyzers emit the same terms (seeded)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val nonAscii = Seq("é", "ß", "İ", "ı", "ǅ", "ﬁ", "北京", "привет", "हिंदी",
      "e\u0301", "\ud83d\ude00", "\u00a0", "ŉ", "Σς")
    val piece = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf(" .,;:!?-_'\"()[]{}<>/\\|@#$%^&*+=~`\t\n\r")).map(_.mkString),
      Gen.numStr,
      Gen.alphaStr,
      Gen.listOf(Gen.oneOf(nonAscii)).map(_.mkString))
    val genText = for {
      pieces <- Gen.listOf(piece)
      seps <- Gen.listOfN(pieces.length, Gen.oneOf("", " ", "_", ".", "\t"))
    } yield pieces.zip(seps).map { case (p, s) => p + s }.mkString
    for (i <- 1 to 500) {
      val text = genText(Gen.Parameters.default, Seed(i.toLong)).get
      for (name <- Seq(Analyzers.Standard, Analyzers.Whitespace)) {
        val counts = Analyzers.analyze(name, text).groupBy(identity)
          .map { case (t, ts) => (t, ts.length) }.toSeq.sortBy(_._1)
        assert(Analyzers.termFrequencies(name, text).toSeq == counts,
          s"$name seed $i: '$text'")
      }
      assert(Analyzer.analyzeWithOffsets(text).map(_.term).toSeq ==
        Analyzer.analyze(text).toSeq, s"standard offsets seed $i: '$text'")
    }
  }
}
