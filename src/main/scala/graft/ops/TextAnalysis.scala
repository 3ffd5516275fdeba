package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for training-data pipelines: token statistics,
  * quality scoring, n-gram language id, and rolling-hash fingerprints.
  * Everything per-row, expression-first (whole-stage codegen), no shuffles.
  */
object TextAnalysis {

  /** Exposed (not private): SparkEntry generates the DuckDB curation oracle
    * from this same list — one source of truth, like langProfiles below.
    */
  val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is")

  def tokens(textCol: Column): Column = split(textCol, "\\s+")

  /** Integer token statistics (cross-engine-exact types). */
  def tokenStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = tokens(col(textCol))
    df.select(col(idCol),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_uniq"),
      size(filter(t, x => x.isin(stopwords: _*))).as("n_stop"),
      length(col(textCol)).as("n_chars"))
  }

  /** Heuristic quality score in [0,1]: penalizes very short/long docs, low
    * lexical diversity, missing stopwords, high punctuation density —
    * the standard pre-training quality-filter shape (Gopher-style rules).
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val nTok = size(t).cast(DoubleType)
    val diversity = when(nTok > 0, size(array_distinct(t)) / nTok).otherwise(0.0)
    val stopRatio = when(nTok > 0,
      size(filter(t, x => x.isin(stopwords: _*))) / nTok).otherwise(0.0)
    val punct = length(regexp_replace(col(textCol), "[^\\p{Punct}]", "")).cast(DoubleType)
    val punctRatio = when(length(col(textCol)) > 0,
      punct / length(col(textCol))).otherwise(0.0)
    val lengthOk = when(nTok.between(10, 100000), 1.0).otherwise(0.3)
    df.withColumn("quality",
      round(lengthOk * (lit(0.4) + lit(0.3) * diversity
        + lit(0.2) * least(stopRatio * 5, lit(1.0))
        + lit(0.1) * (lit(1.0) - least(punctRatio * 5, lit(1.0)))), 6))
  }

  /** Character-trigram language id against small built-in profiles — the
    * n-gram heuristic (real pipelines broadcast bigger profiles; the
    * mechanism — profile match per row, zero shuffles — is the same).
    */
  /** Exposed (not private): SparkEntry generates the DuckDB langid oracle
    * from this same table — one source of truth, like the minhash constants.
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", " to"),
    "de" -> Seq("er ", " de", "der", "ie ", " di", "die", "ein", "ich", "sch", "und"),
    "fr" -> Seq(" de", "de ", " le", "es ", "le ", "ent", " la", "la ", "ion", "que"),
    "es" -> Seq(" de", "de ", " la", "la ", "os ", " el", "el ", "que", " qu", "ión"))

  def langId(df: DataFrame, textCol: String): DataFrame = {
    // single compact UDF instead of a ~400-node expression tree: the
    // expression form triggered a pathological whole-stage-codegen method
    // (janino compile per task dominated runtime)
    val profiles = langProfiles.toSeq.sortBy(_._1)
    val idU = udf { (text: String) =>
      if (text == null) "und"
      else {
        val t = text.toLowerCase(java.util.Locale.ROOT)
        var bestLang = "und"
        var bestScore = -1
        for ((lang, grams) <- profiles) {
          var s = 0
          for (g <- grams) if (t.contains(g)) s += 1
          // tie → lexicographically larger lang (stable, documented)
          if (s > bestScore || (s == bestScore && lang > bestLang)) {
            bestScore = s; bestLang = lang
          }
        }
        bestLang
      }
    }
    df.withColumn("lang_pred", idU(col(textCol)))
  }

  /** Rolling fingerprint of the whitespace token stream: per-token hash
    * chained through xxhash64(acc, tokenHash) — order-sensitive like a
    * polynomial rolling hash but overflow-free under ANSI arithmetic. A
    * stable document fingerprint invariant to formatting-only whitespace
    * changes.
    */
  def fingerprint(df: DataFrame, textCol: String): DataFrame = {
    val t = filter(tokens(col(textCol)), x => x =!= "")
    df.withColumn("fingerprint",
      aggregate(t, lit(0L), (acc, tok) => xxhash64(acc, tok)))
  }

  /** PII scrub regexes — exposed (not private): SparkEntry generates the
    * DuckDB q_pii_scrub oracle from these same literals (one source of
    * truth, like langProfiles). Both are RE2-compatible (no lookaround /
    * backreferences), so Java regex (Spark) and RE2 (DuckDB) agree on
    * them. Email mirrors [[graft.detectors.PatternDetectors.emails]]
    * (reference email_detection.py:120-155 dot-atom) with an inline (?i)
    * instead of pre-lowercasing, so the ORIGINAL text is scrubbed in
    * place; phone mirrors PatternDetectors.phones with capture groups
    * dropped (scrubbing needs only the whole match — the regex itself
    * already enforces the >= 8-digit national number).
    */
  val emailRegex: String =
    "(?i)" +
      raw"[a-z0-9!#$$%&'*+/=?^_`{|}~-]+(?:\.[a-z0-9!#$$%&'*+/=?^_`{|}~-]+)*" +
      raw"@(?:[a-z0-9](?:[a-z0-9-]*[a-z0-9])?\.)+[a-z0-9](?:[a-z0-9-]*[a-z0-9])?"
  val phoneRegex: String =
    raw"(?:\+|00)\d{1,3}[\s-]?(?:\d[\s-]?){8,12}\d|\b(?:\d[\s-]?){7,12}\d\b"

  /** PII redaction — the scrub pass every shareable training corpus runs:
    * emails → `<EMAIL>`, then phone numbers → `<PHONE>` on the
    * email-scrubbed text (order matters: digits inside an email's local
    * part must not be double-counted as a phone), plus per-document match
    * counts. Pure regexp expressions (whole-stage codegen, zero shuffles,
    * zero UDFs); at 100 TB this is a map-only pass over the corpus.
    */
  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val emailScrubbed = regexp_replace(col(textCol), emailRegex, "<EMAIL>")
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRegex), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(emailScrubbed, lit(phoneRegex), lit(0))))
      .withColumn("text_scrubbed",
        regexp_replace(emailScrubbed, phoneRegex, "<PHONE>"))
  }

  /** URL regexes — exposed (not private): SparkEntry generates the DuckDB
    * q_url_filter oracle from these same literals (see [[emailRegex]] for
    * the RE2-compatibility argument). [[urlDomainRegex]] is [[urlRegex]]
    * truncated after the host with the host captured as group 1, so both
    * engines extract byte-identical substrings; the host class must end
    * on an alphanumeric, which keeps sentence-trailing dots out of it.
    */
  val urlRegex: String =
    "(?i)" +
      raw"https?://[a-z0-9](?:[a-z0-9.-]*[a-z0-9])?(?::\d{1,5})?(?:/[^\s]*)?"
  val urlDomainRegex: String =
    "(?i)" + raw"https?://([a-z0-9](?:[a-z0-9.-]*[a-z0-9])?)"

  /** URL redaction + host extraction: urls → `<URL>`, plus a per-document
    * count and the (lowercased, in-order) list of linked hosts — the
    * columns a blocklist audit or link-graph build reads. Pure regexp
    * expressions, map-only at any scale (see [[piiScrub]]).
    */
  def urlScrub(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_urls",
        size(regexp_extract_all(col(textCol), lit(urlRegex), lit(0))))
      .withColumn("domains",
        transform(regexp_extract_all(col(textCol), lit(urlDomainRegex),
          lit(1)), d => lower(d)))
      .withColumn("text_scrubbed",
        regexp_replace(col(textCol), urlRegex, "<URL>"))

  /** Domain-blocklist document filter — the C4/RefinedWeb gate: drop every
    * document that links to a blocked host (exact case-insensitive host
    * match; subdomain wildcards are the caller's expansion). The blocklist
    * rides inside the expression as a literal array, so the corpus never
    * shuffles — a map-only pass at 100 TB. Real-world lists (~1e5 hosts)
    * still fit a literal/broadcast; beyond that, explode `domains` from
    * [[urlScrub]] and broadcast-anti-join instead.
    */
  def domainBlocklistFilter(df: DataFrame, textCol: String,
      blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "domainBlocklistFilter: empty blocklist")
    val hosts = transform(regexp_extract_all(col(textCol),
      lit(urlDomainRegex), lit(1)), d => lower(d))
    val bl = array(blocked.map(b =>
      lit(b.toLowerCase(java.util.Locale.ROOT))): _*)
    df.filter(!arrays_overlap(hosts, bl))
  }

  /** Corpus unigram language model with integer-scaled surprisals — the
    * deterministic stand-in for the LM-perplexity quality filter every
    * large pipeline runs (CCNet, Wenzek et al. 2020, scores documents by
    * KenLM perplexity; FineWeb and Dolma keep the same shape). Output one
    * row per distinct whitespace token: `(token, n_occ, nll_micro)` where
    * nll_micro = round(-1e6 * ln(n_occ / total_tokens)) — a BIGINT, so
    * document scores built from it aggregate exactly in any engine (the
    * one ln() per vocab entry happens HERE, once; doc scoring is pure
    * integer math — the no-raw-float-aggregation rule).
    *
    * 100-TB shape: one (token, 1) shuffle with map-side combine — the
    * word-count plan — then a broadcast of the 1-row total. The lexicon
    * (vocab-sized, zipf-bounded) is the only materialized state.
    */
  def unigramLm(df: DataFrame, textCol: String): DataFrame = {
    val counts = df
      .select(explode(filter(split(col(textCol), "\\s+"),
        x => x =!= "")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
    val total = counts.agg(sum("n_occ").as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("token"), col("n_occ"),
        round(log(col("n_occ").cast(DoubleType) / col("total"))
          * lit(-1e6), 0).cast(LongType).as("nll_micro"))
  }

  /** Per-document unigram negative log-likelihood against a [[unigramLm]]
    * lexicon: `(doc_id, n_tokens, sum_nll_micro)` — the caller divides for
    * the per-token mean (perplexity rank) and thresholds; both columns
    * integral so the score replays exactly cross-engine. Unknown tokens
    * cost `oovNllMicro` (suggested: round(1e6 * ln(total_tokens)), i.e.
    * probability 1/total). Documents with no tokens score (0, 0).
    *
    * 100-TB shape: tokens join the lexicon by token — broadcast when the
    * vocab fits (typical), else a shuffle join where stopword skew is
    * AQE's skew-join case — then one (id, long) aggregation; the document
    * text itself never shuffles.
    */
  def unigramDocScore(df: DataFrame, textCol: String, idCol: String,
      lm: DataFrame, oovNllMicro: Long): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(filter(split(col(textCol), "\\s+"), x => x =!= "")).as("token"))
    val scored = toks
      .join(lm.select(col("token"), col("nll_micro")), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("nll_micro"), lit(oovNllMicro))).as("sum_nll_micro"))
    df.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_nll_micro"), lit(0L)).as("sum_nll_micro"))
  }

  /** Within-document repetition statistics — the Gopher repetition-filter
    * family (Rae et al. 2021, "Scaling Language Models: Methods, Analysis
    * & Insights from Training Gopher", App. A1.1; also the C4 three-
    * sentence-span rule): per document, the multiplicity of its most
    * frequent `topN`-gram and the number of token positions covered by any
    * `dupN`-gram occurring more than once in the SAME document. A high
    * top-gram count or repeated-span coverage marks boilerplate/looping
    * text. All outputs integral (cross-engine-exact); callers derive the
    * fractions. Single-pass UDF per row, zero shuffles — the within-doc
    * twin of the cross-doc [[Dedup.duplicateSpanCoverage]].
    */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String,
      topN: Int = 2, dupN: Int = 5): DataFrame = {
    require(topN >= 1 && dupN >= 1, s"gram sizes must be >= 1: $topN, $dupN")
    val (tN, dN) = (topN, dupN)
    val u = udf((text: String) => repetitionOf(text, tN, dN))
    df.select(col(idCol).as("doc_id"), u(col(textCol)).as("r"))
      .select(col("doc_id"), col("r._1").as("n_tokens"),
        col("r._2").as("top_gram_count"), col("r._3").as("n_rep_tokens"))
  }

  /** JVM kernel of [[repetitionStats]] (one tokenization, two gram passes;
    * compiled UDF beats a ~100-node HOF expression tree — the langId
    * lesson). Returns (n_tokens, top `topN`-gram multiplicity, positions
    * covered by within-doc duplicated `dupN`-grams).
    */
  private[ops] def repetitionOf(text: String, topN: Int,
      dupN: Int): (Int, Int, Int) = {
    val toks =
      if (text == null) Array.empty[String]
      else text.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    def gramCounts(l: Int): scala.collection.mutable.HashMap[String, Int] = {
      val m = scala.collection.mutable.HashMap.empty[String, Int]
      var i = 0
      while (i + l <= n) {
        val g = toks.slice(i, i + l).mkString(" ")
        m.update(g, m.getOrElse(g, 0) + 1)
        i += 1
      }
      m
    }
    val top = if (n < topN) 0 else gramCounts(topN).valuesIterator.max
    val cov = if (n < dupN) 0 else {
      val m = gramCounts(dupN)
      val covered = new Array[Boolean](n)
      var i = 0
      while (i + dupN <= n) {
        if (m(toks.slice(i, i + dupN).mkString(" ")) >= 2) {
          var j = i
          while (j < i + dupN) { covered(j) = true; j += 1 }
        }
        i += 1
      }
      covered.count(identity)
    }
    (n, top, cov)
  }

  /** BPE-ish subword token count estimate: whitespace tokens plus an extra
    * count for each internal case/digit/punct boundary — the cheap proxy for
    * tokenizer-cost accounting in data pipelines (no model download).
    */
  def subwordCount(df: DataFrame, textCol: String): DataFrame = {
    val pieces = split(col(textCol),
      "(?=[A-Z])|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])|[^A-Za-z0-9]+")
    df.withColumn("n_subwords",
      size(filter(pieces, p => length(p) > 0)))
  }
}
