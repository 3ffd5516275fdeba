package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** One-call corpus curation: the standard LLM training-data preparation
  * pipeline the individual ops implement, composed in the canonical order
  * with each stage's 100-TB shape preserved:
  *
  *   1. exact dedup — [[Dedup.exactCanonicalIds]] + left-semi join back
  *      (the exchange carries hash+id pairs only, never text);
  *   2. near-dup removal — [[Dedup.nearDupSurvivors]] (MinHash-LSH pairs →
  *      connected components → anti-join losers; the corpus itself never
  *      self-shuffles); optionally followed by SemDeDup over a
  *      pre-clustered embedding table ([[Semantic]]);
  *   3. quality gate — [[TextAnalysis.qualityScore]], expression-only;
  *   4. language gate — [[TextAnalysis.langId]], per-row UDF, no shuffle;
  *   5. train/val/test split — [[Sampling.split]], deterministic hash
  *      cut: no RNG, no shuffle, reproducible at any parallelism.
  *
  * Returns surviving rows with (content-preserving) added columns
  * `quality`, `lang_pred`, `split`. Every stage is individually
  * oracle-checked by its own contract query (q_dedup_exact,
  * q_minhash_pairs, q_dedup_clusters, q_quality_class, q_langid,
  * q_split); this composition is spec-pinned against running the stages
  * by hand.
  */
object Curation {

  /** Knobs for [[curate]]; defaults mirror the individual ops' defaults.
    * `exactRecall = true` swaps the near-dup pair source from MinHash-LSH
    * (fixed-size signatures, probabilistic recall) to the PPJoin-family
    * exact n-gram Jaccard join (recall 1.0 by the prefix-filter theorem) —
    * the same downstream components/anti-join tail either way; numHashes/
    * bands/maxBucketSize are LSH-only knobs and are ignored in exact mode.
    *
    * `maxTopGramPct` / `maxRepSpanPct` enable the Gopher repetition gate
    * (Rae et al. 2021 App. A1.1) over [[TextAnalysis.repetitionStats]]:
    * reject a document whose most frequent `repTopN`-gram exceeds
    * maxTopGramPct% of its gram count, or whose within-doc duplicated
    * `repDupN`-gram spans cover more than maxRepSpanPct% of its tokens.
    * Percent thresholds are INTEGERS and the comparison is integer-only
    * (count*100 <= pct*denominator) so the gate replays bit-exactly in any
    * engine — no cross-engine float comparison.
    *
    * `lmMaxMeanNllMicro` enables the unigram-LM quality gate (the CCNet
    * perplexity stage, [[TextAnalysis.unigramLm]]): reject a document
    * whose mean token surprisal exceeds the cap (micro-nats/token),
    * compared as `sum_nll_micro <= cap * n_tokens` — BIGINT-only, so it
    * too replays exactly. The lexicon trains on the original input.
    */
  final case class Config(
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Int = 64,
      minQuality: Double = 0.5,
      keepLangs: Seq[String] = Seq("en"),
      splitSeed: String = "graft",
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
      exactRecall: Boolean = false,
      repTopN: Int = 2,
      repDupN: Int = 5,
      maxTopGramPct: Option[Int] = None,
      maxRepSpanPct: Option[Int] = None,
      lmMaxMeanNllMicro: Option[Long] = None,
      lmOovNllMicro: Long = 20000000L,
      decontamWindowTokens: Int = 8)

  /** Optional semantic-dedup stage input for [[curate]] (SemDeDup — the
    * embedding-space dedup after the text-space one): `clustered` is the
    * pre-clustered embedding table ([[Similarity.withIvfCluster]] output,
    * i.e. the SAME materialized table IVF ANN probes). Its `idCol` must
    * be the corpus id space (a doc without an embedding row passes the
    * stage untouched — embeddings computed for a subset is the normal
    * deployment). Pairs are found only among rows that survived the
    * upstream dedups, so the stage composes cleanly and its replay can
    * reference the upstream survivor set.
    */
  final case class Semantic(
      clustered: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      clusterCol: String = "ivf_cluster",
      minCosine: Double = 0.9,
      maxClusterSize: Int = 1024)

  /** The one-call pipeline. `semantic` enables the SemDeDup stage (see
    * [[Semantic]]); `benchmark` enables eval-set decontamination as
    * STAGE 0 ([[Dedup.decontaminate]] — Brown et al. 2020 App. C): drop
    * input docs sharing a `decontamWindowTokens`-token window with the
    * benchmark table before anything else runs. Contamination is a
    * per-document fact against a static benchmark, so running it first
    * is both the cheapest placement (nothing downstream sees dropped
    * docs) and order-independent. The unigram-LM lexicon still trains
    * on the FULL original `df` (stable w.r.t. every gate).
    */
  def curate(df: DataFrame, textCol: String, idCol: String,
      cfg: Config = Config(),
      semantic: Option[Semantic] = None,
      benchmark: Option[DataFrame] = None): DataFrame = {
    // Decide with small rows, attach once (guide §8): each stage's id-set
    // decision materializes ONCE (tiny — contaminated ids, canonical ids),
    // so the many downstream plan branches that re-derive the gated corpus
    // (signature scan, verify scan, anti-join tail, gates) re-run only a
    // parquet scan + broadcast id joins — never the window-UDF / md5
    // aggregations that made the decision (round 5 left these lazy and the
    // decontamination scan alone re-executed once per branch).
    val input = benchmark match {
      case None => df
      case Some(b) =>
        val bad = Dedup.contaminationCounts(df, b, textCol, idCol,
            cfg.decontamWindowTokens)
          .select(col("doc_id").as(idCol))
          .localCheckpoint(true)
        df.join(bad, Seq(idCol), "left_anti")
    }
    val canon = Dedup.exactCanonicalIds(input, textCol, idCol)
      .select(col("canonical_id").as(idCol))
      .localCheckpoint(true)
    val exactKept = input.join(canon, Seq(idCol), "left_semi")
    val textSurvivors =
      if (cfg.exactRecall)
        Dedup.survivorsFromPairs(exactKept, idCol,
          Dedup.ngramJaccardPairs(exactKept, textCol, idCol,
            cfg.shingleSize, cfg.minJaccard))
      else Dedup.nearDupSurvivors(exactKept, textCol, idCol,
        cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.minJaccard, cfg.seed,
        cfg.maxBucketSize)
    val survivors = semantic match {
      case None => textSurvivors
      case Some(sem) =>
        // SemDeDup among upstream survivors that have an embedding: the
        // candidate restriction keeps the stage composable (a doc removed
        // by text dedup can no longer anchor a semantic cluster) and the
        // semi-join side is (id) only — the clustered table never moves
        // more than its matching rows
        val candidates = sem.clustered.join(
          textSurvivors.select(col(idCol).as(sem.idCol)),
          Seq(sem.idCol), "left_semi")
        Dedup.survivorsFromPairs(textSurvivors, idCol,
          Dedup.semanticNearDupPairs(candidates, sem.vecCol, sem.idCol,
            sem.clusterCol, sem.minCosine, sem.maxClusterSize))
    }
    val gated = TextAnalysis.langId(
        TextAnalysis.qualityScore(survivors, textCol), textCol)
      .filter(col("quality") >= cfg.minQuality &&
        col("lang_pred").isin(cfg.keepLangs: _*))
    val repGated =
      if (cfg.maxTopGramPct.isEmpty && cfg.maxRepSpanPct.isEmpty) gated
      else {
        val (tN, dN) = (cfg.repTopN, cfg.repDupN)
        val u = udf((text: String) => TextAnalysis.repetitionOf(text, tN, dN))
        val nt = col("_rep._1").cast(LongType)
        val topOk = cfg.maxTopGramPct.map(p =>
          col("_rep._2").cast(LongType) * 100 <=
            lit(p.toLong) * greatest(lit(1L), nt - (cfg.repTopN - 1)))
          .getOrElse(lit(true))
        val repOk = cfg.maxRepSpanPct.map(p =>
          col("_rep._3").cast(LongType) * 100 <= lit(p.toLong) * nt)
          .getOrElse(lit(true))
        gated.withColumn("_rep", u(col(textCol)))
          .filter(topOk && repOk).drop("_rep")
      }
    val lmGated = cfg.lmMaxMeanNllMicro match {
      case None => repGated
      case Some(cap) =>
        // unigram-LM quality gate (the CCNet-perplexity stage): lexicon
        // trained on the ORIGINAL input corpus (stable w.r.t. upstream
        // gates — the oracle replays it from the full-corpus sidecar);
        // mean-surprisal cap as a pure BIGINT comparison, exact in any
        // engine. Scoring the full input and semi-joining keeps the
        // already-gated rows as the only text in flight.
        val lm = TextAnalysis.unigramLm(df, textCol)
        val ok = TextAnalysis
          .unigramDocScore(df, textCol, idCol, lm, cfg.lmOovNllMicro)
          .filter(col("sum_nll_micro") <= lit(cap) * col("n_tokens"))
          .select(col("doc_id").as(idCol))
        repGated.join(ok, Seq(idCol), "left_semi")
    }
    Sampling.split(lmGated, col(idCol), cfg.splitSeed, cfg.fractions)
  }
}
