package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.functions.CrossHash

/** Deterministic, RNG-free sampling and dataset splitting for training-data
  * pipelines: a row's fate is a pure function of (seed, key) — keep iff
  * md5-lower-64("seed|key") falls below floor(fraction * 2^64), compared
  * unsigned. Properties that matter at 100 TB:
  *
  *  - reproducible at ANY parallelism and across runs (no RNG state, no
  *    zipWithIndex, no shuffle — one codegen-friendly per-row predicate);
  *  - consistent across tables: the same key lands in the same split
  *    everywhere, so features/labels/embeddings keyed alike never leak
  *    across train/validation;
  *  - engine-portable: md5-lower-64 == DuckDB's md5_number_lower, so the
  *    driver oracle replays the exact sample (same family as Dedup's
  *    cross-engine hashing);
  *  - different seeds give independent samples of the same table.
  */
object Sampling {

  /** floor(cumulative * 2^64) as an unsigned 64-bit integer (exact: the
    * double is widened via BigDecimal, never rounded through a Long).
    * Shared with the SQL-oracle generator — one source of truth.
    */
  def cutUnsigned(cumulative: Double): java.math.BigInteger = {
    require(cumulative >= 0.0 && cumulative <= 1.0, "fraction in [0,1]")
    new java.math.BigDecimal(cumulative)
      .multiply(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64)))
      .toBigInteger
  }

  /** The row hash: md5-lower-64 of "seed|key" (same digest slice as
    * DuckDB's md5_number_lower), as the signed Long carrying the unsigned
    * bit pattern.
    */
  def rowHash(keyCol: Column, seed: String): Column = {
    val seedL = seed
    val u = udf((k: String) =>
      CrossHash.md5Lower64(seedL + "|" + (if (k == null) "" else k)))
    u(keyCol.cast(StringType))
  }

  /** Keep ~`fraction` of rows, deterministically by key. */
  def sample(df: DataFrame, keyCol: Column, seed: String,
      fraction: Double): DataFrame = {
    if (fraction >= 1.0) return df
    val cut = cutUnsigned(fraction).longValue() // unsigned bit pattern
    val keep = udf((h: Long) => java.lang.Long.compareUnsigned(h, cut) < 0)
    df.filter(keep(rowHash(keyCol, seed)))
  }

  /** Exact-partition dataset split: every row gets the label of the first
    * cumulative-fraction cut its hash falls under (fractions must sum to
    * 1.0; the last bucket is the catch-all, so the split is a PARTITION —
    * nothing dropped, nothing duplicated). E.g.
    * `split(df, col("doc_id"), "graft", Seq("train"->0.8, "val"->0.1,
    * "test"->0.1))`.
    */
  def split(df: DataFrame, keyCol: Column, seed: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1.0")
    val cuts = fractions.init
      .scanLeft(("", 0.0)) { case ((_, acc), (name, f)) => (name, acc + f) }
      .tail // (name, cumulative) for all but the catch-all bucket
      .map { case (name, cum) => (name, cutUnsigned(cum).longValue()) }
    val lastName = fractions.last._1
    val labelU = udf { (h: Long) =>
      cuts.find { case (_, cut) => java.lang.Long.compareUnsigned(h, cut) < 0 }
        .map(_._1).getOrElse(lastName)
    }
    df.withColumn("split", labelU(rowHash(keyCol, seed)))
  }

  /** The per-domain keep fractions for a target mixture (the math behind
    * [[domainMix]], exposed so callers — and the contract query's oracle
    * sidecar — can see the exact fractions applied): `weights` are target
    * mixture proportions (normalized internally); the achievable output
    * size is the largest T such that every weighted domain can supply its
    * share from the rows it has, `T = min_d n_d / w_d`, giving
    * `f_d = min(1, w_d * T / n_d)` — the binding domain keeps everything,
    * every other domain deterministically downsamples to match the target
    * proportions in expectation. Domains absent from `weights` get 0.0
    * (dropped: the mixture spec IS the domain list). One tiny
    * per-domain count aggregation (map-side partial, #domains rows
    * collected) is the only job.
    */
  def domainMixFractions(df: DataFrame, domainCol: Column,
      weights: Map[String, Double]): Map[String, Double] =
    domainMixFractionsBy(df, domainCol, weights, count(lit(1)))

  /** [[domainMixFractions]] with an arbitrary per-domain size aggregate —
    * pass `sum(sizeCol)` to target TOKEN proportions instead of row
    * proportions (production mixtures are usually token-weighted: a
    * domain of long documents is "bigger" than its row count says).
    * Sampling still keeps/drops whole rows, so the realized token share
    * matches the target in expectation under row-size independence.
    * Use an INTEGRAL size column: a long sum is order-independent (and
    * exact in the double widening below 2^53), so the derived fractions
    * are deterministic at any parallelism; a double sum would not be.
    */
  def domainMixFractionsBy(df: DataFrame, domainCol: Column,
      weights: Map[String, Double], sizeAgg: Column): Map[String, Double] = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0) &&
      weights.values.exists(_ > 0.0),
      "weights must be non-negative with at least one positive entry")
    val wsum = weights.values.sum
    val norm = weights.map { case (d, w) => d -> w / wsum }
    val counts = df.groupBy(domainCol.cast(StringType).as("_dom"))
      .agg(sizeAgg.cast(DoubleType).as("n")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val present = norm.filter { case (d, w) =>
      w > 0.0 && counts.getOrElse(d, 0.0) > 0.0 }
    require(present.nonEmpty, "no positively-weighted domain present in the data")
    val t = present.map { case (d, w) => counts(d) / w }.min
    norm.map { case (d, w) =>
      val n = counts.getOrElse(d, 0.0)
      d -> (if (n == 0.0 || w == 0.0) 0.0 else math.min(1.0, w * t / n))
    }
  }

  /** Deterministic domain-mixture downsampling — the Pile/DoReMi-style
    * "hit target domain proportions" pass an LLM pre-training pipeline
    * runs before packing: compute [[domainMixFractions]] for the target
    * `weights`, then keep each row iff its (seed, key) hash clears the
    * domain's cut (the same RNG-free predicate as [[sample]] — map-only,
    * reproducible at any parallelism, engine-replayable via
    * md5_number_lower). Rows in domains outside `weights` are dropped.
    */
  def domainMix(df: DataFrame, keyCol: Column, domainCol: Column,
      seed: String, weights: Map[String, Double]): DataFrame =
    stratifiedSample(df, keyCol, domainCol, seed,
      domainMixFractions(df, domainCol, weights), defaultFraction = 0.0)

  /** Deterministic global shuffle order — the training-order pass after
    * packing: every row gets `shuffle_pos`, its EXACT 0-based rank in
    * (row-hash, key) order. A different `seed` is a fresh, independent
    * permutation of the same corpus (per-epoch reshuffling without RNG
    * state); the output is a pure function of (seed, key set) —
    * invariant to parallelism and input partitioning, and replayable in
    * any engine as `ROW_NUMBER() OVER (ORDER BY hash, key) - 1`.
    *
    * 100-TB shape (the [[graft.ops.Packing]] prefix-sum discipline): NEVER
    * a single-partition global window. Rows bucket by the TOP BITS of the
    * sign-flipped hash (arithmetic shift — a pure function of the hash,
    * monotone in unsigned hash order, so bucket boundaries can never
    * disagree with the within-bucket sort), per-bucket counts are
    * collected (<= numRanges rows — tiny) and folded into offsets
    * broadcast back as a literal map, and the within-bucket rank is a
    * window partitioned by bucket. The hash is uniform by construction,
    * so buckets are balanced regardless of key skew. Only the projected
    * row moves; `numRanges` rounds up to a power of two.
    *
    * Keys must be unique (they are the identity of the row in the
    * permutation): equal keys get equal hashes and the (hash, key)
    * tie-break cannot order them.
    *
    * Composes with [[graft.ops.Packing.packSequences]] for
    * shuffle-then-pack (the standard trainer layout): `shuffle_pos` is a
    * DENSE integral id, so packing with it as the id column concatenates
    * the corpus in shuffled order (spec-pinned in OpsSpec).
    */
  def shuffleRank(df: DataFrame, keyCol: Column, seed: String,
      numRanges: Int = 64): DataFrame = {
    require(numRanges > 0, "numRanges must be positive")
    // ceil(log2(numRanges)) top bits address the bucket; numRanges == 1
    // means bits == 0 -> a single bucket (shift-by-64 is a Java no-op, so
    // the bits == 0 case is special-cased to a constant)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, numRanges.toLong - 1L))
    // sign-flip makes SIGNED order == unsigned order of the raw hash
    val bucketed = df
      .withColumn("_hs", rowHash(keyCol, seed).bitwiseXOR(lit(Long.MinValue)))
      .withColumn("_bkt",
        if (bits == 0) lit(0L) else shiftright(col("_hs"), 64 - bits))
    val counts = bucketed.groupBy("_bkt").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    if (counts.isEmpty) // empty input: schema only
      return df.withColumn("shuffle_pos", lit(0L)).limit(0)
    val offsets = counts.scanLeft((0L, 0L)) {
      case ((_, acc), (b, n)) => (b, acc + n)
    }.sliding(2).map { case Array((_, off), (b, _)) => (b, off) }.toMap
    val w = Window.partitionBy("_bkt").orderBy(col("_hs"), keyCol)
    bucketed
      .withColumn("shuffle_pos",
        element_at(typedLit(offsets), col("_bkt"))
          + row_number().over(w).cast(LongType) - 1L)
      .drop("_hs", "_bkt")
  }

  /** EXACT-count per-domain selection: keep exactly min(quota_d, n_d)
    * rows of each quota'd domain — the deterministic-exact complement of
    * [[domainMix]]'s expected-proportion sampling ("10k docs per
    * language" budgets, epoch manifests, eval subsets). Selection order
    * is (row-hash, key) within the domain, so the result is a pure
    * function of (seed, key set) — reproducible at any parallelism — and
    * has the PREFIX property: the quota-q selection is a subset of any
    * larger quota's (growing a budget only adds rows). Domains without a
    * quota are dropped.
    *
    * Shape: the [[shuffleRank]] two-level scan generalized per domain —
    * rows bucket by the top bits of the sign-flipped hash, per-(domain,
    * bucket) counts collect (#domains × numRanges rows — tiny),
    * per-domain offsets broadcast as a literal map, and the within-bucket
    * rank is a window partitioned by (domain, bucket): no per-domain
    * single partition even when one domain dominates the corpus.
    */
  def takePerDomain(df: DataFrame, keyCol: Column, domainCol: Column,
      seed: String, quotas: Map[String, Long],
      numRanges: Int = 64): DataFrame = {
    require(quotas.nonEmpty && quotas.values.forall(_ >= 0L),
      "quotas must be non-negative")
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, numRanges.toLong - 1L))
    val base = df
      .withColumn("_dom", domainCol.cast(StringType))
      .filter(col("_dom").isin(quotas.keys.toSeq: _*))
      .withColumn("_hs", rowHash(keyCol, seed).bitwiseXOR(lit(Long.MinValue)))
      .withColumn("_bkt",
        if (bits == 0) lit(0L) else shiftright(col("_hs"), 64 - bits))
    val counts = base.groupBy("_dom", "_bkt").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    if (counts.isEmpty)
      return base.drop("_dom", "_hs", "_bkt").limit(0)
    val offsets: Map[String, Long] = counts.groupBy(_._1).flatMap {
      case (dom, rows) =>
        val sorted = rows.sortBy(_._2)
        sorted.map(_._2).zip(
          sorted.map(_._3).scanLeft(0L)(_ + _).init)
          .map { case (bkt, off) => s"$dom|$bkt" -> off }
    }
    val offCol = element_at(typedLit(offsets),
      concat_ws("|", col("_dom"), col("_bkt")))
    val w = Window.partitionBy("_dom", "_bkt").orderBy(col("_hs"), keyCol)
    base
      .withColumn("_pos", offCol + row_number().over(w).cast(LongType) - 1L)
      .filter(col("_pos") < element_at(typedLit(quotas), col("_dom")))
      .drop("_dom", "_hs", "_bkt", "_pos")
  }

  /** Per-stratum fractions (e.g. downsample dominant languages): rows in a
    * stratum missing from `fractions` keep `defaultFraction`.
    */
  def stratifiedSample(df: DataFrame, keyCol: Column, stratumCol: Column,
      seed: String, fractions: Map[String, Double],
      defaultFraction: Double = 1.0): DataFrame = {
    val cuts = fractions.map { case (k, f) => k -> cutUnsigned(f).longValue() }
    val defCut = cutUnsigned(defaultFraction).longValue()
    val defIsAll = defaultFraction >= 1.0
    val allOnes = fractions.values.forall(_ >= 1.0) && defIsAll
    if (allOnes) return df
    val keepU = udf { (h: Long, stratum: String) =>
      val f = fractions.getOrElse(stratum, defaultFraction)
      if (f >= 1.0) true
      else java.lang.Long.compareUnsigned(h,
        cuts.getOrElse(stratum, defCut)) < 0
    }
    df.filter(keepU(rowHash(keyCol, seed), stratumCol.cast(StringType)))
  }
}
