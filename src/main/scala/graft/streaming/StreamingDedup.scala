package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Dedup, Similarity}

/** Streaming dedup for document ingestion: one exact-dedup gate and seven
  * micro-batch families (five near-dup sweeps, two stateless gates) that
  * share one driver.
  *
  * [[firstSeen]] is the exact-dedup gate: emit only the FIRST occurrence of
  * each content hash, with state BOUNDED by the event-time watermark
  * (`dropDuplicatesWithinWatermark` — hashes older than the watermark are
  * evicted from the state store). Contract at 100 TB: this is the
  * bounded-state streaming GATE, not an exact global dedup — a duplicate
  * arriving more than `lateness` after its original passes through (its
  * hash has been evicted). Exactness is restored downstream by the batch
  * sweep (`ops.Dedup.exact` / `exactCanonicalIds` over the landed corpus) —
  * the standard streaming-gate + batch-sweep layout; the gate's job is to
  * stop the (overwhelmingly common) near-in-time duplicates from ever
  * landing. Works identically on a batch DataFrame (unified semantics —
  * then it IS exact); the spec drives both and pins agreement.
  *
  * The micro-batch families are plain functions of one batch and its
  * batchId — [[sweepBatch]] (MinHash), [[simHashSweepBatch]],
  * [[embeddingSweepBatch]], [[semanticSweepBatch]],
  * [[duplicateSubstringSweepBatch]], [[decontaminationGateBatch]],
  * [[unigramQualityGateBatch]] — and [[sweep]] runs any of them
  * continuously under Structured Streaming:
  * {{{
  *   StreamingDedup.sweep(docs, checkpointDir)(
  *     StreamingDedup.simHashSweepBatch(_, _, "text", "doc_id", stateDir,
  *       maxHamming = 3, maxBucketSize = 64))
  * }}}
  * A sweep runs its family's incremental op against the store of
  * everything previously landed, then appends the batch to the store. The
  * four pair sweeps share one body, and their ops share `Dedup`'s
  * blocked-pair kernel, whose telescoping contract (spec-pinned at the ops
  * layer) makes the per-batch pair outputs disjoint and together equal to
  * one full run over the whole landed corpus, each pair emitted by the
  * batch that completed it. At 100 TB each sweep costs O(batch) hashing
  * plus a join against the store — never a full-corpus re-pair.
  *
  * State layout, shared by every family: parquet tables under one directory
  * (`stateDir` for the sweeps, `outDir` for the gates), each partitioned by
  * `_batch` (the foreachBatch batchId). Replay contract: a replayed batchId
  * dynamically OVERWRITES only its own `_batch` partition, and the state
  * reads exclude the current batchId — so a batch re-run after a mid-write
  * crash neither double-lands rows nor sweeps against its own half-landed
  * remains. Every batch function is idempotent per batchId, and may also be
  * called directly by a caller driving its own batch loop.
  */
object StreamingDedup {

  /** Adds `content_hash` and keeps first-seen rows per hash within the
    * watermark horizon. `tsCol` is the event-time column the watermark
    * tracks. On a BATCH frame (dropDuplicatesWithinWatermark is
    * streaming-only) this degrades to exact one-per-hash dedup — one
    * representative row per content hash; pipelines that need the
    * canonical-min-id contract use ops.Dedup.exact for the sweep.
    */
  def firstSeen(docs: DataFrame, textCol: String, tsCol: String,
      lateness: String = "2 hours"): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col(textCol)))
    if (docs.isStreaming)
      hashed.withWatermark(tsCol, lateness)
        .dropDuplicatesWithinWatermark("content_hash")
    else hashed.dropDuplicates("content_hash")
  }

  /** Runs `batch` on every micro-batch of the streaming `docs`, with
    * progress checkpointed under `checkpointDir`; `batch` is one of the
    * family functions below with its own arguments bound.
    */
  def sweep(docs: DataFrame, checkpointDir: String)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(batch)
      .start()

  /** MinHash near-dup sweep via [[graft.ops.Dedup.minHashLshIncremental]].
    * State under `stateDir`: `bands` (the LSH band-row store), `corpus`
    * (id, text — the verify side) and `pairs` (the output).
    */
  def sweepBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, stateDir: String, shingleSize: Int, numHashes: Int,
      bands: Int, minJaccard: Double, seed: Long,
      maxBucketSize: Int): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    pairSweep(b, batchId, stateDir,
      "bands" -> ((d: DataFrame) => Dedup.minHashBandRows(d, textCol, idCol,
        shingleSize, numHashes, bands, seed)),
      "corpus" -> ((d: DataFrame) => d)) { case Seq(store, corpus) =>
      Dedup.minHashLshIncremental(b, corpus, store, textCol, idCol,
        shingleSize, numHashes, bands, minJaccard, seed, maxBucketSize)
    }
  }

  /** SimHash near-dup sweep via [[graft.ops.Dedup.simHashIncremental]]: the
    * persisted state is just the (id, simhash) table — one long per doc,
    * the cheapest of the stores — plus the `pairs` output.
    */
  def simHashSweepBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, stateDir: String, maxHamming: Int,
      maxBucketSize: Int): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    pairSweep(b, batchId, stateDir, "simhash" -> ((d: DataFrame) =>
        Dedup.simHash(d, textCol, idCol).select(col(idCol), col("simhash")))) {
      case Seq(store) => Dedup.simHashIncremental(b, store, textCol, idCol,
        maxHamming, maxBucketSize)
    }
  }

  /** Embedding near-dup sweep via
    * [[graft.ops.Dedup.embeddingNearDupIncremental]]: the persisted state is
    * the (id, srp_bucket, vec) table [[graft.ops.Similarity.withSrpBucket]]
    * produces — the SAME table `lshKnn` serves ANN from, maintained here
    * incrementally as batches stream in. The matching full run is
    * `embeddingNearDupPairs(probeHamming = 1)`.
    */
  def embeddingSweepBatch(batch: DataFrame, batchId: Long, vecCol: String,
      idCol: String, stateDir: String, dim: Int, nBits: Int, seed: Long,
      minCosine: Double, maxBucketSize: Int): Unit = {
    val b = batch.select(col(idCol), col(vecCol))
    pairSweep(b, batchId, stateDir, "buckets" -> ((d: DataFrame) =>
        Similarity.withSrpBucket(d, vecCol, dim, nBits, seed)
          .select(col(idCol), col("srp_bucket"), col(vecCol)))) {
      case Seq(store) => Dedup.embeddingNearDupIncremental(b, store, vecCol,
        idCol, dim, nBits, seed, minCosine, maxBucketSize)
    }
  }

  /** SemDeDup sweep via [[graft.ops.Dedup.semanticNearDupIncremental]]: the
    * persisted state is the (id, cluster, vec) table
    * [[graft.ops.Similarity.withIvfCluster]] produces — the same table IVF
    * ANN serves probes from — maintained incrementally as batches stream
    * in. The coarse quantizer is FROZEN (`model` is trained offline, the
    * SemDeDup deployment shape — same trust model as
    * [[unigramQualityGateBatch]]'s frozen lexicon), so stored assignments
    * never go stale.
    */
  def semanticSweepBatch(batch: DataFrame, batchId: Long, vecCol: String,
      idCol: String, stateDir: String, model: Similarity.IvfModel,
      minCosine: Double, maxClusterSize: Int): Unit = {
    val b = batch.select(col(idCol), col(vecCol))
    pairSweep(b, batchId, stateDir, "clusters" -> ((d: DataFrame) =>
        Similarity.withIvfCluster(d, vecCol, model)
          .select(col(idCol), col("ivf_cluster"), col(vecCol)))) {
      case Seq(store) => Dedup.semanticNearDupIncremental(b, store, vecCol,
        idCol, model, minCosine = minCosine, maxClusterSize = maxClusterSize)
    }
  }

  /** The body of the four pair sweeps: `stores` name the state tables under
    * `stateDir` and how a batch's rows become theirs. `pairs` runs on the
    * tables as landed before this batch (`rows(b.limit(0))` gives the
    * schema until one lands) and is written as this batch's `pairs`
    * partition FIRST — it reads the pre-batch state — then each store
    * appends `rows(b)`.
    */
  private def pairSweep(b: DataFrame, batchId: Long, stateDir: String,
      stores: (String, DataFrame => DataFrame)*)(
      pairs: Seq[DataFrame] => DataFrame): Unit = {
    val before = stores.map { case (name, rows) =>
      landed(b, s"$stateDir/$name", rows(b.limit(0)), batchId)
    }
    writeBatch(pairs(before), s"$stateDir/pairs", batchId)
    for ((name, rows) <- stores) writeBatch(rows(b), s"$stateDir/$name", batchId)
  }

  /** Substring-level sweep: the persisted state is the per-(gram, doc)
    * window-count table [[graft.ops.Dedup.duplicateSubstringGramStore]]
    * produces. Each batch sweeps itself against the landed store via
    * [[graft.ops.Dedup.duplicateSubstringsIncremental]] and emits every
    * duplicated gram it TOUCHES with counts over the corpus-so-far.
    *
    * The convergence contract differs from the pair sweeps (which
    * telescope disjointly): a gram's counts only change when a batch
    * touches it, and the touching batch re-emits it with full counts — so
    * the LATEST emission per gram across all batches equals the full-run
    * [[graft.ops.Dedup.duplicateSubstrings]] table over the landed corpus
    * (spec-pinned). Readers take max-`_batch` per gram; no retractions
    * occur because counts are monotone.
    */
  def duplicateSubstringSweepBatch(batch: DataFrame, batchId: Long,
      textCol: String, idCol: String, stateDir: String, windowTokens: Int,
      minDocs: Int): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    def grams(df: DataFrame): DataFrame =
      Dedup.duplicateSubstringGramStore(df, textCol, idCol, windowTokens)
    val store = landed(b, s"$stateDir/grams", grams(b.limit(0)), batchId)
    val dups = Dedup.duplicateSubstringsIncremental(b, store, textCol,
      idCol, windowTokens, minDocs)
    writeBatch(dups, s"$stateDir/dups", batchId)
    writeBatch(grams(b), s"$stateDir/grams", batchId)
  }

  /** Eval-set decontamination GATE: the batch is checked against the
    * STATIC benchmark table via [[graft.ops.Dedup.contaminationCounts]]
    * (broadcast benchmark window hashes + exact gram re-verify);
    * contaminated docs' counts land under `outDir/contam`, clean rows
    * under `outDir/clean`. Unlike the sweeps this needs NO persisted sweep
    * state — the benchmark is fixed and contamination is a per-document
    * fact, so the union of per-batch outputs IS the full-run
    * [[graft.ops.Dedup.decontaminate]] over the landed corpus, exactly
    * (spec-pinned).
    */
  def decontaminationGateBatch(batch: DataFrame, batchId: Long,
      benchmark: DataFrame, textCol: String, idCol: String, outDir: String,
      windowTokens: Int): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    val contam = Dedup.contaminationCounts(b, benchmark, textCol, idCol,
      windowTokens)
    writeBatch(contam, s"$outDir/contam", batchId)
    writeBatch(b.join(contam.select(col("doc_id").as(idCol)), Seq(idCol),
      "left_anti"), s"$outDir/clean", batchId)
  }

  /** Unigram-LM quality GATE, stateless like [[decontaminationGateBatch]]:
    * the batch is scored against a FROZEN lexicon
    * ([[graft.ops.TextAnalysis.unigramLm]], trained offline on a reference
    * corpus — the CCNet deployment shape: the LM is a fixed artifact,
    * documents flow past it) and split into `pass`/`fail` partitions on the
    * mean-surprisal cap. A document's score depends only on its own tokens
    * and the frozen lexicon, so the per-batch union equals the full
    * batch-mode run exactly.
    */
  def unigramQualityGateBatch(batch: DataFrame, batchId: Long,
      lexicon: DataFrame, textCol: String, idCol: String, outDir: String,
      maxMeanNllMicro: Long, oovNllMicro: Long): Unit = {
    val b = batch.select(col(idCol), col(textCol))
    val scored = graft.ops.TextAnalysis.unigramDocScore(b, textCol, idCol,
      lexicon, oovNllMicro)
    val ok = scored
      .filter(col("sum_nll_micro") <= lit(maxMeanNllMicro) * col("n_tokens"))
      .select(col("doc_id").as(idCol))
    writeBatch(b.join(ok, Seq(idCol), "left_semi"), s"$outDir/pass", batchId)
    writeBatch(b.join(ok, Seq(idCol), "left_anti"), s"$outDir/fail", batchId)
  }

  /** Landed state under `dir` excluding the current batchId's partition —
    * a crash-replayed batch must not sweep against its own half-landed
    * remains (partition-pruned); `template.limit(0)` supplies the schema
    * before the first batch lands. Only `_batch=` partitions count as
    * landed: a first write that crashed mid-job leaves just `_temporary/`,
    * from which parquet cannot infer a schema.
    */
  private def landed(session: DataFrame, dir: String, template: DataFrame,
      batchId: Long): DataFrame = {
    val spark = session.sparkSession
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) &&
        fs.listStatus(path).exists(_.getPath.getName.startsWith("_batch=")))
      spark.read.parquet(dir).filter(col("_batch") =!= batchId)
        .drop("_batch")
    else template.limit(0)
  }

  /** Write `df` as this batch's `_batch` partition of `dir`, dynamically
    * overwriting only that partition — the idempotent-replay write.
    */
  private def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.withColumn("_batch", lit(batchId)).write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch").mode("overwrite").parquet(dir)
}
