package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.CrossHash

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators keep the canonical survivor = smallest id (deterministic at
  * any parallelism) and are shaped as joins/aggregations over key columns —
  * no driver-side materialization, no O(n²) pairing except within candidate
  * buckets (the LSH contract, with an explicit bucket-width cap).
  *
  * Hashing is md5-lower-64 (CrossHash) so the ENTIRE candidate generation is
  * replayable in DuckDB SQL — the driver's oracle checks MinHash-LSH and
  * SimHash end-to-end instead of rows-only.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")

  /** Rows/buckets a width cap silently skipped in the most recent call of a
    * capped operator on this JVM — the no-silent-caps audit: the cap is a
    * deliberate recall trade (pairs inside a dropped bucket are invisible),
    * and at growing corpus size a FIXED key space crosses the cap
    * everywhere at once, so the trade must be visible, not silent.
    */
  final case class CapDrops(droppedBuckets: Long, droppedRows: Long)

  private val capDropsByOp =
    scala.collection.concurrent.TrieMap.empty[String, CapDrops]

  /** Cap-drop audit of the latest `op` call in this JVM (op = the method
    * name, e.g. "minHashLsh"); None if the operator has not run yet.
    * Diagnostics, last-call-wins per operator.
    */
  def lastCapDrops(op: String): Option[CapDrops] = capDropsByOp.get(op)

  /** Bucket-width cap with the drop audit: materializes `rows` ONCE (the
    * self-joins read these rows from two plan branches — a lazy frame would
    * re-run the hashing UDF per branch), then sizes buckets with a partial
    * (map-side) aggregation whose exchange carries one (key, count) row
    * per bucket per map partition — never the rows themselves (round 5
    * shipped this as a count window, which shuffled the FULL row set by
    * bucket key and re-scanned it for the audit; guide §2.3 "aggregate
    * before you shuffle"). Over-cap buckets are by construction the
    * exceptional degenerate keys, so their list is collected ONCE, bounded
    * like the broadcast it feeds: the audit sums the collected rows and the
    * surviving rows come from a broadcast anti-join against the same rows
    * (none when nothing is over the cap) — the capped row set itself
    * never pays an exchange. A lazy list cost an extra aggregation job for
    * the audit and re-ran in each self-join branch. Drops are recorded
    * under `op` (see [[lastCapDrops]]) and WARN-logged with auto-sizing
    * `guidance`.
    */
  private def capBucketsAudited(rows: DataFrame, partCols: Seq[String],
      cap: Int, op: String, guidance: String,
      spreadIfNarrow: Boolean = false): DataFrame = {
    val keys = partCols.map(col)
    val m0 = rows.localCheckpoint(true)
    // opt-in scale-adaptive spread (guide §2) for operators whose
    // downstream join AQE turns into a broadcast join — there the capped
    // rows become the STREAM side and inherit this checkpoint's width, so
    // a small/few-file input would serialize the per-pair verify UDF on
    // 1-2 tasks (the round-5 window shuffle provided parallelism by
    // accident). The width probe reads the checkpointed RDD — free, it is
    // already computed; probing the un-executed plan would make AQE run
    // every upstream stage once just to answer — and the re-spread is
    // LAZY: each consuming branch pays one round-robin shuffle of
    // already-materialized blocks, trivial at the sizes where this fires
    // and never firing when the scan is already wide. Operators whose
    // self-join shuffles both sides by bucket key get their parallelism
    // from that exchange and skip the probe entirely.
    val m =
      if (spreadIfNarrow) {
        val par = rows.sparkSession.sparkContext.defaultParallelism
        if (m0.rdd.getNumPartitions < par) m0.repartition(par) else m0
      } else m0
    // sizing reads the un-spread blocks (partial agg needs no width)
    val sized = m0.groupBy(keys: _*).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)
    val bad = sized.collect()
    val drops = CapDrops(bad.length, bad.map(_.getAs[Long]("bsz")).sum)
    capDropsByOp.put(op, drops)
    if (drops.droppedRows > 0)
      log.warn(s"$op: maxBucketSize=$cap dropped ${drops.droppedBuckets} " +
        s"bucket(s) / ${drops.droppedRows} row(s) before the self-join — " +
        s"pairs inside them cannot surface from this key. $guidance")
    if (bad.isEmpty) m
    else m.join(broadcast(rows.sparkSession.createDataFrame(
      java.util.Arrays.asList(bad: _*), sized.schema).select(keys: _*)),
      partCols, "left_anti")
  }

  /** The blocked-pair kernel under the four capped near-dup families —
    * MinHash bands, SimHash chunks, SRP buckets and SemDeDup clusters —
    * shaped as SparkER's stages over one block collection: blocking (the
    * family's keys), block purging (the audited cap) and matching (the
    * family's verify, which the caller applies to the result).
    *
    * `newRows` and the optional `store` hold `_id`, the block `keys` and
    * the payload columns the verify reads. The cap sizes blocks on their
    * union, then new rows join all rows on the key. One rule makes a full
    * run and an incremental sweep the same operator: a new×old match is
    * always kept, a new×new match only once — with `idN < idO`, or, for a
    * probe match, only from the lower bucket (`probe > home`). With no
    * store every row is new, the rule reduces to `idA < idB`, and the join
    * is the plain self-join of the capped rows.
    *
    * Telescoping contract (spec-pinned per family): as the cap sees union
    * widths, a sweep's output equals the full run over store ∪ new
    * restricted to pairs with at least one new id. Chained sweeps —
    * sweep(b1 vs ∅) ∪ sweep(b2 vs store(b1)) ∪ … — are disjoint (each
    * pair comes from the batch that completed it) and together equal one
    * full run, EXCEPT pairs whose block was under the cap at their sweep
    * but crosses it later: a full re-run skips those, and earlier sweeps
    * are never revisited. Ids must be unique across store ∪ new, and the
    * store must come from the same key parameters.
    *
    * `probeMasks` (SRP only; `keys` is then the one long bucket column):
    * new rows also probe the bucket `home ^ mask` for each mask. Two
    * buckets differ by exactly one mask, so a new×old probe match appears
    * once (stored rows never probe) and a new×new one once from each side.
    * A full run's downward probes can never be kept, so they are dropped
    * before the join.
    *
    * Returns `keys` (the probed bucket for probe matches), idA/idB (least/
    * greatest of the two ids) and each payload column `p` as `pN` (the
    * new, probing side) and `pO`. A pair sharing several keys (bands,
    * chunks) appears once per key; those callers dedup.
    */
  private def blockedPairs(newRows: DataFrame, store: Option[DataFrame],
      keys: Seq[String], cap: Int, op: String, guidance: String,
      spreadIfNarrow: Boolean = false,
      probeMasks: Seq[Long] = Nil): DataFrame = {
    val payload = newRows.columns.toSeq
      .filterNot(c => c == "_id" || keys.contains(c))
    val rows = store.fold(newRows)(s =>
      s.select(newRows.columns.toSeq.map(col): _*)
        .withColumn("isNew", lit(false))
        .union(newRows.withColumn("isNew", lit(true))))
    val capped = capBucketsAudited(rows, keys, cap, op,
      if (store.isEmpty) guidance
      else s"$guidance Sweeps cap the union store, whose widths only grow " +
        "as batches land.", spreadIfNarrow)
    def side(s: String): Seq[Column] = keys.map(col) ++
      (col("_id").as(s"id$s") +: payload.map(p => col(p).as(p + s)))
    val home = store.fold(capped)(_ => capped.filter(col("isNew")))
      .select(side("N"): _*)
    val all = capped.select(
      side("O") ++ store.map(_ => col("isNew").as("newO")): _*)
    val isOld = if (store.isEmpty) lit(false) else !col("newO")
    val idRule = col("idN") < col("idO")
    val (probing, newRule) =
      if (probeMasks.isEmpty) (home, idRule)
      else {
        val (k, h) = (keys.head, col("_home"))
        val probes = home.withColumnRenamed(k, "_home").select(
          explode(array(h +: probeMasks.map(m => h.bitwiseXOR(lit(m))): _*))
            .as(k), col("*"))
        (if (store.isEmpty) probes.filter(col(k) >= h) else probes,
          when(col(k) === h, idRule).otherwise(col(k) > h))
      }
    probing.join(all, keys)
      .filter((isOld && col("idN") =!= col("idO")) || newRule)
      .select(keys.map(col) ++ Seq(least(col("idN"), col("idO")).as("idA"),
        greatest(col("idN"), col("idO")).as("idB")) ++
        payload.flatMap(p => Seq(col(p + "N"), col(p + "O"))): _*)
  }

  /** Integral-id guard for operators that cast the id column to long: a
    * lossy cast (string UUIDs, decimals) would null out and silently DROP
    * rows instead of failing — so fail fast here.
    */
  private[ops] def requireIntegralId(df: DataFrame, idCol: String,
      op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    val ok = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok, s"$op requires an integral id column (byte/short/int/long); " +
      s"got ${dt.simpleString} for '$idCol' — casting would silently null " +
      "non-numeric ids and drop their rows")
  }

  /** Exact dedup by content hash: one shuffle keyed on the 16-byte hash.
    * Returns the input plus (content_hash, is_canonical). Annotating rows
    * in place inherently moves the full rows (text included) through the
    * exchange — that is the cost of the is_canonical column. Pipelines
    * that only need the survivor set should use [[exactCanonicalIds]],
    * whose exchange carries (hash, id) pairs only.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    df.withColumn("content_hash", md5(col(textCol)))
      .withColumn("is_canonical", col(idCol) === min(col(idCol)).over(w))
  }

  /** Ids-only exact dedup: one (content_hash, min id) row per distinct
    * content. The shuffle carries 16-byte hashes + ids — the 100 TB shape
    * when the caller keeps the corpus where it is and joins survivors back
    * (or semi-joins) instead of annotating every row.
    */
  def exactCanonicalIds(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_duplicates"))

  /** Incremental exact dedup: survivors of a newly ingested batch against
    * a persisted hash store — first-wins across batches (a hash already in
    * the store drops the new row; within the batch the min-id row
    * survives), the batch-sweep twin of
    * [[graft.streaming.StreamingDedup.firstSeen]] with no watermark bound,
    * and the exact member of the incremental family
    * ([[minHashLshIncremental]] / [[simHashIncremental]] /
    * [[embeddingNearDupIncremental]]). The store is one 32-char hash per
    * distinct content ever landed; append the survivors' `content_hash`
    * column after each sweep. Only the batch is hashed; the store is
    * never rescanned beyond one anti-join keyed on the hash.
    */
  def exactIncremental(newDocs: DataFrame, hashStore: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    newDocs.withColumn("content_hash", md5(col(textCol)))
      .withColumn("_min", min(col(idCol)).over(w))
      .filter(col(idCol) === col("_min"))
      .drop("_min")
      .join(hashStore.select(col("content_hash")), Seq("content_hash"),
        "left_anti")
  }

  /** Word shingles (n-gram strings) of the nonempty whitespace tokens — the
    * input to MinHash / Jaccard. Compiled UDF over the JVM kernel: Spark
    * evaluates higher-order-function expressions (transform/slice/
    * array_join) INTERPRETED per element, which dominated the verify join;
    * the kernel produces byte-identical shingle strings (split on \s+,
    * drop empties, order-preserving distinct n-grams joined by ' ' — the
    * contract the DuckDB oracle replays).
    */
  def shingles(textCol: Column, n: Int): Column = {
    val u = udf((s: String) => shinglesOf(s, n))
    u(textCol)
  }

  /** JVM twin of [[shingles]] for single-pass UDFs. */
  private[ops] def shinglesOf(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Array.empty
    else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** MinHash signatures + banded LSH candidates + exact Jaccard verify.
    *
    * Pipeline (shuffles: one per stage, all on small keys):
    *   single-pass signature UDF (one md5 per shingle + 2 multiplies per
    *   hash function — NOT numHashes re-walks of the shingle array) →
    *   band keys (signature slices) → [[blockedPairs]] under the audited
    *   bucket-width cap (a degenerate bucket would otherwise explode the
    *   self-join quadratically; drops are WARN-logged with sizing guidance
    *   and readable via [[lastCapDrops]]("minHashLsh"), never silent) →
    *   EXACT shingle Jaccard on the candidate pairs only → threshold.
    *
    * Returns (idA, idB, inter, uni, jaccard) with idA < idB and
    * jaccard = inter/uni the exact n-gram Jaccard (the estimate is only used
    * to generate candidates). Band/row parameters follow the standard
    * S-curve: with numHashes = bands * rowsPerBand,
    * P(candidate) = 1-(1-s^r)^b.
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.8, seed: Long = 42L,
      maxBucketSize: Int = 64): DataFrame =
    minHashPairs(minHashBandRows(df, textCol, idCol, shingleSize, numHashes,
      bands, seed), None, df, textCol, idCol, shingleSize, minJaccard,
      maxBucketSize, "minHashLsh")

  /** The banded-bucket rows of [[minHashLsh]] as a standalone table:
    * (_id, band, key) — one row per (doc, band), key = the band's raw
    * signature slice. Persist this (parquet append per ingested batch) to
    * run [[minHashLshIncremental]] without ever re-hashing the corpus.
    * Parameters must match across batches (same seed/bands/numHashes —
    * the store is only meaningful under one hash family).
    */
  def minHashBandRows(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val consts = CrossHash.deriveConstants(numHashes, seed)
    val nH = numHashes
    val shSize = shingleSize
    val sigU = udf { (text: String) =>
      val sh = shinglesOf(text, shSize)
      if (sh.isEmpty) null
      else {
        val mins = Array.fill(nH)(-1L)
        var j = 0
        while (j < sh.length) {
          val base = CrossHash.md5Lower64(sh(j))
          var i = 0
          while (i < nH) {
            val (a, b) = consts(i)
            val h = CrossHash.derive(base, a, b)
            if (java.lang.Long.compareUnsigned(h, mins(i)) < 0) mins(i) = h
            i += 1
          }
          j += 1
        }
        mins
      }
    }
    df.select(col(idCol).as("_id"), sigU(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("key"))
        }: _*)).as("bb"))
      .select(col("_id"), col("bb.band"), col("bb.key"))
  }

  /** Incremental near-dup: the [[minHashLsh]] pairs TOUCHING a newly
    * ingested batch, against a persisted [[minHashBandRows]] store — each
    * batch pays O(batch) signature hashing and a banded join instead of a
    * full-corpus re-pair, under [[blockedPairs]]' telescoping contract.
    * This is the batch-sweep half of the streaming layout:
    * [[graft.streaming.StreamingDedup.firstSeen]] gates exact in-window
    * duplicates on the stream; this sweeps each landed batch for near-dups
    * against everything already landed. `corpus` supplies text for the
    * exact-Jaccard verify only — scanned by two pruned joins on candidate
    * ids, never re-hashed. The store must use the same hash-family
    * parameters; append `minHashBandRows(newDocs)` to it after each sweep.
    */
  def minHashLshIncremental(newDocs: DataFrame, corpus: DataFrame,
      bandStore: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.8, seed: Long = 42L,
      maxBucketSize: Int = 64): DataFrame =
    minHashPairs(minHashBandRows(newDocs, textCol, idCol, shingleSize,
      numHashes, bands, seed), Some(bandStore), corpus.select(col(idCol),
      col(textCol)).union(newDocs.select(col(idCol), col(textCol))),
      textCol, idCol, shingleSize, minJaccard, maxBucketSize,
      "minHashLshIncremental")

  /** [[minHashLsh]] / [[minHashLshIncremental]] past the band rows: the
    * blocked candidates, deduped (a pair can share several bands) and
    * materialized once, verify by exact shingle Jaccard against `text`.
    */
  private def minHashPairs(newRows: DataFrame, store: Option[DataFrame],
      text: DataFrame, textCol: String, idCol: String, shingleSize: Int,
      minJaccard: Double, cap: Int, op: String): DataFrame = {
    // candidates are SMALL by construction (bucket cap bounds the fan-out)
    val cand = blockedPairs(newRows, store, Seq("band", "key"), cap, op,
      "Dense band keys = low-content docs or too-coarse bands; raise " +
        "maxBucketSize, raise bands (narrower keys), or pre-filter " +
        "near-empty docs.")
      .select("idA", "idB")
      .dropDuplicates("idA", "idB")
      .localCheckpoint(true)
    // exact verify on candidates only (ADVICE round 1: the threshold must
    // operate on the exact Jaccard, not the signature estimate);
    // jaccardVerify semi-prunes the shingle scan to candidate ids
    jaccardVerify(cand, text, textCol, idCol, shingleSize)
      .filter(col("exact_jaccard") >= minJaccard)
      .select(col("idA"), col("idB"),
        col("inter").cast(LongType).as("inter"),
        col("uni").cast(LongType).as("uni"),
        col("exact_jaccard").as("jaccard"))
  }

  /** Exact pairwise n-gram Jaccard for candidate pairs produced by any
    * blocking scheme: join back to shingle sets and compute
    * |A∩B| / |A∪B| with array expressions.
    *
    * Shingles are computed ONLY for docs that appear in a pair (left-semi
    * prune) and materialized once — without it the corpus-wide shingle
    * expression runs twice, once per join side, and verify cost scales
    * with the corpus instead of the (cap-bounded) candidate set. Eager:
    * evaluating `pairs` is triggered here.
    */
  def jaccardVerify(pairs: DataFrame, df: DataFrame, textCol: String,
      idCol: String, shingleSize: Int = 3): DataFrame = {
    // one explode pass instead of a two-branch union (the union read the
    // pair table twice)
    val ids = pairs
      .select(explode(array(col("idA"), col("idB"))).as("_jid")).distinct()
    val sh = df.select(col(idCol).as("_jid"),
        shingles(col(textCol), shingleSize).as("_jsh"))
      .join(ids, Seq("_jid"), "left_semi")
      .localCheckpoint(true)
    pairs
      .join(sh.withColumnRenamed("_jid", "idA").withColumnRenamed("_jsh", "shA"), Seq("idA"))
      .join(sh.withColumnRenamed("_jid", "idB").withColumnRenamed("_jsh", "shB"), Seq("idB"))
      .withColumn("inter", size(array_intersect(col("shA"), col("shB"))))
      .withColumn("uni", size(array_union(col("shA"), col("shB"))))
      .withColumn("exact_jaccard",
        when(col("uni") > 0, col("inter").cast(DoubleType) / col("uni")).otherwise(0.0))
      .drop("shA", "shB")
  }

  /** Embedding-cosine near-dup pairs — the vector-space sibling of
    * minHashLsh: SRP buckets (Similarity.SrpModel — pure functions of
    * (seed, bit, i)) block the corpus through [[blockedPairs]], buckets
    * wider than `maxBucketSize` are skipped (the same degenerate-key guard
    * as the other dedup ops), and candidates verify with EXACT cosine
    * against the threshold. Returns (idA, idB, cosine) with idA < idB.
    *
    * Recall: a pair whose vectors straddle one SRP hyperplane lands in
    * buckets at Hamming distance 1 and would be invisible to exact-bucket
    * blocking. `probeHamming = 1` (default) closes that: each row also
    * probes its 1-bit-flip neighbor buckets, upward only (bit 0 -> 1), so
    * a Hamming-1 pair is enumerated exactly once, from its lower bucket —
    * expected probe fan-out nBits/2 per row. Cosine is evaluated on the
    * vectors as joined — bit-identical either way since every per-element
    * product and the final sqrt(na)*sqrt(nb) are commutative.
    * `probeHamming = 0` is plain exact-bucket blocking; `probeHamming = 2`
    * additionally probes every 2-bit XOR mask (C(nBits, 2) extra probes
    * per row, upward-only as well) — a pair's buckets differ by exactly ONE
    * mask, so every route stays unique and no dedup pass is needed at any
    * probe depth. The width cap applies to HOME buckets before expansion,
    * and drops are audited (WARN + [[lastCapDrops]]("embeddingNearDupPairs")):
    * the 2^nBits key space is fixed, so at growing corpus size n size
    * `nBits >= log2(n / maxBucketSize)` to keep the expected bucket width
    * n/2^nBits under the cap — the default nBits=6 is sized for test-scale
    * corpora, NOT for 100-TB row counts. Every arithmetic step is an
    * explicit-order double fold, so the DuckDB oracle replays the identical
    * output set bit-identically (the oracle constrains bucket Hamming
    * distance, not probe direction).
    */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, nBits: Int = 6, seed: Long = 42L, minCosine: Double = 0.3,
      maxBucketSize: Int = 256, probeHamming: Int = 1): DataFrame =
    srpPairs(srpRows(Similarity.withSrpBucket(df, vecCol, dim, nBits, seed),
      idCol, vecCol), None, nBits, probeHamming, minCosine, maxBucketSize,
      "embeddingNearDupPairs")

  /** Incremental embedding near-dup — the vector-space sibling of
    * [[minHashLshIncremental]]: the [[embeddingNearDupPairs]]
    * (`probeHamming = 1`) pairs touching a newly ingested batch, against a
    * persisted SRP-bucket store, which is EXACTLY the (id, srp_bucket, vec)
    * table [[Similarity.withSrpBucket]] produces and `lshKnn` already
    * materializes `partitionBy("srp_bucket")` — one persisted table serves
    * both ANN search and incremental dedup. SRP buckets are pure functions
    * of (seed, vector), so unlike the ngram join's df-dependent prefix
    * order the store never goes stale. New rows probe all nBits 1-bit
    * flips (stored rows do not probe back); see [[blockedPairs]].
    */
  def embeddingNearDupIncremental(newDocs: DataFrame, bucketStore: DataFrame,
      vecCol: String, idCol: String, dim: Int, nBits: Int = 6,
      seed: Long = 42L, minCosine: Double = 0.3,
      maxBucketSize: Int = 256): DataFrame =
    srpPairs(srpRows(Similarity.withSrpBucket(newDocs, vecCol, dim, nBits,
        seed), idCol, vecCol), Some(srpRows(bucketStore, idCol, vecCol)),
      nBits, 1, minCosine, maxBucketSize, "embeddingNearDupIncremental")

  private def srpRows(bucketed: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    bucketed.select(col(idCol).as("_id"), col("srp_bucket"),
      col(vecCol).as("_v"))

  /** SRP rows → [[blockedPairs]] with the Hamming-`probeHamming` probe
    * ring → exact cosine. No pair dedup: every route is unique.
    */
  private def srpPairs(newRows: DataFrame, store: Option[DataFrame],
      nBits: Int, probeHamming: Int, minCosine: Double, cap: Int,
      op: String): DataFrame = {
    require(probeHamming <= 2, "probe ring supports Hamming <= 2")
    val masks: Seq[Long] =
      (if (probeHamming >= 1) (0 until nBits).map(b => 1L << b) else Nil) ++
        (if (probeHamming >= 2)
          for { i <- 0 until nBits; j <- i + 1 until nBits }
            yield (1L << i) | (1L << j)
        else Nil)
    blockedPairs(newRows, store, Seq("srp_bucket"), cap, op,
      "The 2^nBits key space is FIXED — expected bucket width is " +
        "n/2^nBits, so grow nBits with the corpus: " +
        "nBits >= log2(n / maxBucketSize).",
      // a full run's stored side broadcasts under AQE, so its cosine work
      // parallelizes only as wide as these blocks — spread when narrow
      spreadIfNarrow = store.isEmpty, probeMasks = masks)
      .withColumn("cosine", exactCosineUdf(col("_vN"), col("_vO")))
      .filter(col("cosine") >= minCosine)
      .select("idA", "idB", "cosine")
  }

  /** Exact cosine as an explicit left-to-right double fold — a compiled
    * UDF, not the aggregate/zip_with column expression: Spark evaluates
    * higher-order functions INTERPRETED per element, which dominates at
    * pair volume. The while-loop sums left-to-right exactly like a fold
    * (0.0 + x0 ≡ x0 in IEEE), so the DuckDB oracles' explicit-order
    * list_reduce replays every embedding op bit-identically. Shared by
    * all three embedding pair generators.
    */
  private[ops] def exactCosineUdf = udf { (va: Seq[Float], vb: Seq[Float]) =>
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(va.length, vb.length)
    while (i < n) {
      val x = va(i).toDouble; val y = vb(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    if (nn > 0) dot / nn else 0.0
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantically-redundant pairs found WITHIN k-means clusters of the
    * embedding space — the coarse quantizer's cluster replaces
    * [[embeddingNearDupPairs]]'s SRP bucket as the [[blockedPairs]] key,
    * which is the paper's exact shape: cluster once, compare only inside
    * clusters, prune one side of every pair above the cosine threshold
    * (feed the output to [[survivorsFromPairs]] / [[connectedComponents]]
    * like any other pair table).
    *
    * Takes a PRE-CLUSTERED table — e.g. the
    * `Similarity.withIvfCluster` output that IVF ANN already materializes
    * `partitionBy(ivf_cluster)`: ONE stored table serves both ANN probes
    * and semantic dedup, and the expensive k-means training happens once.
    * Within each cluster: width-capped self-join (audited —
    * [[lastCapDrops]]("semanticNearDupPairs")) + exact cosine with the
    * shared explicit-order fold, so the DuckDB oracle replays assignment
    * (from exported centroid literals), cap, pairing and scores
    * bit-identically.
    *
    * Scale shape: the all-pairs work happens only INSIDE a cluster, so k
    * is the knob — grow it with the corpus (k >= n / targetClusterWidth;
    * SemDeDup itself runs k = 11k on 1e9 embeddings) and the cap audit
    * makes overflow visible instead of silent. Clusters are disjoint, so
    * no probe ring and no pair dedup pass are needed.
    *
    * Returns (cluster, idA, idB, cosine) with idA < idB, cosine >= minCosine.
    */
  def semanticNearDupPairs(clustered: DataFrame, vecCol: String,
      idCol: String, clusterCol: String = "ivf_cluster",
      minCosine: Double = 0.9, maxClusterSize: Int = 1024): DataFrame =
    semanticPairs(clusterRows(clustered, clusterCol, idCol, vecCol), None,
      minCosine, maxClusterSize, "semanticNearDupPairs")

  /** Incremental SemDeDup — the cluster-blocked sibling of
    * [[embeddingNearDupIncremental]]: the [[semanticNearDupPairs]] pairs
    * touching a newly ingested batch, against a persisted cluster store,
    * which is EXACTLY the (id, cluster, vec) table
    * `Similarity.withIvfCluster` produces and IVF ANN already materializes
    * `partitionBy(ivf_cluster)` — one persisted table serves ANN probes,
    * batch semantic dedup AND this sweep. The quantizer is FROZEN
    * (centroids are a pure function passed in as `model`), so cluster
    * assignment of stored rows never goes stale — the same property that
    * lets the SRP store persist, and the reason the k-means is trained
    * offline in the SemDeDup deployment shape. New rows assign through
    * the frozen model; see [[blockedPairs]] for the contract.
    */
  def semanticNearDupIncremental(newDocs: DataFrame, clusterStore: DataFrame,
      vecCol: String, idCol: String, model: graft.ops.Similarity.IvfModel,
      clusterCol: String = "ivf_cluster", minCosine: Double = 0.9,
      maxClusterSize: Int = 1024): DataFrame =
    semanticPairs(clusterRows(Similarity.withIvfCluster(newDocs, vecCol,
        model), "ivf_cluster", idCol, vecCol),
      Some(clusterRows(clusterStore, clusterCol, idCol, vecCol)), minCosine,
      maxClusterSize, "semanticNearDupIncremental")

  private def clusterRows(df: DataFrame, clusterCol: String, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(clusterCol).as("_cl"), col(idCol).as("_id"),
      col(vecCol).as("_v"))

  private def semanticPairs(newRows: DataFrame, store: Option[DataFrame],
      minCosine: Double, cap: Int, op: String): DataFrame =
    blockedPairs(newRows, store, Seq("_cl"), cap, op,
      "Cluster count k is the blocking knob — grow it with the corpus " +
        "(k >= n / maxClusterSize on average) and re-train the coarse " +
        "quantizer when clusters overflow.")
      .withColumn("cosine", exactCosineUdf(col("_vN"), col("_vO")))
      .filter(col("cosine") >= minCosine)
      .select(col("_cl").as("cluster"), col("idA"), col("idB"), col("cosine"))

  /** EXACT n-gram Jaccard self-join via prefix filtering (the SSJoin /
    * PPJoin family — Chaudhuri et al., "A Primitive Operator for Similarity
    * Joins", ICDE'06; Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08): a pair with Jaccard >= t MUST share a
    * shingle within each side's first (|S| - ceil(t*|S|) + 1) shingles
    * under a GLOBAL rarity order (df asc, shingle asc), so candidates come
    * from joining only those prefix postings — rare shingles, short lists —
    * with a size filter (min >= t * max) pruning length-incompatible pairs
    * and PPJoin's positional filter pruning the rest: the FIRST shared
    * prefix shingle of a pair sits at the pair's (min rnA, min rnB) — the
    * prefixes share one global order, so per-pair position minima ARE the
    * first shared element's positions — and no shared shingle can precede
    * it in both docs, so overlap <= 1 + min(szA-pA, szB-pB); pairs whose
    * bound falls below ceil(t/(1+t)*(szA+szB)) cannot reach Jaccard t
    * (2.8x fewer exact verifies on the sf0.1 corpus). Recall is 1.0 by
    * the prefix-filter theorem — the exact counterpart to [[minHashLsh]]
    * (which trades recall for a fixed-size signature).
    *
    * Scale shape: five keyed exchanges (shingle df, per-doc rank, the
    * prefix self-join, two verify joins), no full O(n²) pairing; the
    * candidate volume is governed by prefix-shingle df, which the rarity
    * order minimizes. `maxPostingLen > 0` additionally drops prefix
    * postings rarer-bounded than that length — a skew guard that trades
    * the exactness guarantee for bounded join fan-out (0 = exact,
    * default).
    *
    * Returns (idA, idB, inter, uni) with idA < idB and
    * inter/uni >= minJaccard. DuckDB-replayable end-to-end: shingling,
    * the (df, shingle) order, prefix length, size filter, and the
    * intersect/union counts are all engine-agnostic integer/double ops
    * (the shingle tie-break relies on identical string order, which holds
    * for all BMP text; supplementary-plane code points would order
    * differently in UTF-16 vs UTF-8).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 2, minJaccard: Double = 0.8,
      maxPostingLen: Long = 0L): DataFrame = {
    requireIntegralId(df, idCol, "ngramJaccardPairs")
    val n = shingleSize
    val shU = udf((s: String) => shinglesOf(s, n).distinct)
    // materialized once: exploded postings, prefix ranking, and both
    // verify joins all reuse the shingle sets
    val sets = df.select(col(idCol).cast(LongType).as("_id"),
        shU(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(true)
    val ex = sets.select(col("_id"), explode(col("sh")).as("shingle"),
      size(col("sh")).as("sz"))
    val dfc0 = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    val dfc = if (maxPostingLen > 0) dfc0.filter(col("df") <= maxPostingLen)
      else dfc0
    val wDoc = Window.partitionBy("_id").orderBy(col("df"), col("shingle"))
    val prefix = ex.join(dfc, "shingle")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <=
        col("sz") - ceil(lit(minJaccard) * col("sz")) + lit(1))
      .select("shingle", "_id", "sz", "rn")
      // materialized once: the self-join reads the prefix postings from
      // two plan branches — without this the explode + df join + window
      // subtree runs twice (seen in the formatted plan)
      .localCheckpoint(true)
    val a = prefix.select(col("shingle"), col("_id").as("idA"),
      col("sz").as("szA"), col("rn").as("rnA"))
    val b = prefix.select(col("shingle"), col("_id").as("idB"),
      col("sz").as("szB"), col("rn").as("rnB"))
    val cand = a.join(b, Seq("shingle"))
      .filter(col("idA") < col("idB") &&
        least(col("szA"), col("szB")).cast(DoubleType) >=
          lit(minJaccard) * greatest(col("szA"), col("szB")))
      // the dedup shuffle doubles as the positional filter's min-position
      // aggregation — same exchange a plain distinct() would pay
      .groupBy("idA", "idB")
      .agg(first(col("szA")).as("szA"), first(col("szB")).as("szB"),
        min(col("rnA")).as("pA"), min(col("rnB")).as("pB"))
      .filter(lit(1) + least(col("szA") - col("pA"), col("szB") - col("pB")) >=
        ceil(lit(minJaccard) / (lit(1.0) + lit(minJaccard)) *
          (col("szA") + col("szB"))))
      .select("idA", "idB")
    // verify joins read only candidate docs' shingle sets: semi-prune the
    // (checkpointed, corpus-wide) sets table down to pair ids first so the
    // two joins shuffle candidate-bounded data, not the corpus. The pair
    // ids come from ONE explode pass over the materialized candidates, and
    // the pruned table stays lazy — each verify branch re-runs only a
    // broadcast semi-join over the already-checkpointed shingle blocks
    // (an eager checkpoint of it cost a whole extra job)
    val candM = cand.localCheckpoint(true)
    val ids = candM
      .select(explode(array(col("idA"), col("idB"))).as("_id")).distinct()
    val pruned = sets.join(ids, Seq("_id"), "left_semi")
    val sa = pruned.select(col("_id").as("idA"), col("sh").as("sa"))
    val sb = pruned.select(col("_id").as("idB"), col("sh").as("sb"))
    candM.join(sa, "idA").join(sb, "idB")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast(LongType))
      .withColumn("uni",
        (size(col("sa")) + size(col("sb"))).cast(LongType) - col("inter"))
      .filter(col("inter").cast(DoubleType) / col("uni") >= minJaccard)
      .select("idA", "idB", "inter", "uni")
  }

  // ---- Substring-level dedup (fixed token-window granularity) ------------

  /** JVM kernel: every L-token window of the nonempty whitespace tokens
    * with its 0-based starting token position — NOT deduped within the
    * document (positions feed [[duplicateSpanCoverage]]). Tokenization is
    * byte-identical to [[shinglesOf]] (split on \s+, drop empties), the
    * contract the DuckDB string_split oracle replays.
    */
  private[ops] def tokenWindowsOf(text: String,
      L: Int): Array[(Int, String)] = {
    if (text == null) return Array.empty
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < L) Array.empty
    else Array.tabulate(toks.length - L + 1)(i =>
      (i, toks.slice(i, i + L).mkString(" ")))
  }

  /** Exploded positional windows `(doc_id, pos, gram, gh)`. Compiled UDF
    * over the kernel (higher-order-function expressions evaluate
    * interpreted per element — the [[shingles]] lesson). gh =
    * xxhash64(gram) is engine-internal only: the oracle replays the gram
    * STRING, so no cross-engine hash contract is needed here.
    */
  private def tokenWindowRows(df: DataFrame, textCol: String, idCol: String,
      L: Int): DataFrame = {
    val wU = udf((s: String) => tokenWindowsOf(s, L))
    df.select(col(idCol).as("doc_id"), explode(wU(col(textCol))).as("w"))
      .select(col("doc_id"), col("w._1").as("pos"), col("w._2").as("gram"))
      .withColumn("gh", xxhash64(col("gram")))
  }

  /** Cross-document duplicate substrings: every L-token window whose text
    * occurs in at least `minDocs` distinct documents, with document and
    * occurrence counts — the fixed-window member of substring-level
    * training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": their suffix-array pass finds
    * variable-length matches; any duplicated run of length >= L shows up
    * here as a run of duplicated windows, which is exactly what
    * [[duplicateSpanCoverage]] consumes). Complements the document-level
    * family ([[exact]] / [[minHashLsh]]): boilerplate shared by otherwise
    * distinct documents is invisible to whole-document hashing.
    *
    * 100-TB shape: phase 1 shuffles only (64-bit hash, doc_id) pairs with
    * map-side partial aggregation to find candidate hashes; the wide gram
    * strings shuffle in phase 2 ONLY for windows whose hash survived (AQE
    * broadcasts the surviving-hash side when small). The exact
    * group-by-gram with the n_docs re-filter makes hash collisions
    * harmless — output is exact, recall 1.0 at this window length. Any id
    * type works (ids are only grouped, never cast).
    */
  def duplicateSubstrings(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1: $windowTokens")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    dupGramAgg(dupCandidateWindows(df, textCol, idCol, windowTokens,
      minDocs), minDocs)
  }

  /** Positional windows whose HASH occurs in >= minDocs documents — the
    * shared candidate phase of [[duplicateSubstrings]] /
    * [[duplicateSpanCoverage]] / [[trimDuplicateSpans]] (phase 1 shuffles
    * only (gh, doc_id) pairs with map-side partial aggregation; wide gram
    * strings move only for surviving windows).
    */
  private def dupCandidateWindows(df: DataFrame, textCol: String,
      idCol: String, windowTokens: Int, minDocs: Int): DataFrame = {
    val wins = tokenWindowRows(df, textCol, idCol, windowTokens)
    val hot = wins.select("gh", "doc_id").groupBy("gh")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs).select("gh")
    wins.join(hot, "gh")
  }

  /** The exact group-by-gram over candidate windows with the n_docs
    * re-filter (hash collisions harmless — output exact, recall 1.0).
    */
  private def dupGramAgg(cand: DataFrame, minDocs: Int): DataFrame =
    cand.groupBy("gram")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .select("gram", "n_docs", "n_occ")

  /** The persistable gram store behind [[duplicateSubstringsIncremental]]:
    * one row per (gram, document) with its occurrence count — the
    * deduped-per-doc window table. Unlike the n-gram Jaccard join (whose
    * prefix order depends on GLOBAL df and therefore drifts as the corpus
    * grows — why that op deliberately has no incremental form), window
    * occurrence counts are per-document facts: a frozen store row never
    * changes meaning, so the incremental sweep is exactly the full run.
    * Append each swept batch's rows to the store after the sweep (the
    * band-row-store convention of [[minHashBandRows]]).
    */
  def duplicateSubstringGramStore(df: DataFrame, textCol: String,
      idCol: String, windowTokens: Int = 8): DataFrame =
    tokenWindowRows(df, textCol, idCol, windowTokens)
      .groupBy("gram", "doc_id").agg(count(lit(1)).as("n_occ"))

  /** Incremental [[duplicateSubstrings]]: sweep a newly ingested batch
    * against a persisted gram store and emit every duplicated gram the
    * batch TOUCHES, with its counts over the full corpus-so-far — exactly
    * the full run's rows restricted to grams occurring in the batch
    * (spec-pinned equality). O(batch) work: only the batch is windowed;
    * the store is pruned by one semi-join on the batch's grams before the
    * counting aggregation. Batch ids must be new (dedupe re-ingests first,
    * e.g. via [[exactIncremental]] — the family convention).
    */
  def duplicateSubstringsIncremental(newDocs: DataFrame, gramStore: DataFrame,
      textCol: String, idCol: String, windowTokens: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val b = duplicateSubstringGramStore(newDocs, textCol, idCol, windowTokens)
    val touched = gramStore.select("gram", "doc_id", "n_occ")
      .join(b.select("gram").distinct(), Seq("gram"), "left_semi")
    b.unionByName(touched)
      .groupBy("gram")
      .agg(countDistinct("doc_id").as("n_docs"), sum("n_occ").as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .select("gram", "n_docs", "n_occ")
  }

  /** Benchmark decontamination counts (cross-table substring overlap —
    * the eval-set hygiene pass of every LLM training pipeline: Brown et
    * al. 2020 App. C remove training docs sharing a 13-gram with an eval
    * example; this is that op over whitespace token windows): for each
    * corpus document sharing at least one L-token window with the
    * benchmark table, the number of its window positions whose gram also
    * occurs in the benchmark. 100-TB shape: the benchmark side is
    * definitionally small (eval sets), so the corpus windows semi-join ONE
    * broadcast of the benchmark's distinct (hash, gram) windows — the
    * corpus never shuffles, and hash+gram in a single join key means
    * collisions are harmless and recall is 1.0 (round 5 ran this as two
    * chained broadcast semi-joins — a hash-only prefilter, then the gram
    * verify — which windowed the benchmark twice and built two broadcast
    * relations for the same pruning power; if the benchmark's gram strings
    * ever outgrow one broadcast, reinstate the hash-only first phase).
    */
  def contaminationCounts(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, windowTokens: Int = 8): DataFrame = {
    val cw = tokenWindowRows(corpus, textCol, idCol, windowTokens)
    val bw = tokenWindowRows(benchmark, textCol, idCol, windowTokens)
      .select("gh", "gram").distinct()
    cw.join(broadcast(bw), Seq("gh", "gram"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** Corpus rows sharing NO L-token window with the benchmark table —
    * [[contaminationCounts]]' survivors via one id-keyed anti-join (the
    * corpus text itself never shuffles).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, windowTokens: Int = 8): DataFrame = {
    val bad = contaminationCounts(corpus, benchmark, textCol, idCol,
      windowTokens).select(col("doc_id").as(idCol))
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Distinct (doc_id, p): every token position covered by a cross-document
    * duplicated L-token window — the shared plan of [[duplicateSpanCoverage]]
    * and [[trimDuplicateSpans]]. The hash-surviving candidate windows
    * materialize ONCE and feed BOTH the exact gram aggregation and the
    * covered-position join (the corpus-wide window stream itself is never
    * persisted — only windows whose 8-byte hash already occurs in >= minDocs
    * documents, the duplication-bounded set; round 5 recomputed the full
    * window UDF scan for the join, a third pass over the corpus). A window
    * joins the duplicated-gram set by exact gram text; covered positions
    * explode per surviving window only.
    */
  private def dupCoveredPositions(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val cand = dupCandidateWindows(df, textCol, idCol, windowTokens, minDocs)
      .localCheckpoint(true)
    val dupGrams = dupGramAgg(cand, minDocs).select("gram")
    cand.join(dupGrams, "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos"),
          col("pos") + lit(windowTokens - 1))).as("p"))
      .distinct()
  }

  /** Per-document duplicate-substring coverage: how many of a document's
    * token positions fall inside at least one cross-document duplicated
    * L-token window ([[duplicateSubstrings]]) — the contamination score
    * substring-level dedup acts on (drop or trim documents whose
    * duplicated fraction is high). Output `(doc_id, n_tokens,
    * n_dup_tokens)`; the fraction is left to the caller so every column
    * stays integral (cross-engine-exact). Shape: [[dupCoveredPositions]],
    * then one count per document.
    */
  def duplicateSpanCoverage(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    val covered = dupCoveredPositions(df, textCol, idCol, windowTokens, minDocs)
      .groupBy("doc_id").agg(count(lit(1)).cast(IntegerType).as("n_dup_tokens"))
    val toks = filter(split(col(textCol), "\\s+"), x => x =!= "")
    val nt = df.select(col(idCol).as("doc_id"),
      size(toks).as("n_tokens"))
    nt.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0)).as("n_dup_tokens"))
  }

  /** Rewrite each document with every cross-document duplicated L-token
    * window excised — the REMOVAL half of substring-level dedup (Lee et
    * al. 2022 delete the duplicated span and keep the remainder; dropping
    * whole documents over-deletes when the duplication is boilerplate
    * inside otherwise-unique text). A token survives iff no duplicated
    * window ([[duplicateSubstrings]]) covers its position; `text_trimmed`
    * is the survivors joined by single spaces (whitespace normalization
    * is inherent — positions index the tokenized form). Output
    * `(doc_id, n_tokens, n_dup_tokens, text_trimmed)`; n_dup_tokens
    * matches [[duplicateSpanCoverage]] exactly, so trim-vs-score stays
    * consistent.
    *
    * Shape: the covered positions of [[dupCoveredPositions]] aggregate to
    * one per-doc int array (bounded by doc length), which joins back by id
    * — only CONTAMINATED documents appear on that side, so at web scale
    * (duplication is the exception) AQE broadcasts it and the corpus text
    * never shuffles.
    * The positional filter is an array_contains per token; fine while
    * covered arrays are doc-bounded (they are, by construction).
    */
  def trimDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    val covered = dupCoveredPositions(df, textCol, idCol, windowTokens, minDocs)
      .groupBy("doc_id").agg(collect_set(col("p")).as("covered"))
    val toks = filter(split(col(textCol), "\\s+"), x => x =!= "")
    df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("covered"), lit(Array.empty[Int])))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("cov")).as("n_dup_tokens"),
        array_join(filter(col("toks"),
          (x, i) => !array_contains(col("cov"), i)), " ").as("text_trimmed"))
  }

  /** JVM SimHash kernel: 64-bit, per-occurrence bit-majority vote over
    * nonempty whitespace tokens, token hash = md5-lower-64. ONE pass over
    * the tokens computing all 64 votes (round 1 shipped 64 aggregate()
    * expressions that re-walked the array 64 times and blew up janino —
    * same lesson as TextAnalysis.langId).
    */
  private[ops] def simHash64(text: String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](64)
    val toks = text.split("\\s+")
    var t = 0
    while (t < toks.length) {
      if (toks(t).nonEmpty) {
        val h = CrossHash.md5Lower64(toks(t))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** 64-bit SimHash over nonempty whitespace tokens: per-token md5-lower-64,
    * bit-majority vote weighted by occurrence count. Near-dups = small
    * Hamming distance.
    */
  def simHash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val simU = udf((text: String) => simHash64(text))
    df.withColumn("simhash", simU(col(textCol)))
  }

  /** Hamming distance between two 64-bit simhashes (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected components over an undirected near-dup pair list — the step
    * from dup PAIRS (minHashLsh / simHashPairs / embeddingNearDupPairs) to
    * dedup CLUSTERS: every doc in a component gets the component's minimum
    * id as its cluster label (= the canonical survivor, consistent with the
    * other ops' min-id rule).
    *
    * Algorithm: min-label propagation with pointer jumping. The seed is
    * one aggregation over the mirrored edges, label(v) = min(v, neighbors).
    * A certificate then checks it once: if no edge (src, dst) has
    * label(dst) < label(src), labels are constant on each component, and
    * as each is an id of its component no larger than its own, each is the
    * component's minimum. LSH near-dup graphs are mostly cliques, which the
    * seed solves, so the usual call ends there with no round.
    *
    * Otherwise each round (a) takes the min label over each id and its
    * neighbors and (b) compresses label chains (label := label(label)), so
    * convergence takes O(log diameter) rounds, not O(diameter). A round is
    * the neighbor join, one aggregation that both sides of the pointer-jump
    * self-join read, and a checkpoint whose job also counts the changed
    * labels; the loop ends at the first round that changes none. On a small
    * graph a round is 4 Spark jobs (broadcast edges, the aggregation,
    * broadcast jump table, checkpoint) and the certificate 3. Every join is
    * keyed on ids (the 100 TB shape: no adjacency on one node), and the
    * min-label fixpoint is unique, so partitioning and round count cannot
    * change the answer. Reaching `maxIter` rounds unconverged throws
    * IllegalStateException rather than return labels that split
    * components; `maxIter = 0` accepts only a seed the certificate proves.
    *
    * Jobs per call on 20 disjoint 4-cliques and on 16-node, 64-node and
    * shuffled-id 50-node paths (JobCountSpec's session): 12 / 33 / 47 / 187
    * with the former confirming round of 7 jobs, 7 / 23 / 31 / 111 now.
    * Measured and rejected, same graphs: the certificate after every round
    * in place of the changed-label count, 7 / 28 / 42 / 182; a jump table
    * reading only the label, so each join side runs the aggregation,
    * 7 / 27 / 38 / 150; a filter-isEmpty job for the count,
    * 7 / 27 / 37 / 137; unknown in place of stored sizes, 9 / 33 / 45 / 165.
    *
    * Returns (id, label) for every id appearing in `pairs`; singletons
    * (docs with no dup pair) are absent by construction — callers keep the
    * corpus where it is and left-join.
    */
  def connectedComponents(pairs: DataFrame, idACol: String, idBCol: String,
      maxIter: Int = 25): DataFrame = {
    requireIntegralId(pairs, idACol, "connectedComponents")
    requireIntegralId(pairs, idBCol, "connectedComponents")
    // ONE eager materialization covers the caller's pair pipeline and the
    // mirrored edges (explode emits both directions; min() needs no
    // distinct). No repartition: under AQE a checkpoint keeps no output
    // partitioning, so hashing on dst only added a shuffle job
    val edges = Bridge.withStoredSize(pairs
      .select(col(idACol).cast(LongType).as("src"),
        col(idBCol).cast(LongType).as("dst"))
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .localCheckpoint(true))
    // seed labels with round 1's neighbor-min for free: one aggregation
    // over the edge list replaces both the distinct-ids materialization and
    // a first round from identity labels; the min-label fixpoint is unique,
    // so seeding cannot change the result, only the round count
    var labels = Bridge.withStoredSize(edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("id"), col("label"))
      .localCheckpoint(true))
    // neighbor-min: each id's label as `prev` beside the smallest label
    // among it and its neighbors. The ids' own labels join the neighbor
    // rows as self-loops, so one join and one aggregation give both
    def neighborMin(labels: DataFrame): DataFrame = edges
      .join(labels.withColumnRenamed("id", "dst"), "dst")
      .select(col("src"), col("label"), lit(false).as("self"))
      .union(labels.select(col("id"), col("label"), lit(true)))
      .groupBy(col("src").as("id"))
      .agg(max(when(col("self"), col("label"))).as("prev"),
        min(col("label")).as("label"))
    // the certificate (see above), once: a failed one costs 3 jobs, and
    // repeating it every round costs more than the final round it saves
    var converged =
      neighborMin(labels).filter(col("label") < col("prev")).isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      val tRound = System.nanoTime()
      val propagated = neighborMin(labels)
      // pointer jump on the post-neighbor-min labels (fresher pointers
      // contract further). A target's label is never above its prev, so
      // `jump` reads both and the two join sides prune to one aggregation,
      // which AQE runs once (a reused exchange). A second jump per round
      // left the SemDeDup graphs' plateau-limited round count at 6.
      val byLabel = propagated
        .select(col("id").as("label"), least(col("prev"), col("label")).as("jump"))
      // the changed-label count rides on the checkpoint's own job; the
      // next round plans against the stored size, never a compounded one
      val changed = Observation()
      labels = Bridge.withStoredSize(propagated.join(byLabel, Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("jump"), col("label"))).as("label"),
          col("prev"))
        .observe(changed, count(when(col("label") =!= col("prev"), 1)).as("n"))
        .localCheckpoint(true))
      converged = changed.get("n") == 0L
      iter += 1
      if (log.isDebugEnabled)
        log.debug(f"connectedComponents round $iter: " +
          f"${(System.nanoTime() - tRound) / 1e9}%.3f s converged=$converged")
    }
    // unconverged labels split components silently; `converged` is the
    // last round's own check, so failing here costs no extra Spark job
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter = $maxIter rounds")
    labels.select(col("id"), col("label"))
  }

  /** End-to-end near-dup removal: candidate pairs from MinHash-LSH →
    * connected components → drop every row whose cluster label is not
    * itself (the canonical min-id survivor stays; exact duplicates are a
    * special case of jaccard 1.0). The corpus never moves: the only
    * exchanges carry (id, id) pairs and (id, label) tables, and the final
    * filter is a left-anti join against the loser-id set — the 100 TB
    * shape for "give me the deduplicated corpus".
    */
  def nearDupSurvivors(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.8, seed: Long = 42L,
      maxBucketSize: Int = 64): DataFrame =
    survivorsFromPairs(df, idCol, minHashLsh(df, textCol, idCol,
      shingleSize, numHashes, bands, minJaccard, seed, maxBucketSize))

  /** The pairs → components → anti-join tail of [[nearDupSurvivors]] for
    * ANY candidate-pair source — [[ngramJaccardPairs]] for exact-recall
    * dedup, [[simHashPairs]], [[embeddingNearDupPairs]], or a caller's
    * own (idA, idB) table. Same 100 TB shape: the corpus itself never
    * shuffles.
    */
  def survivorsFromPairs(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    requireIntegralId(df, idCol, "survivorsFromPairs")
    val losers = connectedComponents(pairs, "idA", "idB")
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: block on 4 × 16-bit chunks (a pair within
    * Hamming distance <= 3 must agree on at least one chunk — pigeonhole;
    * larger maxHamming keeps the same blocking and is best-effort beyond 3),
    * verify with exact Hamming. Standard scalable SimHash dedup layout.
    *
    * Buckets wider than `maxBucketSize` are skipped before the self-join —
    * the same audited guard minHashLsh applies: degenerate chunk keys (e.g.
    * every near-empty doc simhashes to 0, so all four of its chunk keys
    * collide) would otherwise self-join quadratically at scale. Pairs
    * inside a skipped bucket can still surface via one of their three
    * other chunks.
    */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 64): DataFrame =
    simHashChunkPairs(simRows(simHash(df, textCol, idCol), idCol), None,
      maxHamming, maxBucketSize, "simHashPairs")

  /** Incremental SimHash near-dup — the [[simHashPairs]] pairs touching a
    * newly ingested batch (see [[blockedPairs]]): the persisted store is
    * simply the (id, simhash) table [[simHash]] produces — ONE long per
    * doc, the cheapest of the stores — and each ingested batch hashes only
    * itself; stored simhashes are re-chunked on the fly.
    */
  def simHashIncremental(newDocs: DataFrame, simHashStore: DataFrame,
      textCol: String, idCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = 64): DataFrame =
    simHashChunkPairs(simRows(simHash(newDocs, textCol, idCol), idCol),
      Some(simRows(simHashStore, idCol)), maxHamming, maxBucketSize,
      "simHashIncremental")

  private def simRows(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).as("_id"), col("simhash"))

  private def simHashChunkPairs(newRows: DataFrame, store: Option[DataFrame],
      maxHamming: Int, cap: Int, op: String): DataFrame = {
    def chunks(rows: DataFrame): DataFrame =
      rows.select(col("_id"), col("simhash"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL).as("key"))
        }: _*)).as("ck"))
        .select(col("_id"), col("simhash"), col("ck.chunk"), col("ck.key"))
    blockedPairs(chunks(newRows), store.map(chunks), Seq("chunk", "key"),
      cap, op,
      "Dense chunk keys usually mean degenerate simhashes (near-empty " +
        "docs all hash to 0); pre-filter them or raise maxBucketSize — " +
        "a capped pair can still surface via its three other chunks.")
      // a pair can share several chunks
      .dropDuplicates("idA", "idB")
      // hamming is symmetric, so the (N, O) orientation is moot
      .withColumn("hamming", hamming(col("simhashN"), col("simhashO")))
      .filter(col("hamming") <= maxHamming)
      .select("idA", "idB", "hamming")
  }
}
