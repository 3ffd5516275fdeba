package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
    * exceptional degenerate keys, so the audit reads the tiny bad-bucket
    * list and the surviving rows come from a broadcast anti-join against
    * it — the capped row set itself never pays an exchange. Drops are
    * recorded under `op` (see [[lastCapDrops]]) and WARN-logged with
    * auto-sizing `guidance`, exactly as before.
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
    // sizing reads the un-spread blocks (partial agg needs no width); the
    // bad-bucket list stays LAZY — the audit folds it in one job here and
    // each anti-join branch re-derives it from the materialized blocks
    // (a tiny aggregation; an eager checkpoint of it cost a whole extra
    // job per capped operator call)
    val bad = m0.groupBy(keys: _*).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)
    val d = bad.agg(count(lit(1)).as("b"),
      coalesce(sum("bsz"), lit(0L)).as("r")).head()
    val drops = CapDrops(d.getLong(0), d.getLong(1))
    capDropsByOp.put(op, drops)
    if (drops.droppedRows > 0)
      log.warn(s"$op: maxBucketSize=$cap dropped ${drops.droppedBuckets} " +
        s"bucket(s) / ${drops.droppedRows} row(s) before the self-join — " +
        s"pairs inside them cannot surface from this key. $guidance")
    m.join(broadcast(bad.select(keys: _*)), partCols, "left_anti")
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
    *   band keys (signature slices) → bucket-width cap (buckets with more
    *   than `maxBucketSize` members are skipped — the standard large-scale
    *   guard: a degenerate bucket would otherwise explode the self-join
    *   quadratically; skips are AUDITED — counted, WARN-logged with sizing
    *   guidance, and readable via [[lastCapDrops]]("minHashLsh"), never
    *   silent) → self-join within buckets → EXACT shingle Jaccard on
    *   the candidate pairs only → threshold filter.
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
      maxBucketSize: Int = 64): DataFrame = {
    val bandRows = minHashBandRows(df, textCol, idCol, shingleSize,
      numHashes, bands, seed)

    // bucket-width cap + drop audit, materialized once past the window
    // (localCheckpoint blocks are GC-reclaimed with the plan, unlike
    // registered caches)
    val capped = capBucketsAudited(bandRows, Seq("band", "key"),
      maxBucketSize, "minHashLsh",
      "Dense band keys = low-content docs or too-coarse bands; raise " +
        "maxBucketSize, raise bands (narrower keys), or pre-filter " +
        "near-empty docs.")

    val a = capped.select(col("band"), col("key"), col("_id").as("idA"))
    val b = capped.select(col("band"), col("key"), col("_id").as("idB"))
    // candidates are SMALL by construction (bucket cap bounds the fan-out)
    val cand = a.join(b, Seq("band", "key"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB")
      .dropDuplicates("idA", "idB")
      .localCheckpoint(true)

    // exact verify on candidates only (ADVICE round 1: the threshold must
    // operate on the exact Jaccard, not the signature estimate);
    // jaccardVerify semi-prunes the shingle scan to candidate ids
    jaccardVerify(cand, df, textCol, idCol, shingleSize)
      .filter(col("exact_jaccard") >= minJaccard)
      .select(col("idA"), col("idB"),
        col("inter").cast("long").as("inter"),
        col("uni").cast("long").as("uni"),
        col("exact_jaccard").as("jaccard"))
  }

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

  /** Incremental near-dup: candidate pairs TOUCHING a newly ingested batch
    * — new×new and new×existing, never existing×existing — against a
    * persisted [[minHashBandRows]] store, so each ingested batch pays
    * O(batch) signature hashing and a banded join instead of a full-corpus
    * re-pair. This is the batch-sweep half of the streaming layout
    * completed: [[graft.streaming.StreamingDedup.firstSeen]] gates exact
    * in-window duplicates on the stream; this sweeps each landed batch for
    * near-dups against everything already landed.
    *
    * Exactness contract (spec-pinned): with the bucket cap evaluated on
    * the UNION store (old ∪ new rows — identical widths to a full batch
    * run), the result equals `minHashLsh(corpus ∪ newDocs)` restricted to
    * pairs with at least one new id. Requires ids unique across
    * corpus ∪ newDocs and the same hash-family parameters as the store.
    * Chained sweeps telescope — sweep(b1 vs ∅) ∪ sweep(b2 vs store(b1))
    * ∪ … equals one full run (spec-pinned) — EXCEPT pairs whose bucket
    * was under `maxBucketSize` at their sweep but crosses the cap later:
    * a full re-run would skip those (the cap is evaluated against each
    * sweep's union store, and earlier sweeps are never revisited).
    *
    * `corpus` supplies text for the exact-Jaccard verify only — it is
    * scanned (two pruned joins on candidate ids), never re-hashed and
    * never self-joined. Append `minHashBandRows(newDocs)` to the store
    * after each sweep.
    */
  def minHashLshIncremental(newDocs: DataFrame, corpus: DataFrame,
      bandStore: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.8, seed: Long = 42L,
      maxBucketSize: Int = 64): DataFrame = {
    val newRows = minHashBandRows(newDocs, textCol, idCol, shingleSize,
      numHashes, bands, seed)
    val all = bandStore.select(col("_id"), col("band"), col("key"))
      .withColumn("isNew", lit(false))
      .union(newRows.withColumn("isNew", lit(true)))
    // one audited materialization past the cap window — both join branches
    // (new side, all side) read it; see minHashLsh
    val capped = capBucketsAudited(all, Seq("band", "key"), maxBucketSize,
      "minHashLshIncremental",
      "The cap is evaluated on the UNION store — widths only grow across " +
        "sweeps; raise maxBucketSize or bands before the store gets dense.")
    val a = capped.filter(col("isNew"))
      .select(col("band"), col("key"), col("_id").as("idN"))
    val b = capped.select(col("band"), col("key"), col("_id").as("idO"))
    val cand = a.join(b, Seq("band", "key"))
      .filter(col("idN") =!= col("idO"))
      .select(least(col("idN"), col("idO")).as("idA"),
        greatest(col("idN"), col("idO")).as("idB"))
      .dropDuplicates("idA", "idB")
      .localCheckpoint(true)
    val text = corpus.select(col(idCol), col(textCol))
      .union(newDocs.select(col(idCol), col(textCol)))
    jaccardVerify(cand, text, textCol, idCol, shingleSize)
      .filter(col("exact_jaccard") >= minJaccard)
      .select(col("idA"), col("idB"), col("inter").cast("long").as("inter"),
        col("uni").cast("long").as("uni"),
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
        when(col("uni") > 0, col("inter").cast("double") / col("uni")).otherwise(0.0))
      .drop("shA", "shB")
  }

  /** Embedding-cosine near-dup pairs — the vector-space sibling of
    * minHashLsh: SRP buckets (Similarity.SrpModel — pure functions of
    * (seed, bit, i)) block the corpus, buckets wider than `maxBucketSize`
    * are skipped (the same degenerate-key guard as the other dedup ops),
    * and candidates within a bucket verify with EXACT cosine against the
    * threshold. Returns (idA, idB, cosine) with idA < idB.
    *
    * Recall: a pair whose vectors straddle one SRP hyperplane lands in
    * buckets at Hamming distance 1 and would be invisible to exact-bucket
    * blocking. `probeHamming = 1` (default) closes that: each row is ALSO
    * emitted under its 1-bit-flip neighbor buckets, but ONLY the flips
    * that are numerically greater than home (bit 0 -> 1) — a Hamming-1
    * pair's two buckets differ in exactly one bit, so the lower-bucket row
    * probes the higher-bucket row's home exactly once and the reverse
    * direction never materializes (vs emitting all nBits flips and
    * discarding half the matches at the id filter: expected probe fan-out
    * drops from nBits to nBits/2 per row and the join never sees the
    * mirror-image candidates at all). Probe matches re-canonicalize with
    * least/greatest on ids; cosine is evaluated on (va, vb) as joined —
    * bit-identical either way since every per-element product and the
    * final sqrt(na)*sqrt(nb) are commutative. `probeHamming = 0` is plain
    * exact-bucket blocking; `probeHamming = 2` additionally probes every
    * 2-bit XOR mask (C(nBits, 2) extra probes per row, upward-only as
    * well) — a pair's buckets differ by exactly ONE mask, so every route
    * stays unique and no dedup pass is needed at any probe depth. The
    * width cap applies to HOME buckets before expansion, and drops are
    * audited (WARN + [[lastCapDrops]]("embeddingNearDupPairs")): the
    * 2^nBits key space is fixed, so at growing corpus size n size
    * `nBits >= log2(n / maxBucketSize)` to keep the expected bucket width
    * n/2^nBits under the cap — the default nBits=6 is sized for test-scale
    * corpora, NOT for 100-TB row counts. Every arithmetic
    * step is an explicit-order double fold, so the DuckDB oracle replays
    * the identical output set bit-identically (the oracle constrains
    * bucket Hamming distance, not probe direction, so it is unchanged by
    * this optimization).
    */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, nBits: Int = 6, seed: Long = 42L, minCosine: Double = 0.3,
      maxBucketSize: Int = 256, probeHamming: Int = 1): DataFrame = {
    import graft.ops.Similarity
    require(probeHamming <= 2, "probe ring supports Hamming <= 2")
    val bucketed = Similarity.withSrpBucket(df, vecCol, dim, nBits, seed)
      .select(col(idCol).as("_id"), col("srp_bucket"), col(vecCol).as("_v"))
    // audited cap, materialized once: the self-join would otherwise re-run
    // the bucket UDF + cap window on BOTH branches (same trick as
    // minHashLsh's candidate materialization)
    val capped = capBucketsAudited(bucketed, Seq("srp_bucket"),
      maxBucketSize, "embeddingNearDupPairs",
      "The 2^nBits key space is FIXED — expected bucket width is " +
        "n/2^nBits, so grow nBits with the corpus: " +
        "nBits >= log2(n / maxBucketSize).",
      // the b side broadcasts under AQE, so the probe side's cosine work
      // parallelizes only as wide as these blocks — spread when narrow
      spreadIfNarrow = true)
    val b = capped.select(col("srp_bucket"), col("_id").as("idB"), col("_v").as("vb"))
    val cosU = exactCosineUdf
    val aHome = capped.select(col("srp_bucket"), col("_id").as("idA"), col("_v").as("va"))
    val homeCand = aHome.join(b, Seq("srp_bucket"))
      .filter(col("idA") < col("idB"))
      .withColumn("cosine", cosU(col("va"), col("vb")))
      .select("idA", "idB", "cosine")
    val cand = if (probeHamming >= 1) {
      // upward-only probing: each Hamming-d bucket pair differs by exactly
      // one XOR mask, and the probe > home filter keeps only the flip
      // emitted from the pair's LOWER bucket — enumerated exactly once
      val masks: Seq[Long] = (0 until nBits).map(b => 1L << b) ++
        (if (probeHamming >= 2)
          for { i <- 0 until nBits; j <- i + 1 until nBits }
            yield (1L << i) | (1L << j)
        else Seq.empty)
      val flips = masks.map(m => col("home").bitwiseXOR(lit(m)))
      val aProbe = capped
        .select(col("srp_bucket").as("home"), col("_id").as("idA"), col("_v").as("va"))
        .select(explode(array(flips: _*)).as("srp_bucket"), col("home"),
          col("idA"), col("va"))
        .filter(col("srp_bucket") > col("home"))
        .drop("home")
      val probeCand = aProbe.join(b, Seq("srp_bucket"))
        .filter(col("idA") =!= col("idB"))
        .withColumn("cosine", cosU(col("va"), col("vb")))
        .select(least(col("idA"), col("idB")).as("idA"),
          greatest(col("idA"), col("idB")).as("idB"), col("cosine"))
      homeCand.union(probeCand)
    } else homeCand
    cand.filter(col("cosine") >= minCosine)
  }

  /** Incremental embedding near-dup — the vector-space sibling of
    * [[minHashLshIncremental]]: candidate pairs touching a newly ingested
    * batch against a persisted SRP-bucket store, which is EXACTLY the
    * (id, srp_bucket, vec) table [[Similarity.withSrpBucket]] produces and
    * `lshKnn` already materializes `partitionBy("srp_bucket")` — one
    * persisted table serves both ANN search and incremental dedup. SRP
    * buckets are pure functions of (seed, vector), so unlike the ngram
    * join's df-dependent prefix order the store never goes stale.
    *
    * New rows probe ALL nBits 1-bit flips (both directions — the stored
    * side does not probe back), pairs canonicalize with least/greatest and
    * dedup, the width cap applies to UNION home-bucket widths; the result
    * equals `embeddingNearDupPairs(corpus ∪ newDocs, probeHamming = 1)`
    * restricted to pairs with at least one new id (spec-pinned). Ids must
    * be unique across store ∪ newDocs.
    */
  def embeddingNearDupIncremental(newDocs: DataFrame, bucketStore: DataFrame,
      vecCol: String, idCol: String, dim: Int, nBits: Int = 6,
      seed: Long = 42L, minCosine: Double = 0.3,
      maxBucketSize: Int = 256): DataFrame = {
    import graft.ops.Similarity
    val newRows = Similarity.withSrpBucket(newDocs, vecCol, dim, nBits, seed)
      .select(col(idCol).as("_id"), col("srp_bucket"), col(vecCol).as("_v"),
        lit(true).as("isNew"))
    val all = bucketStore
      .select(col(idCol).as("_id"), col("srp_bucket"), col(vecCol).as("_v"),
        lit(false).as("isNew"))
      .union(newRows)
    // one audited materialization past the cap window — both join branches
    // read it
    val capped = capBucketsAudited(all, Seq("srp_bucket"), maxBucketSize,
      "embeddingNearDupIncremental",
      "The cap applies to UNION home-bucket widths, which only grow as " +
        "batches land; grow nBits with the corpus " +
        "(nBits >= log2(n / maxBucketSize)) and rebuild the store.")
    val cosU = exactCosineUdf
    val b = capped.select(col("srp_bucket"), col("_id").as("idO"),
      col("_v").as("vb"))
    val flips = (0 until nBits).map(bb =>
      col("srp_bucket").bitwiseXOR(lit(1L << bb)))
    val aNew = capped.filter(col("isNew"))
      .select(explode(array((col("srp_bucket") +: flips): _*)).as("srp_bucket"),
        col("_id").as("idN"), col("_v").as("va"))
    aNew.join(b, Seq("srp_bucket"))
      .filter(col("idN") =!= col("idO"))
      // canonicalize and dedup BEFORE the cosine UDF: new×new pairs are
      // enumerated from both sides and would pay the verify twice
      .select(least(col("idN"), col("idO")).as("idA"),
        greatest(col("idN"), col("idO")).as("idB"), col("va"), col("vb"))
      .dropDuplicates("idA", "idB")
      .withColumn("cosine", cosU(col("va"), col("vb")))
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
    * [[embeddingNearDupPairs]]'s SRP bucket as the blocking key, which is
    * the paper's exact shape: cluster once, compare only inside clusters,
    * prune one side of every pair above the cosine threshold (feed the
    * output to [[survivorsFromPairs]] / [[connectedComponents]] like any
    * other pair table).
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
      minCosine: Double = 0.9, maxClusterSize: Int = 1024): DataFrame = {
    val rows = clustered.select(col(clusterCol).as("_cl"),
      col(idCol).as("_id"), col(vecCol).as("_v"))
    val capped = capBucketsAudited(rows, Seq("_cl"), maxClusterSize,
      "semanticNearDupPairs",
      "Cluster count k is the blocking knob — grow it with the corpus " +
        "(k >= n / maxClusterSize on average) and re-train the coarse " +
        "quantizer when clusters overflow.")
    val a = capped.select(col("_cl"), col("_id").as("idA"), col("_v").as("va"))
    val b = capped.select(col("_cl"), col("_id").as("idB"), col("_v").as("vb"))
    a.join(b, Seq("_cl"))
      .filter(col("idA") < col("idB"))
      .withColumn("cosine", exactCosineUdf(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("_cl").as("cluster"), col("idA"), col("idB"), col("cosine"))
  }

  /** Incremental SemDeDup — the cluster-blocked sibling of
    * [[embeddingNearDupIncremental]]: candidate pairs touching a newly
    * ingested batch against a persisted cluster store, which is EXACTLY
    * the (id, cluster, vec) table `Similarity.withIvfCluster` produces
    * and IVF ANN already materializes `partitionBy(ivf_cluster)` — one
    * persisted table serves ANN probes, batch semantic dedup AND this
    * sweep. The quantizer is FROZEN (centroids are a pure function
    * passed in as `model`), so cluster assignment of stored rows never
    * goes stale — the same property that lets the SRP store persist,
    * and the reason the k-means is trained offline in the SemDeDup
    * deployment shape.
    *
    * New rows assign through the frozen model, join the capped UNION
    * store within their cluster, canonicalize with least/greatest, and
    * dedup BEFORE the cosine verify (new×new pairs enumerate from both
    * sides). The result equals `semanticNearDupPairs(store ∪ batch)`
    * restricted to pairs with at least one new id (spec-pinned). Ids
    * must be unique across store ∪ batch.
    */
  def semanticNearDupIncremental(newDocs: DataFrame, clusterStore: DataFrame,
      vecCol: String, idCol: String, model: graft.ops.Similarity.IvfModel,
      clusterCol: String = "ivf_cluster", minCosine: Double = 0.9,
      maxClusterSize: Int = 1024): DataFrame = {
    import graft.ops.Similarity
    val newRows = Similarity.withIvfCluster(newDocs, vecCol, model)
      .select(col("ivf_cluster").as("_cl"), col(idCol).as("_id"),
        col(vecCol).as("_v"), lit(true).as("isNew"))
    val all = clusterStore
      .select(col(clusterCol).as("_cl"), col(idCol).as("_id"),
        col(vecCol).as("_v"), lit(false).as("isNew"))
      .union(newRows)
    val capped = capBucketsAudited(all, Seq("_cl"), maxClusterSize,
      "semanticNearDupIncremental",
      "The cap applies to UNION cluster widths, which only grow as " +
        "batches land; grow k and re-train the frozen quantizer " +
        "(k >= n / maxClusterSize on average), then rebuild the store.")
    val a = capped.filter(col("isNew"))
      .select(col("_cl"), col("_id").as("idN"), col("_v").as("va"))
    val b = capped.select(col("_cl"), col("_id").as("idO"), col("_v").as("vb"))
    a.join(b, Seq("_cl"))
      .filter(col("idN") =!= col("idO"))
      .select(col("_cl"), least(col("idN"), col("idO")).as("idA"),
        greatest(col("idN"), col("idO")).as("idB"), col("va"), col("vb"))
      .dropDuplicates("idA", "idB")
      .withColumn("cosine", exactCosineUdf(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("_cl").as("cluster"), col("idA"), col("idB"), col("cosine"))
  }

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
    val sets = df.select(col(idCol).cast("long").as("_id"),
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
        least(col("szA"), col("szB")).cast("double") >=
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
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni",
        (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= minJaccard)
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

  /** Per-document duplicate-substring coverage: how many of a document's
    * token positions fall inside at least one cross-document duplicated
    * L-token window ([[duplicateSubstrings]]) — the contamination score
    * substring-level dedup acts on (drop or trim documents whose
    * duplicated fraction is high). Output `(doc_id, n_tokens,
    * n_dup_tokens)`; the fraction is left to the caller so every column
    * stays integral (cross-engine-exact).
    *
    * Shape: the hash-surviving candidate windows materialize ONCE and feed
    * BOTH the exact gram aggregation and the covered-position join (the
    * corpus-wide window stream itself is never persisted — only windows
    * whose 8-byte hash already occurs in >= minDocs documents, the
    * duplication-bounded set; round 5 recomputed the full window UDF scan
    * for the join, a third pass over the corpus). A window joins the
    * duplicated-gram set by exact gram text; covered positions explode per
    * surviving window only, then one distinct + count per document.
    */
  def duplicateSpanCoverage(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val cand = dupCandidateWindows(df, textCol, idCol, windowTokens, minDocs)
      .localCheckpoint(true)
    val dupGrams = dupGramAgg(cand, minDocs).select("gram")
    val covered = cand.join(dupGrams, "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos"),
          col("pos") + lit(windowTokens - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_dup_tokens"))
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
    * Shape: covered positions aggregate to one per-doc int array
    * (bounded by doc length), which joins back by id — only CONTAMINATED
    * documents appear on that side, so at web scale (duplication is the
    * exception) AQE broadcasts it and the corpus text never shuffles.
    * The positional filter is an array_contains per token; fine while
    * covered arrays are doc-bounded (they are, by construction).
    */
  def trimDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    // shared candidate phase materialized once for the gram aggregation
    // and the covered-position join — see duplicateSpanCoverage
    val cand = dupCandidateWindows(df, textCol, idCol, windowTokens, minDocs)
      .localCheckpoint(true)
    val dupGrams = dupGramAgg(cand, minDocs).select("gram")
    val covered = cand.join(dupGrams, "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos"),
          col("pos") + lit(windowTokens - 1))).as("p"))
      .distinct()
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
    * Algorithm: min-label propagation with pointer jumping — each round
    * (a) takes the min label over neighbors, (b) compresses label chains
    * (label := label(label)), so convergence is O(log diameter) rounds,
    * not O(diameter); each round is two hash joins + an aggregation, all
    * keyed on ids (the 100 TB shape — no adjacency ever materializes on
    * one node). Deterministic: min() fixpoints are unique, so partitioning
    * and round count cannot change the answer. Iteration caps at `maxIter`
    * with a convergence check per round (a filter-isEmpty scan of the
    * round's checkpointed blocks — no extra join; rounds are bounded by
    * log diameter, in practice 3-5 for near-dup clusters); reaching the
    * cap unconverged throws IllegalStateException rather than return
    * labels that split components.
    *
    * Returns (id, label) for every id appearing in `pairs`; singletons
    * (docs with no dup pair) are absent by construction — callers keep the
    * corpus where it is and left-join.
    */
  def connectedComponents(pairs: DataFrame, idACol: String, idBCol: String,
      maxIter: Int = 25): DataFrame = {
    requireIntegralId(pairs, idACol, "connectedComponents")
    requireIntegralId(pairs, idBCol, "connectedComponents")
    // ONE eager materialization covers the caller's pair pipeline AND the
    // mirrored edge list: explode emits both directions in a single pass
    // (the former p.union(p.swap) read the pair plan from two branches and
    // so needed pairs checkpointed separately first — two jobs, two
    // materialized copies). No distinct: min() is duplicate-insensitive.
    // The explicit hash partitioning on dst is PRESERVED by the checkpoint
    // (LogicalRDD keeps the physical plan's outputPartitioning), so every
    // round's neighbor join reads the — at scale, large — edge table in
    // place and only the label table moves: the per-round edge re-shuffle
    // this loop used to pay is replaced by one shuffle at build time
    // (guide §2.4, keyed operations share one exchange).
    val edges = pairs
      .select(col(idACol).cast("long").as("src"),
        col(idBCol).cast("long").as("dst"))
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .repartition(col("dst"))
      .localCheckpoint(true)
    // seed labels with round 1's neighbor-min for free: one aggregation
    // over the edge list replaces BOTH the distinct-ids materialization
    // and the first loop round's three joins (label(v) = min(v, min
    // neighbor) is exactly what round 1 would compute from identity
    // labels); the min-label fixpoint is unique, so seeding cannot change
    // the result, only the round count. The groupBy(src) output is
    // hash-partitioned on id after the alias (alias-aware partitioning),
    // so the first round's label-side joins start co-partitioned.
    var labels = edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("id"), col("label"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    val ccDebug = sys.env.contains("GRAFT_CC_DEBUG")
    while (!converged && iter < maxIter) {
      val tRound = System.nanoTime()
      // (a) neighbor-min: the smallest label among me and my neighbors
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("nlabel"))
      // carry the pre-round label through as `prev` so the convergence
      // check is a scan of the checkpointed result, not a third join
      val propagated = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // (b) pointer jump: label := label(label) — compresses label chains
      // so a long path converges logarithmically. The jump table reads the
      // POST-neighbor-min labels (propagated), not the round's input:
      // fresher pointers contract strictly further per round, and any
      // intermediate label state reaches the same unique min-label
      // fixpoint. (A second jump per round was measured on the real
      // SemDeDup graphs: round count stayed at 6 — their decay is limited
      // by plateau-rooted neighbor-min propagation, not pointer chains —
      // so the extra label-keyed self-join was pure cost and is not done.)
      val byLabel = propagated
        .select(col("id").as("label"), col("label").as("jump"))
      val next = propagated.join(byLabel, Seq("label"), "left")
        .select(col("id"), col("prev"),
          least(col("label"), coalesce(col("jump"), col("label"))).as("label"))
        // labels leave each round hash-partitioned on id (preserved by the
        // checkpoint): the next round's neighbor join (id renamed dst) and
        // propagated join both start co-partitioned — the rename is alias-
        // aware, so neither re-shuffles the label table
        .repartition(col("id"))
        .localCheckpoint(true)
      converged = next.filter(col("label") =!= col("prev")).isEmpty
      labels = next.select(col("id"), col("label"))
      iter += 1
      if (ccDebug) {
        val changed = next.filter(col("label") =!= col("prev")).count()
        println(f"[cc] round $iter ${(System.nanoTime() - tRound) / 1e9}%.3f s converged=$converged changed=$changed")
      }
    }
    // unconverged labels split components silently; `converged` is the
    // last round's own check, so failing here costs no extra Spark job
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter = $maxIter rounds")
    labels
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
    * the same guard minHashLsh applies: degenerate chunk keys (e.g. every
    * near-empty doc simhashes to 0, so all four of its chunk keys collide)
    * would otherwise self-join quadratically at scale. Pairs inside a
    * skipped bucket can still surface via one of their three other chunks.
    */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 64): DataFrame = {
    val withSim = simHash(df, textCol, idCol)
      .select(col(idCol).as("_id"), col("simhash"))
    val chunked = withSim.select(col("_id"), col("simhash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL).as("key"))
      }: _*)).as("ck"))
      .select(col("_id"), col("simhash"), col("ck.chunk"), col("ck.key"))
    // audited cap, materialized once: the self-join reads capped chunks
    // from two plan branches — without this the simhash UDF + explode +
    // cap window subtree runs twice (same fix as ngramJaccardPairs /
    // minHashLsh)
    val capped = capBucketsAudited(chunked, Seq("chunk", "key"),
      maxBucketSize, "simHashPairs",
      "Dense chunk keys usually mean degenerate simhashes (near-empty " +
        "docs all hash to 0); pre-filter them or raise maxBucketSize — " +
        "a capped pair can still surface via its three other chunks.")
    val a = capped.select(col("chunk"), col("key"),
      col("_id").as("idA"), col("simhash").as("simA"))
    val b = capped.select(col("chunk"), col("key"),
      col("_id").as("idB"), col("simhash").as("simB"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("idA") < col("idB"))
      .dropDuplicates("idA", "idB")
      .withColumn("hamming", hamming(col("simA"), col("simB")))
      .filter(col("hamming") <= maxHamming)
      .select("idA", "idB", "hamming")
  }

  /** Incremental SimHash near-dup — completes the incremental trio
    * ([[minHashLshIncremental]], [[embeddingNearDupIncremental]]): the
    * persisted store is simply the (id, simhash) table [[simHash]]
    * produces — ONE long per doc, the cheapest of the three stores — and
    * each ingested batch hashes only itself, chunks new∪old, and joins
    * new chunk rows against the union. Equals
    * `simHashPairs(corpus ∪ newDocs)` restricted to pairs touching a new
    * id, with the width cap evaluated on union chunk-bucket widths
    * (spec-pinned); ids must be unique across store ∪ newDocs.
    */
  def simHashIncremental(newDocs: DataFrame, simHashStore: DataFrame,
      textCol: String, idCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = 64): DataFrame = {
    val withSim = simHash(newDocs, textCol, idCol)
      .select(col(idCol).as("_id"), col("simhash"), lit(true).as("isNew"))
    val all = simHashStore
      .select(col(idCol).as("_id"), col("simhash"), lit(false).as("isNew"))
      .union(withSim)
    val chunked = all.select(col("_id"), col("simhash"), col("isNew"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL).as("key"))
      }: _*)).as("ck"))
      .select(col("_id"), col("simhash"), col("isNew"),
        col("ck.chunk"), col("ck.key"))
    // one audited materialization past the cap window — both join branches
    // read it
    val capped = capBucketsAudited(chunked, Seq("chunk", "key"),
      maxBucketSize, "simHashIncremental",
      "The cap is evaluated on union chunk-bucket widths, which only " +
        "grow across sweeps; pre-filter degenerate docs or raise " +
        "maxBucketSize before the store gets dense.")
    val a = capped.filter(col("isNew")).select(col("chunk"), col("key"),
      col("_id").as("idN"), col("simhash").as("simN"))
    val b = capped.select(col("chunk"), col("key"),
      col("_id").as("idO"), col("simhash").as("simO"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("idN") =!= col("idO"))
      .select(least(col("idN"), col("idO")).as("idA"),
        greatest(col("idN"), col("idO")).as("idB"),
        // hamming is symmetric, so the (simN, simO) orientation is moot
        hamming(col("simN"), col("simO")).as("hamming"))
      .dropDuplicates("idA", "idB")
      .filter(col("hamming") <= maxHamming)
      .select("idA", "idB", "hamming")
  }
}
