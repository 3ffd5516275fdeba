package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Sequence packing and token chunking — the two layout operators an LLM
  * training-data pipeline runs after curation: pack documents into
  * fixed-token-budget training sequences (the GPT-style
  * concatenate-then-chunk shape) and cut long documents into overlapping
  * fixed-size token windows (the context-window / retrieval-chunk shape).
  *
  * Both are BIGINT-only arithmetic over whitespace tokens, so any engine
  * replays them bit-exactly (the driver's DuckDB oracle does).
  */
object Packing {

  /** Whitespace tokens (single-space split, nonempty) — the token
    * definition the DuckDB oracle replays with
    * `list_filter(string_split(text,' '), x -> x <> '')`.
    */
  private def wsTokens(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  /** Assign every document the training sequence it STARTS in when the
    * corpus is concatenated in `idCol` order and cut into `seqLen`-token
    * sequences. Output per input row:
    *
    *   (idCol, n_tokens, tok_before, seq_id, seq_off)
    *
    * where `tok_before` is the EXACT count of tokens preceding the
    * document in the global concatenation, `seq_id = tok_before div
    * seqLen` and `seq_off = tok_before % seqLen`. All BIGINT — exact in
    * any engine, any parallelism.
    *
    * 100-TB shape: the global prefix sum is a TWO-LEVEL SCAN, never a
    * single-partition window. Documents are bucketed by an id-derived
    * range (`(id - min) div width` — a pure function of the id, so
    * bucketing can never drift between jobs), per-bucket token sums are
    * collected (`numRanges` rows — tiny) and folded into per-bucket
    * offsets broadcast back as a literal map; the within-bucket cumsum is
    * a window partitioned by bucket. Only (id, n_tokens) shuffles — text
    * never moves. Output is invariant to `numRanges` and to the input's
    * partitioning: bucket boundaries move work, never results.
    *
    * Requires an integral id column (same contract and fail-fast guard
    * as [[Dedup]]'s id-keyed ops; null ids additionally rejected at run
    * time — a null has no position in the concatenation order). Uniform
    * id-range buckets assume roughly dense ids; for sparse/clustered id
    * spaces raise `numRanges` or pre-densify ids.
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      seqLen: Long, numRanges: Int = 32): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    prefixSums(df, textCol, idCol, numRanges, "packSequences")
      .select(col("_id").as(idCol), col("n_tokens"), col("tok_before"),
        expr(s"tok_before div ${seqLen}L").as("seq_id"),
        (col("tok_before") % lit(seqLen)).as("seq_off"))
  }

  /** The manifest a sequence-packing trainer actually consumes: one row
    * per (document, training sequence it overlaps), for the same
    * concatenate-then-chunk layout as [[packSequences]] — a document
    * whose tokens straddle a `seqLen` boundary contributes a segment to
    * EACH sequence it covers. Output:
    *
    *   (idCol, seq_id, doc_off, seq_off, take_len)
    *
    * = "sequence seq_id takes take_len tokens of this document starting
    * at doc token doc_off, placing them at sequence position seq_off".
    * Invariants (spec-pinned): per-document take_len sums to the
    * document's token count; per-sequence take_len sums to seqLen for
    * every sequence but the last. Zero-token documents contribute no
    * rows. Same exact two-level prefix-sum scan as [[packSequences]];
    * the per-covered-sequence fan-out is a map-side sequence+explode.
    */
  def packManifest(df: DataFrame, textCol: String, idCol: String,
      seqLen: Long, numRanges: Int = 32): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val L = lit(seqLen)
    prefixSums(df, textCol, idCol, numRanges, "packManifest")
      .filter(col("n_tokens") > 0)
      .withColumn("seq_id", explode(sequence(
        expr(s"tok_before div ${seqLen}L"),
        expr(s"(tok_before + n_tokens - 1) div ${seqLen}L"))))
      .select(col("_id").as(idCol), col("seq_id"),
        greatest(col("seq_id") * L - col("tok_before"), lit(0L))
          .as("doc_off"),
        greatest(col("tok_before") - col("seq_id") * L, lit(0L))
          .as("seq_off"),
        (least(col("tok_before") + col("n_tokens"), (col("seq_id") + 1) * L)
          - greatest(col("tok_before"), col("seq_id") * L)).as("take_len"))
  }

  /** Shared prefix-sum core: (_id, n_tokens, tok_before) with tok_before
    * the exact global prefix sum in id order (see [[packSequences]] for
    * the two-level scan shape and its guards).
    */
  private def prefixSums(df: DataFrame, textCol: String, idCol: String,
      numRanges: Int, op: String): DataFrame = {
    require(numRanges > 0, "numRanges must be positive")
    Dedup.requireIntegralId(df, idCol, op)
    val counted = df.select(col(idCol).cast(LongType).as("_id"),
      size(wsTokens(col(textCol))).cast(LongType).as("n_tokens"))
    val Array(minId, maxId, nRows, nIds) = counted.agg(
        min("_id"), max("_id"), count(lit(1)), count(col("_id")))
      .collect()(0) match {
        case r if r.isNullAt(0) => Array(0L, 0L, r.getLong(2), r.getLong(3))
        case r => Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    require(nRows == nIds,
      s"$op requires non-null ids: ${nRows - nIds} of $nRows " +
        s"rows have a null '$idCol' (no position in concatenation order)")
    if (nRows == 0L)
      return counted.withColumn("tok_before", col("n_tokens"))
    val width = math.max(1L, (maxId - minId) / numRanges + 1L)
    // integer `div`, not Column./ (double division truncates fine at test
    // scale but loses precision past 2^53 — a misbucketed id would break
    // the bucket/order alignment the prefix sum relies on)
    val bucketed = counted.withColumn("_bkt",
      expr(s"(_id - ${minId}L) div ${width}L"))
    // per-bucket totals: map-side partial agg -> <= numRanges rows
    val sums = bucketed.groupBy("_bkt").agg(sum("n_tokens").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = sums.scanLeft((-1L, 0L)) {
      case ((_, acc), (b, s)) => (b, acc + s)
    }.sliding(2).map { case Array((_, off), (b, _)) => (b, off) }.toMap
    val offCol = element_at(
      typedLit(offsets), col("_bkt")) // literal map: no second shuffle
    val w = Window.partitionBy("_bkt").orderBy("_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("tok_before",
        offCol + coalesce(sum("n_tokens").over(w), lit(0L)))
      .select("_id", "n_tokens", "tok_before")
  }

  /** Materialize the packed training sequences [[packManifest]]
    * describes — the table a trainer actually reads: join the manifest
    * back to the documents, slice each segment from its document's token
    * stream, and assemble every sequence's tokens in seq_off order.
    * Output: (seq_id, n_seq_tokens, seq_text); every sequence carries
    * exactly `seqLen` tokens except the final one.
    *
    * 100-TB shape: the manifest↔docs join is id-keyed (each document's
    * text moves once, segments slice map-side); the only other exchange
    * keys on seq_id and each group assembles <= seqLen tokens. Segment
    * order inside a sequence is restored with sort_array over
    * (seq_off, part) structs — collect_list is not order-stable,
    * sort_array is deterministic (offsets are distinct by construction).
    */
  def materializeSequences(df: DataFrame, textCol: String, idCol: String,
      seqLen: Long, numRanges: Int = 32): DataFrame = {
    val manifest = packManifest(df, textCol, idCol, seqLen, numRanges)
    val docs = df.select(col(idCol), wsTokens(col(textCol)).as("_toks"))
    manifest.join(docs, Seq(idCol))
      .select(col("seq_id"), struct(col("seq_off"),
        slice(col("_toks"), (col("doc_off") + 1).cast(IntegerType),
          col("take_len").cast(IntegerType)).as("part")).as("_seg"))
      .groupBy("seq_id")
      .agg(sort_array(collect_list(col("_seg"))).as("_segs"))
      .select(col("seq_id"),
        flatten(transform(col("_segs"), s => s.getField("part"))).as("_st"))
      .select(col("seq_id"), size(col("_st")).cast(IntegerType).as("n_seq_tokens"),
        array_join(col("_st"), " ").as("seq_text"))
  }

  /** Cut each document's token stream into fixed-size windows: starts at
    * 0, stride, 2*stride, … with the last window the first one whose end
    * reaches the document's end (so every token is covered and no window
    * starts past the end; `stride < chunkSize` gives overlapping
    * windows). Documents with zero tokens produce zero rows. Output:
    *
    *   (idCol, chunk_id, n_chunk_tokens, chunk_text)
    *
    * Map-only, expression-only (split/sequence/explode/slice — all
    * codegen'd): no shuffle, trivially parallel at any scale.
    */
  def tokenChunks(df: DataFrame, textCol: String, idCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      "stride must be in [1, chunkSize]")
    val withT = df
      .select(col(idCol), wsTokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")).cast(LongType))
      .filter(col("_n") > 0)
    val lastStart = when(col("_n") <= chunkSize, lit(0L)).otherwise(
      expr(s"((_n - $chunkSize + $stride - 1) div $stride) * ${stride}L"))
    val chunk = slice(col("_toks"), (col("_start") + 1).cast(IntegerType),
      lit(chunkSize))
    withT
      .withColumn("_start",
        explode(sequence(lit(0L), lastStart, lit(stride.toLong))))
      .select(col(idCol),
        expr(s"_start div ${stride}L").as("chunk_id"),
        size(chunk).cast(IntegerType).as("n_chunk_tokens"),
        array_join(chunk, " ").as("chunk_text"))
  }
}
