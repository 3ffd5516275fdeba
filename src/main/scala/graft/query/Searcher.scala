package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.EditDistance
import graft.index.{Hashing, IndexSchemas, PostingCodec, Snapshot, SnapshotMeta}

/** Top-k BM25 search over a committed index snapshot.
  *
  * Public entry points open a cached IndexReader, which serves from one of
  * three tiers (see IndexReader): driver-cached posting lists for small
  * indexes, a coordinator's byte-budgeted cache of fetched term shards for
  * larger ones, and persisted-Dataset scatter-gather past that budget. The
  * exact scorer below is the independent rank-parity oracle: it reads
  * segment parquet directly (partition-pruned by bucket, term-pushdown),
  * decodes every posting, and aggregates with the identical BM25 kernel +
  * term-ordered summation.
  */
object Searcher {

  final case class TermStats(term: String, df: Long, maxTf: Int, numSalts: Int)

  /** Analyzed, dictionary-resolved query. */
  final case class ResolvedQuery(terms: Seq[TermStats], meta: SnapshotMeta) {
    def bm25 = BM25(meta.k1, meta.b)
    def saltFanout: Int = if (terms.isEmpty) 1 else terms.map(_.numSalts).max
  }

  def resolve(spark: SparkSession, indexDir: String, queryText: String,
      fuzzy: Boolean = false): ResolvedQuery =
    IndexReader.open(spark, indexDir).resolve(queryText, fuzzy)

  /** Top-k via block-max WAND. Returns (rank, doc_id, score). */
  def search(spark: SparkSession, indexDir: String, queryText: String,
      k: Int, fuzzy: Boolean = false): DataFrame =
    IndexReader.open(spark, indexDir).search(queryText, k, fuzzy)

  def searchHits(spark: SparkSession, indexDir: String,
      rq: ResolvedQuery, k: Int): Array[Hit] =
    IndexReader.open(spark, indexDir).searchHits(rq, k)

  /** Distributed scatter-gather WAND over a segments Dataset: one task per
    * salt shard of the query's hottest term; each task owns the doc subset
    * `mix64(docId) & (S-1) == task` and runs the shared Wand kernel; the
    * per-task top-k heaps (disjoint doc sets) merge on the driver.
    */
  private[query] def searchDistributed(spark: SparkSession,
      segs: Dataset[(String, Int, Int, Int, Array[Byte])],
      rq: ResolvedQuery, k: Int): Array[Hit] = {
    import spark.implicits._
    val meta = rq.meta
    val bm25 = rq.bm25
    val sQ = rq.saltFanout
    val idf = rq.terms.map(t => t.term -> bm25.idf(t.df, meta.numDocs)).toMap
    val termNames = rq.terms.map(_.term)
    val idfB = spark.sparkContext.broadcast(idf)
    val perTask: Array[Hit] = segs
      .filter(col("term").isin(termNames: _*))
      .flatMap { case (term, salt, numSalts, maxTf, postings) =>
        (0 until sQ).iterator
          .filter(task => (task & (numSalts - 1)) == salt)
          .map(task => (task, term, maxTf, postings))
      }
      .groupByKey(_._1)
      .flatMapGroups { (task, it) =>
        val shards = it.map { case (_, term, maxTf, postings) =>
          TermShard(term, idfB.value(term), maxTf, postings)
        }.toSeq
        val owns: Long => Boolean =
          if (sQ == 1) _ => true
          else d => Hashing.saltOf(d, sQ) == task
        Wand.topK(shards, k, bm25, owns, meta.avgDocLen).iterator
      }
      .collect()
    perTask.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** ES-style fuzzy expansion as ONE Spark job over the dictionary parquet
    * for any number of tokens — the large-vocabulary twin of FuzzyExpand
    * (auto:4,7 edit budget, first char fixed, <=50 expansions per token
    * preferring smaller edit distance then higher df), keyed by token.
    */
  private[query] def fuzzyExpandByToken(spark: SparkSession,
      dict: DataFrame, tokens: Seq[String]): Map[String, Seq[TermStats]] = {
    if (tokens.isEmpty) return Map.empty
    val exact = tokens.filter(t => EditDistance.autoFuzzyEdits(t.length) == 0)
    val fuzzyToks = tokens.filter(t => EditDistance.autoFuzzyEdits(t.length) > 0)

    val exactStats: Seq[(String, TermStats, Int)] =
      if (exact.isEmpty) Seq.empty
      else dict.filter(col("term").isin(exact: _*))
        .select("term", "df", "maxTf", "numSalts").collect().toSeq
        .map(r => (r.getString(0),
          TermStats(r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)), 0))

    val fuzzyStats: Seq[(String, TermStats, Int)] = if (fuzzyToks.isEmpty) Seq.empty else {
      val toks = fuzzyToks.map(t => (t, EditDistance.autoFuzzyEdits(t.length)))
      val toksB = spark.sparkContext.broadcast(toks)
      val matchU = udf { (term: String) =>
        toksB.value.flatMap { case (q, kEd) =>
          if (term.isEmpty || q.isEmpty || term.charAt(0) != q.charAt(0)) None
          else if (math.abs(term.length - q.length) > kEd) None
          else {
            val d = EditDistance.osa(q, term, kEd)
            if (d <= kEd) Some((q, d)) else None
          }
        }
      }
      // cheap vocabulary prune: first char + length window, then banded OSA
      val firstChars = toks.map(_._1.charAt(0).toString).distinct
      val maxLen = toks.map { case (t, kEd) => t.length + kEd }.max
      val minLen = toks.map { case (t, kEd) => t.length - kEd }.min
      dict
        .filter(substring(col("term"), 1, 1).isin(firstChars: _*) &&
          length(col("term")).between(minLen, maxLen))
        .withColumn("matches", matchU(col("term")))
        .filter(size(col("matches")) > 0)
        .select(col("term"), col("df"), col("maxTf"), col("numSalts"),
          explode(col("matches")).as("m"))
        .select("term", "df", "maxTf", "numSalts", "m._1", "m._2")
        .collect().toSeq
        .map(r => (r.getString(4),
          TermStats(r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)),
          r.getInt(5)))
    }

    (exactStats ++ fuzzyStats)
      .groupBy(_._1)
      .map { case (q, ms) =>
        q -> ms.sortBy { case (_, ts, d) => (d, -ts.df, ts.term) }
          .take(50).map(_._2)
      }
  }

  /** The exact BM25 scan both Spark-side scorers share: every
    * generation's segment rows for `terms` (bucket partitions pruned, term
    * pushed down), decoded, one (docId, term, idf * tf-weight) row per
    * posting. Callers sum a doc's rows in lexicographic term order.
    */
  private[graft] def contributions(spark: SparkSession, indexDir: String,
      meta: SnapshotMeta, terms: Seq[TermStats]): Dataset[(Long, String, Double)] = {
    import spark.implicits._
    val bm25 = BM25(meta.k1, meta.b)
    val avgdl = meta.avgDocLen
    val idfB = spark.sparkContext.broadcast(
      terms.map(t => t.term -> bm25.idf(t.df, meta.numDocs)).toMap)
    val buckets = terms.flatMap(t =>
      (0 until t.numSalts).map(s => Hashing.bucketOf(t.term, s, meta.numBuckets)))
      .distinct
    IndexSchemas.readSegments(spark, meta.segmentsDirs(indexDir))
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms.map(_.term): _*))
      .select("term", "postings")
      .as[(String, Array[Byte])]
      .flatMap { case (term, postings) =>
        PostingCodec.decode(postings).iterator
          .map(p => (p.docId, term,
            idfB.value(term) * bm25.tfWeight(p.tf, bm25.normOf(p.doclen, avgdl))))
      }
  }

  /** Exact distributed scorer — the rank-parity oracle (replaces the
    * reference's mocked-ES harness, SURVEY.md §5). Independent of every
    * serving tier: the `contributions` scan, summed per doc.
    */
  def searchExactHits(spark: SparkSession, indexDir: String,
      rq: ResolvedQuery, k: Int): Array[Hit] = {
    import spark.implicits._
    if (rq.terms.isEmpty) return Array.empty
    contributions(spark, indexDir, rq.meta, rq.terms)
      .groupByKey(_._1)
      .mapGroups { (docId, it) =>
        // sum in lexicographic term order — the shared determinism contract
        val contribs = it.map(c => (c._2, c._3)).toArray.sortBy(_._1)
        var s = 0.0
        var i = 0
        while (i < contribs.length) { s += contribs(i)._2; i += 1 }
        Hit(docId, s)
      }
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
      .collect()
  }

  /** Resolve hits back to corpus rows via the forward index.
    *
    * Hits are top-k — driver-small by construction — so this is the
    * coordinator pattern, not a distributed join: ONE narrow Spark job
    * scans the docs parquet with the hit ids pushed down as an In filter
    * (row-group pruning), and the k fetched rows merge with the hits on
    * the driver. The previous shape (broadcast join + orderBy over the
    * full docs scan) cost ~1-2 s of pure job overhead per query; this is
    * one pruned scan (~0.3 s warm), and the result is still a DataFrame.
    */
  def resolveHits(spark: SparkSession, indexDir: String, hits: DataFrame): DataFrame = {
    import spark.implicits._
    val meta = Snapshot.load(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $indexDir"))
    val hitRows = hits.select("rank", "doc_id", "score").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val fetched: Map[Long, (String, String, String, String, String)] =
      if (hitRows.isEmpty) Map.empty
      else spark.read.schema(IndexSchemas.docs)
        .parquet(meta.docsDirs(indexDir): _*)
        .select("docId", "repo", "path", "commit", "lang", "sha256")
        .filter(col("docId").isin(hitRows.map(_._2).toSeq: _*))
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
          r.getString(3), r.getString(4), r.getString(5)))
        .toMap
    hitRows.sortBy(_._1).toSeq.flatMap { case (rank, id, score) =>
      fetched.get(id).map { case (repo, path, commit, lang, sha) =>
        (repo, path, commit, lang, sha, rank, id, score)
      }
    }.toDF("repo", "path", "commit", "lang", "sha256", "rank", "doc_id", "score")
  }
}
