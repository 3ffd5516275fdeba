package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.index.{PostingCodec, Snapshot, SnapshotMeta}

import scala.collection.concurrent.TrieMap

/** An opened snapshot, ready to serve queries.
  *
  * Three serving tiers (the ES analogy: a coordinating node with hot
  * shards):
  *  - driver-cached: an index whose dictionary and postings fit the driver
  *    budgets (sized from the manifest at open()) is held in driver memory,
  *    one posting list per term: open() merges a term's salt shards and
  *    generation shards into one list (PostingCodec.merge). A query is one
  *    in-process block-max WAND pass over its terms' lists on the calling
  *    thread — no Spark job, no fan-out, one global top-k threshold;
  *  - coordinator: a larger index resolves terms from the in-memory
  *    dictionary when its vocabulary fits (parquet pushdown otherwise), and
  *    the first query touching a term fetches its shards, merged the same
  *    way, into one byte-budgeted, access-ordered (LRU) map; repeats serve
  *    driver-locally;
  *  - scatter-gather: terms past that budget (or a disabled cache) run WAND
  *    over a PERSISTED segments Dataset — one narrow job + one small
  *    shuffle per query, no file IO after warm-up.
  *
  * All tiers run the identical Wand.topK kernel, and each term contributes
  * to a doc from exactly one list on every tier, so results are
  * bit-identical regardless of tier (EngineSpec, TierPropSpec). The driver
  * tier also serves in-memory entity detection (surface.LocalDetector),
  * which adds the lazily read `forwardIndex`.
  */
final class IndexReader private (
    spark: SparkSession,
    val indexDir: String,
    val meta: SnapshotMeta,
    cfg: IndexReader.ReaderConfig,
    private[graft] val dictMap: Option[Map[String, Searcher.TermStats]],
    private[graft] val segMap: Option[Map[String, IndexReader.SegShard]]) {

  import IndexReader.{DocEntry, SegShard}

  val bm25: BM25 = BM25(meta.k1, meta.b)

  private lazy val dictDf: DataFrame =
    spark.read.schema(graft.index.IndexSchemas.dict).parquet(meta.dictDir(indexDir))

  /** Persisted distributed segments (lazy — only touched on the big tier).
    * Delta snapshots layer multiple generations' segment dirs (manifest
    * union).
    */
  private lazy val segsDs = {
    import spark.implicits._
    val ds = graft.index.IndexSchemas
      .readSegments(spark, meta.segmentsDirs(indexDir))
      .select("term", "salt", "numSalts", "maxTf", "postings")
      .as[(String, Int, Int, Int, Array[Byte])]
      .persist(StorageLevel.MEMORY_AND_DISK)
    persisted = Some(ds)
    ds.count() // materialize once
    ds
  }
  @volatile private var persisted: Option[Dataset[_]] = None

  /** docId → (repo, path, commit, lang, indexed terms): read on first use,
    * once per snapshot, and dropped with this reader when a commit
    * supersedes it. Only in-memory detection reads it, so a reader that
    * never serves one never pays for it.
    */
  private[graft] lazy val forwardIndex: Map[Long, DocEntry] = {
    import spark.implicits._
    spark.read.schema(graft.index.IndexSchemas.docs)
      .parquet(meta.docsDirs(indexDir): _*)
      .select("docId", "repo", "path", "commit", "lang", "tfs")
      .as[(Long, String, String, String, String, Map[String, Int])].collect()
      .map(r => r._1 -> DocEntry(r._2, r._3, r._4, r._5, r._6.keys.toArray))
      .toMap
  }

  /** Unpersist the segments once a newer snapshot supersedes this one. A
    * caller still holding the reader keeps working: it re-reads its
    * generation's files, which `Snapshot.vacuum` keeps while referenced.
    */
  private def release(): Unit = persisted.foreach(_.unpersist(blocking = false))

  // ---- term resolution ----

  /** One message's resolution: exactly `resolveBulk` of that message. */
  def resolve(queryText: String, fuzzy: Boolean = false): Searcher.ResolvedQuery =
    resolveBulk(Seq(queryText), fuzzy).head

  /** Batch resolution, the msearch shape: the messages' union token set
    * resolves in one pass — on the distributed tier ONE dictionary job,
    * not one per message — and each message's term set assembles from the
    * shared per-token map. Expansion is a pure function of the token, so a
    * message resolves the same alone or in any batch. Queries analyze with
    * the INDEX's analyzer (manifest-recorded), the index/query symmetry
    * invariant. Fuzzy expansion is ES-style (auto:4,7, prefix_length 1,
    * max 50/token — see FuzzyExpand): an in-memory scan when the
    * dictionary is driver-resident, a Spark filter over its parquet
    * otherwise.
    */
  def resolveBulk(texts: Seq[String],
      fuzzy: Boolean = false): Seq[Searcher.ResolvedQuery] = {
    val analyzed = texts.map(t =>
      graft.analyzer.Analyzers.analyze(meta.analyzer, t).distinct.toSeq)
    val union = analyzed.flatten.distinct.sorted
    val byToken: Map[String, Seq[Searcher.TermStats]] =
      if (union.isEmpty) Map.empty
      else if (!fuzzy) lookup(union).map(ts => ts.term -> Seq(ts)).toMap
      else dictMap match {
        case Some(m) => union.map(t => t -> FuzzyExpand.expand(m, Seq(t))).toMap
        case None => Searcher.fuzzyExpandByToken(spark, dictDf, union)
      }
    analyzed.map { toks =>
      val terms = toks.flatMap(t => byToken.getOrElse(t, Nil)).distinct
      Searcher.ResolvedQuery(terms.sortBy(_.term), meta)
    }
  }

  /** Distributed-tier dictionary entries resolved so far (a snapshot is
    * immutable, so entries never go stale; negative lookups cached too).
    * Query vocabularies are tiny next to posting bytes — capped for safety.
    */
  private val dictCache = TrieMap.empty[String, Option[Searcher.TermStats]]

  private def lookup(tokens: Seq[String]): Seq[Searcher.TermStats] =
    dictMap match {
      case Some(m) => tokens.flatMap(m.get)
      case None =>
        val missing = tokens.filterNot(dictCache.contains)
        if (missing.nonEmpty) {
          if (dictCache.size > 1000000) dictCache.clear()
          val found = dictDf.filter(col("term").isin(missing: _*))
            .select("term", "df", "maxTf", "numSalts").collect()
            .map(r => r.getString(0) -> Searcher.TermStats(r.getString(0),
              r.getLong(1), r.getInt(2), r.getInt(3))).toMap
          missing.foreach(t => dictCache.put(t, found.get(t)))
        }
        tokens.flatMap(t => dictCache.getOrElse(t, None))
    }

  // ---- search ----

  /** Per-term shard cache for the distributed tier — the ES coordinator
    * model: the FIRST query touching a term fetches that term's (salt)
    * shards with one narrow pushdown job; repeats serve driver-locally at
    * cached-tier latency. Byte-budgeted; a query whose terms exceed the
    * budget falls back to scatter-gather.
    *
    * One access-ordered map (head = least recently used) holds it, and
    * everything else — lookup (which bumps the entry to the tail),
    * admission, head-first eviction to the byte budget, the resident
    * bytes and the hit/miss counters — changes under that map's one
    * monitor. The Spark fetch of missing terms runs outside the lock, so
    * concurrent queries never wait on each other's jobs. LRU measured
    * head-to-head against FIFO on a Zipf(1.1) single-term workload at 40%
    * budget keeps the head set resident where FIFO cycles it out (0.680
    * vs 0.626 hit-rate, 1.4x lower total latency).
    */
  private val shardCache = new java.util.LinkedHashMap[String, SegShard](16, 0.75f, true)
  private var shardCacheBytes = 0L
  private var shardCacheHits = 0L
  private var shardCacheMisses = 0L

  /** (hits, misses) of the term-shard cache since this reader opened —
    * a term counted once per query that references it.
    */
  def shardCacheStats: (Long, Long) =
    shardCache.synchronized((shardCacheHits, shardCacheMisses))

  /** Bytes currently resident in the term-shard cache. */
  def shardCacheBytesUsed: Long = shardCache.synchronized(shardCacheBytes)

  /** The merged list of each of `termNames` through the shard cache; None
    * when a term is past its byte budget.
    */
  private def fetchShardsByName(termNames: Seq[String]): Option[Map[String, SegShard]] = {
    val missing = shardCache.synchronized {
      val m = termNames.filterNot(shardCache.containsKey)
      shardCacheHits += termNames.length - m.length
      shardCacheMisses += m.length
      m
    }
    val fetched =
      if (missing.isEmpty) Map.empty[String, SegShard]
      else IndexReader.merged(segsDs.filter(col("term").isin(missing: _*)).collect())
    val budget = cfg.maxQueryShardCacheBytes
    shardCache.synchronized {
      // a term another query admitted meanwhile is not admitted twice
      for (t <- missing; shard <- fetched.get(t)
           if !shardCache.containsKey(t) && shard.postings.length <= budget) {
        val victims = shardCache.values.iterator
        while (shardCacheBytes + shard.postings.length > budget) {
          shardCacheBytes -= victims.next().postings.length
          victims.remove()
        }
        shardCache.put(t, shard)
        shardCacheBytes += shard.postings.length
      }
      val all = termNames.flatMap(t => Option(shardCache.get(t)).map(t -> _))
      if (all.length == termNames.length) Some(all.toMap) else None
    }
  }

  def searchHits(rq: Searcher.ResolvedQuery, k: Int): Array[Hit] = {
    if (rq.terms.isEmpty) return Array.empty
    segMap match {
      case Some(m) => searchLocal(m, rq, k)
      case None if cfg.maxQueryShardCacheBytes > 0 =>
        fetchShardsByName(rq.terms.map(_.term)) match {
          case Some(m) => searchLocal(m, rq, k)
          case None => Searcher.searchDistributed(spark, segsDs, rq, k)
        }
      case None => Searcher.searchDistributed(spark, segsDs, rq, k)
    }
  }

  /** One block-max WAND pass over one merged list per query term, on the
    * calling thread: a single heap, so WAND prunes against the global k-th
    * score.
    */
  private def searchLocal(m: Map[String, SegShard],
      rq: Searcher.ResolvedQuery, k: Int): Array[Hit] =
    Wand.topK(rq.terms.flatMap(t => m.get(t.term).map(s =>
      TermShard(t.term, bm25.idf(t.df, meta.numDocs), s.maxTf, s.postings))),
      k, bm25, avgdl = meta.avgDocLen)

  def search(queryText: String, k: Int, fuzzy: Boolean = false): DataFrame = {
    import spark.implicits._
    searchHits(resolve(queryText, fuzzy), k).zipWithIndex
      .map { case (h, i) => (i + 1, h.docId, h.score) }.toSeq
      .toDF("rank", "doc_id", "score")
  }
}

object IndexReader {

  /** One term's posting list: its salt and generation shards merged. */
  final case class SegShard(maxTf: Int, postings: Array[Byte])

  /** Segment rows (term, salt, numSalts, maxTf, postings) as one merged
    * list per term.
    */
  private def merged(rows: Array[(String, Int, Int, Int, Array[Byte])]): Map[String, SegShard] =
    rows.groupBy(_._1).view.mapValues(rs =>
      SegShard(rs.map(_._4).max, PostingCodec.merge(rs.toSeq.map(_._5)))).toMap

  /** One forward-index row: a document's stored fields and indexed terms. */
  final case class DocEntry(repo: String, path: String, commit: String,
      lang: String, terms: Array[String])

  /** Driver-cache budgets: vocabulary entries and posting bytes. Above
    * either limit the reader serves from the distributed tier.
    */
  final case class ReaderConfig(
      maxDriverVocab: Long = 2000000L,
      maxDriverPostingBytes: Long = 1024L << 20,
      /** per-query term-shard cache budget for the distributed tier (the
        * coordinator/shard-fetch model); 0 disables — every query then runs
        * scatter-gather (the path EngineSpec pins bit-identical).
        */
      maxQueryShardCacheBytes: Long = 256L << 20)

  private val openReaders = TrieMap.empty[(String, Int, ReaderConfig), IndexReader]

  /** Open (or reuse) a reader for the CURRENT snapshot of indexDir.
    * Keyed by (dir, version, config): a snapshot swap yields a fresh reader,
    * and opening it drops the older versions' readers for the same (dir,
    * config) from the cache and unpersists their segments — otherwise
    * every commit would keep the superseded reader's driver maps or
    * persisted segments alive for the life of the session. A snapshot in
    * an older on-disk format is refused, as buildDelta refuses it.
    */
  def open(spark: SparkSession, indexDir: String,
      cfg: ReaderConfig = ReaderConfig()): IndexReader = {
    val meta = Snapshot.load(indexDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $indexDir"))
    Snapshot.requireCurrentFormat(indexDir, meta)
    openReaders.getOrElseUpdate((indexDir, meta.version, cfg), {
      import spark.implicits._
      // serving-tier sizing: recorded in the manifest at build time (zero
      // Spark jobs — the open-time probe WAS the cold-open cost); older
      // manifests fall back to the lineage aggregation
      val (nShards, pBytes) =
        if (meta.sizedShards >= 0 && meta.sizedPostingBytes >= 0)
          (meta.sizedShards, meta.sizedPostingBytes)
        else {
          val sizing = spark.read.schema(graft.index.IndexSchemas.lineage)
            .parquet(meta.lineageDirs(indexDir): _*)
            .agg(sum("numShards"), sum("postingBytes")).collect()(0)
          (if (sizing.isNullAt(0)) 0L else sizing.getLong(0),
            if (sizing.isNullAt(1)) 0L else sizing.getLong(1))
        }
      // the dict is |vocab|-sized and independent of posting bytes: load it
      // driver-side whenever the vocabulary fits — in-memory resolution
      // (incl. fuzzy expansion) even when the postings must stay
      // distributed; postings additionally need the byte budget
      val dictSmall = nShards <= cfg.maxDriverVocab
      val segSmall = dictSmall && pBytes <= cfg.maxDriverPostingBytes

      // dict and segments load as CONCURRENT Spark jobs (separate threads
      // share the session safely) — the cold open was three sequential
      // jobs and dominated the first query's latency
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val dictF = Future {
        if (!dictSmall) None
        else Some(
          spark.read.schema(graft.index.IndexSchemas.dict).parquet(meta.dictDir(indexDir))
            .select("term", "df", "maxTf", "numSalts")
            .as[(String, Long, Int, Int)].collect()
            .map(r => r._1 -> Searcher.TermStats(r._1, r._2, r._3, r._4)).toMap)
      }
      val segF = Future {
        if (!segSmall) None
        else Some(merged(
          graft.index.IndexSchemas
            .readSegments(spark, meta.segmentsDirs(indexDir))
            .select("term", "salt", "numSalts", "maxTf", "postings")
            .as[(String, Int, Int, Int, Array[Byte])].collect()))
      }
      val dictMap = Await.result(dictF, Duration.Inf)
      val segMap = Await.result(segF, Duration.Inf)
      // the older versions' readers of this (dir, config) are superseded
      for (k @ (dir, version, c) <- openReaders.keys
           if dir == indexDir && c == cfg && version < meta.version)
        openReaders.remove(k).foreach(_.release())
      new IndexReader(spark, indexDir, meta, cfg, dictMap, segMap)
    })
  }
}
