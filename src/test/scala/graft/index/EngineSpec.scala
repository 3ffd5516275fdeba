package graft.index

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.corpus.CodeCorpus
import graft.query.{Hit, Searcher}

/** End-to-end engine parity: build a real index over the synthetic corpus,
  * then assert block-max WAND results are rank-identical (docIDs AND scores)
  * to the exact distributed scorer — the in-repo oracle standing in for the
  * reference engine (BASELINE.md correctness gates). Plus: determinism
  * across physical layouts, explicit salting engagement, per-row sha256
  * invariant, snapshot pointer swap, stage-level resume.
  */
class EngineSpec extends SparkTestBase {

  private val nDocs = 3000L
  private lazy val indexDir = {
    val dir = tmpDir("graft-index")
    // saltThreshold low enough that `import`/`def` (present in nearly every
    // doc) get salted — exercising the skew path at test scale
    IndexBuilder.build(
      CodeCorpus.generate(spark, nDocs, seed = 42L),
      dir,
      IndexConfig(numBuckets = 8, saltThreshold = 500L, maxSalts = 8))
    dir
  }

  // the reference query set for rank parity (hot terms, phrases, rare,
  // mixed hot+rare, stems, no-hit)
  private val querySet = Seq(
    "import", "def", "import spark", "import def val class",
    "posting merge", "snapshot manifest reader", "parser",
    "the runner runs quickly", "importing definitions",
    "scorer ranker codec", "zzz_does_not_exist", "builder5 cache")

  test("index builds and manifest is sane") {
    val meta = Snapshot.load(indexDir).get
    assert(meta.numDocs == nDocs)
    assert(meta.avgDocLen > 10)
    assert(meta.hotTerms.nonEmpty, "expected salted hot terms at this threshold")
    assert(meta.hotTerms.contains("import") && meta.hotTerms.contains("def"))
    assert(meta.hotTerms.values.forall(s => s >= 2 && (s & (s - 1)) == 0))
  }

  test("WAND top-k is rank-identical to the exact oracle (docIds AND scores)") {
    for (q <- querySet; k <- Seq(1, 10, 100)) {
      val rq = Searcher.resolve(spark, indexDir, q)
      val wand = Searcher.searchHits(spark, indexDir, rq, k).toSeq
      val exact = Searcher.searchExactHits(spark, indexDir, rq, k).toSeq
      assert(wand == exact, s"query='$q' k=$k (exact float + tie parity)")
    }
  }

  test("b>0: per-posting norms — WAND matches oracle AND brute-force BM25") {
    import graft.query.BM25
    import spark.implicits._
    val dir = tmpDir("graft-index-norms")
    val meta = IndexBuilder.build(
      CodeCorpus.generate(spark, 800L, seed = 7L),
      dir,
      IndexConfig(numBuckets = 4, saltThreshold = 200L, maxSalts = 4, b = 0.75))
    assert(meta.b == 0.75)
    // WAND vs exact oracle under norms-on scoring (block bounds use
    // the block min-doclen; scoring uses per-posting doclen)
    for (q <- querySet; k <- Seq(1, 10, 50)) {
      val rq = Searcher.resolve(spark, dir, q)
      val wand = Searcher.searchHits(spark, dir, rq, k).toSeq
      val exact = Searcher.searchExactHits(spark, dir, rq, k).toSeq
      assert(wand == exact, s"b=0.75 query='$q' k=$k")
    }
    // independent brute force from the forward index: doclen-aware BM25
    val docs = spark.read.schema(IndexSchemas.docs).parquet(meta.docsDir(dir))
      .select("docId", "tfs", "doclen")
      .as[(Long, Map[String, Int], Int)].collect()
    val bm25 = BM25(meta.k1, meta.b)
    val rq = Searcher.resolve(spark, dir, "posting merge")
    val idf = rq.terms.map(t => t.term -> bm25.idf(t.df, meta.numDocs)).toMap
    val brute = docs.flatMap { case (docId, tfs, dl) =>
      var s = 0.0
      for (t <- rq.terms) // lexicographic order — the summation contract
        tfs.get(t.term).foreach(tf =>
          s += idf(t.term) * bm25.tfWeight(tf, dl / meta.avgDocLen))
      if (s > 0) Some(Hit(docId, s)) else None
    }.sortBy(h => (-h.score, h.docId)).take(10).toSeq
    val engine = Searcher.searchHits(spark, dir, rq, 10).toSeq
    assert(engine == brute, "norms-on scores must equal doclen-aware BM25")
    // and norms actually change the ranking scores vs the b=0 index
    val b0 = Searcher.searchHits(spark, indexDir,
      Searcher.resolve(spark, indexDir, "posting merge"), 10).toSeq
    assert(b0.map(_.score) != engine.map(_.score))
  }

  test("delta build: layered generations answer identically to a full rebuild") {
    import spark.implicits._
    val cfg = IndexConfig(numBuckets = 8, saltThreshold = 400L, maxSalts = 8)
    // same seed → generate(2000) keys are a superset of generate(1200)
    val dirDelta = tmpDir("graft-delta")
    IndexBuilder.build(CodeCorpus.generate(spark, 1200L, seed = 11L), dirDelta, cfg)
    val m2 = IndexBuilder.buildDelta(
      CodeCorpus.generate(spark, 2000L, seed = 11L), dirDelta, cfg)
    assert(m2.baseVersions == Seq(1) && m2.version == 2)
    assert(m2.numDocs == 2000)

    val dirFull = tmpDir("graft-full")
    val mf = IndexBuilder.build(CodeCorpus.generate(spark, 2000L, seed = 11L),
      dirFull, cfg)
    // the order-independent corpus fingerprint must agree exactly
    assert(m2.corpusFingerprint == mf.corpusFingerprint)
    assert(m2.numDocs == mf.numDocs)

    // query parity: docIds differ between constructions (delta ranks append
    // per shard), so compare resolved (path, score) result sets with k
    // beyond every df — exact float equality, same BM25 inputs either way
    def pathsOf(dir: String): Map[Long, String] = {
      val meta = Snapshot.load(dir).get
      spark.read.schema(IndexSchemas.docs).parquet(meta.docsDirs(dir): _*)
        .select("docId", "path").as[(Long, String)].collect().toMap
    }
    val pd = pathsOf(dirDelta)
    val pf = pathsOf(dirFull)
    for (q <- querySet) {
      val hd = Searcher.searchHits(spark, dirDelta,
        Searcher.resolve(spark, dirDelta, q), 2500)
        .map(h => (pd(h.docId), h.score)).sortBy(x => (x._1, x._2)).toSeq
      val hf = Searcher.searchHits(spark, dirFull,
        Searcher.resolve(spark, dirFull, q), 2500)
        .map(h => (pf(h.docId), h.score)).sortBy(x => (x._1, x._2)).toSeq
      assert(hd == hf, s"delta vs full mismatch for '$q'")
    }

    // a delta of only-existing keys adds nothing but still commits cleanly
    val m3 = IndexBuilder.buildDelta(
      CodeCorpus.generate(spark, 500L, seed = 11L), dirDelta, cfg)
    assert(m3.numDocs == 2000 && m3.baseVersions == Seq(1, 2))
    assert(Searcher.searchHits(spark, dirDelta,
      Searcher.resolve(spark, dirDelta, "import"), 10).nonEmpty)
  }

  /** sha-256 over the sorted rows of the current dict, the docs (tfs
    * sorted by term) and segments (postings bytes as hex) of every
    * generation in the chain, and the current manifest JSON. */
  private def indexDigest(dir: String): String = {
    import org.apache.spark.sql.Row
    val meta = Snapshot.load(dir).get
    def rows(df: org.apache.spark.sql.DataFrame)(f: Row => String): Seq[String] =
      df.collect().toSeq.map(f).sorted
    val dict = rows(spark.read.schema(IndexSchemas.dict)
      .parquet(meta.dictDir(dir)))(_.mkString("|"))
    val gens = meta.allVersions.flatMap { v =>
      val docs = rows(spark.read.schema(IndexSchemas.docs)
        .parquet(s"$dir/v$v/docs")) { r =>
        val tfs = r.getMap[String, Int](6).toSeq.sorted.mkString(",")
        (0 until 6).map(r.get).mkString("|") + s"|$tfs|${r.getInt(7)}"
      }
      val segs = rows(spark.read.schema(IndexSchemas.segments)
        .parquet(s"$dir/v$v/segments")) { r =>
        val hex = r.getAs[Array[Byte]](5).map(b => f"${b & 0xff}%02x").mkString
        (0 until 5).map(r.get).mkString("|") + s"|$hex|${r.getInt(6)}"
      }
      s"v$v docs" +: docs ++: s"v$v segments" +: segs
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(((dict ++ gens) :+ meta.toJson).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  test("output pin: full and full-plus-delta builds write fixed bytes (b = 0 and b > 0)") {
    // Constants computed when full and delta builds had separate stage
    // bodies; any change to docIds, dict stats, frozen salt counts,
    // posting bytes or manifest fields shows here. The delta corpus
    // repeats every key (dedup) and includes the base keys (anti-join);
    // at this threshold some terms are hot at v1 and others cross it in
    // the delta (frozen salts).
    val expected = Map(
      (0.0, "full") -> "0c61f13373f9b6dd43641ea9441e13e96ae603769faf3fecbf59151630dce4d9",
      (0.0, "delta") -> "88a2ba57e70858dbf12a8395caf61e8467a8ce9c81dc04d517d224129e72bb8d",
      (0.75, "full") -> "e861287a25c86476f07e6cc5df17dc5c1d5e1d50303ce9db04763e0e3e70b239",
      (0.75, "delta") -> "42bacdb0307a043be281478c84c4394a498b63ea5b43a3b4d9e2297e88f3d848")
    val got = Seq(0.0, 0.75).flatMap { b =>
      val cfg = IndexConfig(numBuckets = 4, saltThreshold = 300L, maxSalts = 8, b = b)
      val dir = tmpDir("graft-pin")
      val m1 = IndexBuilder.build(CodeCorpus.generate(spark, 400L, seed = 5L), dir, cfg)
      val full = indexDigest(dir)
      val c2 = CodeCorpus.generate(spark, 800L, seed = 5L)
      val m2 = IndexBuilder.buildDelta(c2.unionByName(c2), dir, cfg)
      assert(m2.baseVersions == Seq(1) && m2.numDocs == 800)
      assert(m1.hotTerms.nonEmpty)
      assert(spark.read.schema(IndexSchemas.dict).parquet(m2.dictDir(dir))
        .filter(col("df") > 300L && col("numSalts") === 1).count() > 0,
        "some term crosses the threshold in the delta and keeps one salt")
      Seq((b, "full") -> full, (b, "delta") -> indexDigest(dir))
    }.toMap
    assert(got == expected)
  }

  /** sha-256 over each generation's sorted `lineage/` rows (`indexDigest`
    * does not read lineage). */
  private def lineageDigest(dir: String): String = {
    val rows = Snapshot.load(dir).get.allVersions.flatMap { v =>
      s"v$v lineage" +: spark.read.schema(IndexSchemas.lineage)
        .parquet(s"$dir/v$v/lineage").collect().toSeq.map(_.mkString("|")).sorted
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(rows.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  test("lineage pin: per-bucket shard, posting and byte counts of full and full-plus-delta builds") {
    // Constants computed when stage 4 aggregated the written segments
    // table; the same builds as the output pin above.
    val expected = Map(
      (0.0, "full") -> "a5f2d2d5682df4545ec0a8b1f0c1a1faa35fd4286b0afd46bebbbde5336afc60",
      (0.0, "delta") -> "36fd2571861300b9ac9d5f52480b85023bca836905eb082676a9a1c7ab53146c",
      (0.75, "full") -> "7a8453996538b5ebe3df9ba40bb972e9212a0b10b02b8e239735dcb8a154bc27",
      (0.75, "delta") -> "d95ec28f31e6e0321f8698bfb2961e3b156236e902c35646954fd8a2889941ae")
    val got = Seq(0.0, 0.75).flatMap { b =>
      val cfg = IndexConfig(numBuckets = 4, saltThreshold = 300L, maxSalts = 8, b = b)
      val dir = tmpDir("graft-lineage-pin")
      IndexBuilder.build(CodeCorpus.generate(spark, 400L, seed = 5L), dir, cfg)
      val full = lineageDigest(dir)
      val c2 = CodeCorpus.generate(spark, 800L, seed = 5L)
      IndexBuilder.buildDelta(c2.unionByName(c2), dir, cfg)
      Seq((b, "full") -> full, (b, "delta") -> lineageDigest(dir))
    }.toMap
    assert(got == expected)
  }

  test("property: docId = shard << 40 | (base docs in shard + rank among new keys), any task count") {
    import spark.implicits._
    type Key = (String, String, String)
    // docShards 3, 16 and 64 on the suite's session: one, two and eight
    // shards per write task
    for ((docShards, seed) <- Seq(3 -> 31L, 16 -> 32L, 64 -> 33L)) {
      val cfg = IndexConfig(numBuckets = 4, saltThreshold = 1000L, maxSalts = 4,
        docShards = docShards)
      val dir = tmpDir("graft-docid")
      val base = CodeCorpus.generate(spark, 50L, seed)
      val batch = CodeCorpus.generate(spark, 80L, seed) // repeats the base keys
      IndexBuilder.build(base, dir, cfg)
      IndexBuilder.buildDelta(batch.unionByName(batch), dir, cfg)
      def shardOf(df: org.apache.spark.sql.DataFrame): Map[Key, Int] =
        df.select($"repo", $"path", $"commit",
          pmod(hash($"repo", $"path", $"commit"), lit(docShards)))
          .as[(String, String, String, Int)].collect()
          .map(r => (r._1, r._2, r._3) -> r._4).toMap
      def ranked(keys: Map[Key, Int], offsets: Map[Int, Int]): Map[Key, Long] =
        keys.groupBy(_._2).flatMap { case (shard, ks) =>
          ks.keys.toSeq.sorted.zipWithIndex.map { case (k, r) =>
            k -> ((shard.toLong << 40) | (offsets.getOrElse(shard, 0) + r)) }
        }
      val baseKeys = shardOf(base)
      val expected = ranked(baseKeys, Map.empty) ++ ranked(
        shardOf(batch) -- baseKeys.keys, baseKeys.groupBy(_._2).map(s => s._1 -> s._2.size))
      val got = spark.read.schema(IndexSchemas.docs)
        .parquet(Snapshot.load(dir).get.docsDirs(dir): _*)
        .select("repo", "path", "commit", "docId").as[(String, String, String, Long)]
        .collect().map(r => (r._1, r._2, r._3) -> r._4)
      assert(got.length == expected.size && got.toMap == expected, s"docShards=$docShards")
    }
  }

  test("compaction re-salts terms that became hot mid-delta-chain") {
    import spark.implicits._
    val cfg = IndexConfig(numBuckets = 8, saltThreshold = 600L, maxSalts = 8)
    val dir = tmpDir("graft-resalt")
    def saltsOf(term: String): Int = {
      val meta = Snapshot.load(dir).get
      spark.read.schema(IndexSchemas.dict).parquet(meta.dictDir(dir))
        .filter(col("term") === term).select("numSalts").as[Int].head()
    }
    def resolved(): Seq[(String, Double)] = {
      val meta = Snapshot.load(dir).get
      val paths = spark.read.schema(IndexSchemas.docs)
        .parquet(meta.docsDirs(dir): _*)
        .select("docId", "path").as[(Long, String)].collect().toMap
      Searcher.searchHits(spark, dir,
        Searcher.resolve(spark, dir, "import def"), 2000)
        .map(h => (paths(h.docId), h.score)).sortBy(identity).toSeq
    }
    // base generation: 'import' df ~400 < threshold → 1 salt
    IndexBuilder.build(CodeCorpus.generate(spark, 400L, seed = 7L), dir, cfg)
    assert(saltsOf("import") == 1)
    // delta growth to 1500 docs: df crosses the threshold but the delta
    // contract FREEZES existing terms' salt counts (WAND task ownership
    // relies on stable salt nesting within a chain)
    IndexBuilder.buildDelta(CodeCorpus.generate(spark, 1500L, seed = 7L), dir, cfg)
    assert(saltsOf("import") == 1, "delta must freeze existing salt counts")
    val before = resolved()
    assert(before.nonEmpty)
    // compaction (the full rebuild StreamingIngest triggers at the chain
    // limit) re-derives salt counts from CURRENT df: the now-hot term
    // spreads over multiple salts, and answers are value-identical
    IndexBuilder.build(CodeCorpus.generate(spark, 1500L, seed = 7L), dir, cfg)
    assert(saltsOf("import") > 1, "compaction must re-salt by current df")
    assert(resolved() == before, "compaction must not change answers")

    // vacuum: the pre-compaction chain (v1, v2) is unreachable from the
    // current full build (v3); keepLast=1 retains the newest unreferenced
    // generation, a second keepLast=0 pass reclaims it too. Answers from
    // the current snapshot never change.
    assert(Snapshot.listVersions(dir) == Seq(1, 2, 3))
    assert(Snapshot.vacuum(dir, keepLast = 1) == Seq(1))
    assert(Snapshot.listVersions(dir) == Seq(2, 3))
    assert(!new java.io.File(s"$dir/v1").exists())
    assert(Snapshot.vacuum(dir, keepLast = 0) == Seq(2))
    assert(Snapshot.listVersions(dir) == Seq(3))
    assert(resolved() == before, "vacuum must not touch the current chain")
    // idempotent + never eats referenced generations
    assert(Snapshot.vacuum(dir, keepLast = 0).isEmpty)
    assert(new java.io.File(s"$dir/v3").exists())
  }

  test("resolveBulk equals per-message resolve (exact + fuzzy, both tiers)") {
    import graft.query.IndexReader
    val msgs = Seq("import spark", "the runner runs quickly",
      "improt parsre", "posting merge segment", "")
    // driver-cached tier AND distributed tier (zero driver budgets)
    for (cfg <- Seq(IndexReader.ReaderConfig(),
      IndexReader.ReaderConfig(0, 0, 64L << 20))) {
      val r = IndexReader.open(spark, indexDir, cfg)
      for (fuzzy <- Seq(false, true)) {
        val bulk = r.resolveBulk(msgs, fuzzy).map(_.terms)
        val single = msgs.map(m => r.resolve(m, fuzzy).terms)
        assert(bulk == single, s"fuzzy=$fuzzy cfg=$cfg")
      }
    }
  }

  test("all three serving tiers are bit-identical") {
    import graft.query.IndexReader
    // zero budgets force the persisted-Dataset scatter-gather path
    val distReader = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
        maxQueryShardCacheBytes = 0))
    // the coordinator tier: shards fetched per query, cached by term
    val coordReader = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
        maxQueryShardCacheBytes = 64L << 20))
    val cachedReader = IndexReader.open(spark, indexDir)
    for (q <- querySet) {
      val d = distReader.searchHits(distReader.resolve(q), 20).toSeq
      val s = coordReader.searchHits(coordReader.resolve(q), 20).toSeq
      val s2 = coordReader.searchHits(coordReader.resolve(q), 20).toSeq // warm
      val c = cachedReader.searchHits(cachedReader.resolve(q), 20).toSeq
      assert(d == c, s"query='$q' differs: scatter-gather vs driver-cached")
      assert(s == c && s2 == c, s"query='$q' differs: coordinator tier")
    }
    // a tiny cache budget falls back to scatter-gather, same results
    val tinyReader = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
        maxQueryShardCacheBytes = 1))
    val q0 = querySet.head
    assert(tinyReader.searchHits(tinyReader.resolve(q0), 20).toSeq ==
      cachedReader.searchHits(cachedReader.resolve(q0), 20).toSeq)
    // dict-fits-postings-don't: in-memory resolution (incl. fuzzy) over
    // distributed postings — still bit-identical
    val midReader = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(maxDriverVocab = 2000000L,
        maxDriverPostingBytes = 0, maxQueryShardCacheBytes = 64L << 20))
    for (q <- querySet.take(4)) {
      assert(midReader.searchHits(midReader.resolve(q), 20).toSeq ==
        cachedReader.searchHits(cachedReader.resolve(q), 20).toSeq)
    }
    assert(midReader.resolve("improt snapshto", fuzzy = true).terms.toSet ==
      cachedReader.resolve("improt snapshto", fuzzy = true).terms.toSet)
    // fuzzy expansion too (Spark-job path vs in-memory scan)
    val fq = "improt snapshto"
    val dRq = distReader.resolve(fq, fuzzy = true)
    val cRq = cachedReader.resolve(fq, fuzzy = true)
    assert(dRq.terms.toSet == cRq.terms.toSet, "fuzzy expansion differs across tiers")
  }

  test("shard-cache policy: LRU keeps the re-hit term resident") {
    import graft.query.IndexReader
    val terms = Seq("parser", "codec", "builder")
    // size each term's resident shard bytes with an unbounded cache
    val sizer = IndexReader.open(spark, indexDir,
      IndexReader.ReaderConfig(0, 0, 1L << 30))
    val sizes = terms.map { t =>
      val before = sizer.shardCacheBytesUsed
      sizer.searchHits(sizer.resolve(t), 10)
      sizer.shardCacheBytesUsed - before
    }
    assert(sizes.forall(_ > 0), s"sizing failed: $sizes")
    // any two terms fit, all three never — the regime where policy matters
    val budget = sizes.sum - sizes.min
    val accesses = Seq(0, 1, 0, 2, 0, 1, 0, 2, 0).map(terms)
    val r = IndexReader.open(spark, indexDir, IndexReader.ReaderConfig(0, 0, budget))
    accesses.foreach(q => r.searchHits(r.resolve(q), 10))
    // every re-access of term 0 after the first is a hit (4h/5m), where
    // insertion order would evict term 0 while it is still the hottest
    // (2h/7m). Exact trace — the budget admits exactly two terms.
    assert(r.shardCacheStats == ((4L, 5L)), "LRU should keep the head term")
  }

  test("shard cache is safe under concurrent queries (LRU bump + evict race)") {
    import graft.query.IndexReader
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // tight budget forces continuous eviction while hits re-rank — the
    // exact interleaving the shard cache's one lock must survive; results
    // must stay bit-identical to the driver-cached tier throughout
    val cached = IndexReader.open(spark, indexDir)
    val expected = querySet.map(q =>
      q -> cached.searchHits(cached.resolve(q), 20).toSeq).toMap
    val r = IndexReader.open(spark, indexDir, IndexReader.ReaderConfig(0, 0, 64L << 10))
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 8).map { t =>
        Future {
          (0 until 25).foreach { i =>
            val q = querySet((t + i) % querySet.length)
            val got = r.searchHits(r.resolve(q), 20).toSeq
            assert(got == expected(q), s"thread $t query '$q' diverged")
          }
        }
      }
      Await.result(Future.sequence(futures), 5.minutes)
    } finally pool.shutdown()
    val (h, m) = r.shardCacheStats
    assert(h + m > 0, "the coordinator path was actually exercised")
  }

  test("reader cache lets a superseded snapshot go") {
    import graft.query.IndexReader
    // scatter-gather tier: each searched reader persists its segments, so
    // a cache that keeps superseded readers grows one persisted RDD per
    // commit
    val dir = tmpDir("graft-reader-cache")
    val cfg = IndexConfig(numBuckets = 2)
    val sg = IndexReader.ReaderConfig(0, 0, 0)
    val before = spark.sparkContext.getPersistentRDDs.size
    val readers = (1 to 4).map { v =>
      val corpus = CodeCorpus.generate(spark, 100L * v, seed = 3L)
      if (v == 1) IndexBuilder.build(corpus, dir, cfg)
      else IndexBuilder.buildDelta(corpus, dir, cfg)
      val r = IndexReader.open(spark, dir, sg)
      assert(r.meta.version == v)
      val hits = r.searchHits(r.resolve("import"), 1000).toSeq
      assert(hits.nonEmpty)
      assert(spark.sparkContext.getPersistentRDDs.size - before == 1,
        s"persisted RDDs after version $v")
      (r, hits)
    }
    // a superseded reader still answers from its own generation's files
    val (first, firstHits) = readers.head
    assert(first.searchHits(first.resolve("import"), 1000).toSeq == firstHits)
  }

  test("fuzzy search matches oracle and finds misspellings") {
    for (q <- Seq("improt spark", "mrege posting", "snapshto")) {
      val rq = Searcher.resolve(spark, indexDir, q, fuzzy = true)
      assert(rq.terms.nonEmpty, s"fuzzy expansion empty for '$q'")
      val wand = Searcher.searchHits(spark, indexDir, rq, 20).toSeq
      val exact = Searcher.searchExactHits(spark, indexDir, rq, 20).toSeq
      assert(wand == exact, s"fuzzy query='$q'")
      assert(wand.nonEmpty)
    }
  }

  test("per-row sha256 invariant: docs table matches recomputed corpus hashes") {
    val meta = Snapshot.load(indexDir).get
    val docs = spark.read.parquet(meta.docsDir(indexDir))
      .select("repo", "path", "commit", "sha256")
    val recomputed = CodeCorpus.generate(spark, nDocs, seed = 42L)
      .select(col("repo"), col("path"), col("commit"),
        sha2(col("content"), 256).as("sha256_re"))
    val joined = docs.join(recomputed, Seq("repo", "path", "commit"))
    assert(joined.count() == nDocs)
    assert(joined.filter(col("sha256") =!= col("sha256_re")).count() == 0)
  }

  test("determinism: different physical layout, identical results + stats") {
    val dir2 = tmpDir("graft-index2")
    // different bucket count, different salt threshold, different input
    // partitioning — logical results must be identical
    IndexBuilder.build(
      CodeCorpus.generate(spark, nDocs, seed = 42L, partitions = 3),
      dir2,
      IndexConfig(numBuckets = 5, saltThreshold = 2000L, maxSalts = 4))
    val m1 = Snapshot.load(indexDir).get
    val m2 = Snapshot.load(dir2).get
    assert(m1.numDocs == m2.numDocs)
    assert(m1.avgDocLen == m2.avgDocLen)
    assert(m1.corpusFingerprint == m2.corpusFingerprint)
    for (q <- querySet) {
      val h1 = Searcher.searchHits(spark, indexDir, Searcher.resolve(spark, indexDir, q), 50).toSeq
      val h2 = Searcher.searchHits(spark, dir2, Searcher.resolve(spark, dir2, q), 50).toSeq
      assert(h1 == h2, s"query='$q' differs across physical layouts")
    }
  }

  test("salted hot-term postings reassemble exactly") {
    // union of salt shards of 'import' == exact set of docs containing it
    val meta = Snapshot.load(indexDir).get
    val ns = meta.hotTerms("import")
    val segs = spark.read.parquet(meta.segmentsDir(indexDir))
      .filter(col("term") === "import")
      .select("salt", "postings").collect()
    assert(segs.length == ns, s"expected $ns salt shards")
    val fromIndex = segs.flatMap(r =>
      PostingCodec.decode(r.getAs[Array[Byte]]("postings")).map(_.docId)).sorted
    val expected = spark.read.parquet(meta.docsDir(indexDir))
      .filter(array_contains(map_keys(col("tfs")), "import"))
      .select("docId").collect().map(_.getLong(0)).sorted
    assert(fromIndex.toSeq == expected.toSeq)
    // each shard holds exactly its salt's docs
    for (r <- segs) {
      val salt = r.getInt(0)
      val ids = PostingCodec.decode(r.getAs[Array[Byte]]("postings")).map(_.docId)
      assert(ids.forall(d => Hashing.saltOf(d, ns) == salt))
    }
  }

  test("snapshot swap: new generation replaces pointer, old stays readable") {
    val dir = tmpDir("graft-swap")
    val m1 = IndexBuilder.build(CodeCorpus.generate(spark, 200, seed = 1L), dir,
      IndexConfig(numBuckets = 4, saltThreshold = 1000000L))
    assert(Snapshot.currentVersion(dir).contains(m1.version))
    val m2 = IndexBuilder.build(CodeCorpus.generate(spark, 300, seed = 2L), dir,
      IndexConfig(numBuckets = 4, saltThreshold = 1000000L))
    assert(m2.version == m1.version + 1)
    assert(Snapshot.currentVersion(dir).contains(m2.version))
    assert(Snapshot.load(dir).get.numDocs == 300)
    // old generation data intact (time travel)
    assert(spark.read.parquet(s"$dir/v${m1.version}/docs").count() == 200)
    assert(Snapshot.listVersions(dir) == Seq(m1.version, m2.version))
  }

  test("resume: completed stages are skipped on rebuild of same version") {
    val dir = tmpDir("graft-resume")
    val corpus = CodeCorpus.generate(spark, 150, seed = 3L)
    val m1 = IndexBuilder.build(corpus, dir, IndexConfig(numBuckets = 2))
    val docsFile = new java.io.File(s"$dir/v${m1.version}/docs")
    val before = docsFile.lastModified()
    Thread.sleep(20)
    // rebuilding the SAME version resumes: docs/_SUCCESS exists → stage skipped
    val m1b = IndexBuilder.build(corpus, dir, IndexConfig(numBuckets = 2),
      versionOpt = Some(m1.version))
    assert(m1b.numDocs == m1.numDocs)
    assert(docsFile.lastModified() == before, "docs stage should not rerun")

    // a delta that crashed after its stages but before the commit resumes
    // too: un-commit v2 and re-run the same delta
    val corpus2 = CodeCorpus.generate(spark, 250, seed = 3L)
    val m2 = IndexBuilder.buildDelta(corpus2, dir, IndexConfig(numBuckets = 2))
    assert(m2.version == 2 && m2.numDocs == 250)
    def uncommitV2(): Unit = {
      Snapshot.commit(dir, m1)
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "meta", "v2.json"))
    }
    uncommitV2()
    val docs2 = new java.io.File(s"$dir/v2/docs")
    val before2 = docs2.lastModified()
    Thread.sleep(20)
    val m2b = IndexBuilder.buildDelta(corpus2, dir, IndexConfig(numBuckets = 2))
    assert(m2b.version == 2 && m2b.baseVersions == Seq(1))
    assert(m2b.numDocs == m2.numDocs)
    assert(m2b.corpusFingerprint == m2.corpusFingerprint)
    assert(docs2.lastModified() == before2, "delta docs stage should not rerun")

    // a full build at the same version number must not reuse the delta's
    // stages (their token names base v1): v2/docs holds only the 100 new
    // docs, the full build indexes all 250
    uncommitV2()
    val m2f = IndexBuilder.build(corpus2, dir, IndexConfig(numBuckets = 2),
      versionOpt = Some(2))
    assert(m2f.baseVersions.isEmpty && m2f.numDocs == 250)
    assert(spark.read.parquet(s"$dir/v2/docs").count() == 250)
    assert(m2f.corpusFingerprint == m2.corpusFingerprint)

    // later stages read only the summaries completed stages leave: losing
    // the outputs of stages 2-5, or of 4-5, of a full build and of the
    // delta on it, the re-runs commit the uninterrupted manifests and
    // lineage rows (hot terms at this threshold, so the dict summary counts)
    val rdir = tmpDir("graft-resume-summaries")
    val cfg = IndexConfig(numBuckets = 4, saltThreshold = 100L, maxSalts = 4)
    val (c1, c2) = (CodeCorpus.generate(spark, 300, seed = 4L),
      CodeCorpus.generate(spark, 500, seed = 4L))
    def rows(v: Int, name: String, schema: org.apache.spark.sql.types.StructType,
        cols: Seq[String]) = spark.read.schema(schema).parquet(s"$rdir/v$v/$name")
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    def state(m: SnapshotMeta) = (m.toJson,
      rows(m.version, "lineage", IndexSchemas.lineage, IndexSchemas.lineage.fieldNames))
    def docKeys(v: Int) = rows(v, "docs", IndexSchemas.docs, Seq("docId", "repo", "path", "commit"))
    def rm(path: String): Unit = if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        .sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    val full = IndexBuilder.build(c1, rdir, cfg)
    val delta = IndexBuilder.buildDelta(c2, rdir, cfg)
    assert(full.hotTerms.nonEmpty && delta.baseVersions == Seq(1))
    val want = Seq(state(full), state(delta))
    val v2docs = docKeys(2)
    def rerun(lost: Seq[String]): Seq[(String, Seq[String])] = {
      rm(s"$rdir/meta")
      for (v <- Seq(1, 2); t <- lost) rm(s"$rdir/v$v/$t")
      val m1 = IndexBuilder.build(c1, rdir, cfg, versionOpt = Some(1))
      Seq(state(m1), state(IndexBuilder.buildDelta(c2, rdir, cfg)))
    }
    assert(rerun(Seq("dict", "segments", "lineage")) == want, "stages 2-5 lost")
    assert(rerun(Seq("lineage")) == want, "stages 4-5 lost")
    // a base generation written before summaries: the delta takes its
    // offsets and totals from the same aggregate over the base's docs
    // and lineage tables, so docIds and the manifest do not move
    for (t <- Seq("docs", "lineage")) rm(s"$rdir/v1/$t/_GRAFT_SUMMARY")
    rm(s"$rdir/meta/v2.json")
    Snapshot.commit(rdir, full)
    rm(s"$rdir/v2")
    assert(state(IndexBuilder.buildDelta(c2, rdir, cfg)) == want(1))
    assert(docKeys(2) == v2docs)
  }

  test("queries with no matching terms return empty") {
    val rq = Searcher.resolve(spark, indexDir, "zzz_does_not_exist qqqq")
    assert(rq.terms.isEmpty)
    assert(Searcher.searchHits(spark, indexDir, rq, 10).isEmpty)
  }

  test("open refuses a snapshot in an older on-disk format, naming both formats") {
    import graft.query.IndexReader
    val dir = tmpDir("graft-stale-format")
    val meta = IndexBuilder.build(CodeCorpus.generate(spark, 40L, seed = 5L), dir,
      IndexConfig(numBuckets = 2))
    Snapshot.commit(dir, meta.copy(formatVersion = 2))
    val e = intercept[IllegalArgumentException](IndexReader.open(spark, dir))
    assert(e.getMessage.contains("stale on-disk format") &&
      e.getMessage.contains(s"(2 != ${Snapshot.CurrentFormatVersion})"), e.getMessage)
  }

  test("resolveHits on a directory with no snapshot fails loudly") {
    import spark.implicits._
    val dir = tmpDir("graft-no-snapshot")
    val hits = Seq.empty[(Int, Long, Double)].toDF("rank", "doc_id", "score")
    val e = intercept[IllegalStateException](Searcher.resolveHits(spark, dir, hits))
    assert(e.getMessage == s"no snapshot at $dir")
  }
}
