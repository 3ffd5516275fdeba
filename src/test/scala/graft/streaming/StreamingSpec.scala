package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase
import graft.corpus.CodeCorpus
import graft.index.Snapshot
import graft.query.Searcher

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("micro-batches land as snapshot generations; queries see each") {
    val dir = tmpDir("graft-stream")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String, String, String, String)]

    val source = stream.toDF()
      .toDF("repo", "path", "commit", "lang", "content")

    def rows(ids: Range): Seq[(String, String, String, String, String)] =
      ids.map { i =>
        (CodeCorpus.repoOf(i, 7L), CodeCorpus.pathOf(i, 7L)._1,
          CodeCorpus.commitOf(i, 7L), CodeCorpus.pathOf(i, 7L)._2,
          CodeCorpus.content(i, 7L))
      }

    stream.addData(rows(0 until 50): _*)
    val q1 = StreamingIngest.start(spark, dir, source)
    q1.processAllAvailable()
    q1.stop()
    val v1 = Snapshot.currentVersion(dir).get
    assert(Snapshot.load(dir).get.numDocs == 50)

    stream.addData(rows(50 until 120): _*)
    val q2 = StreamingIngest.start(spark, dir, source)
    q2.processAllAvailable()
    q2.stop()
    assert(Snapshot.currentVersion(dir).get > v1)
    assert(Snapshot.load(dir).get.numDocs == 120)
    // batch 2 landed as a DELTA generation layered on batch 1 (O(batch)
    // work), not a full rebuild
    assert(Snapshot.load(dir).get.baseVersions.nonEmpty)

    // the published snapshot answers queries over ALL ingested docs
    val hits = Searcher.search(spark, dir, "import", 200)
    assert(hits.count() > 0)

    // duplicate natural keys are deduped (upsert semantics)
    stream.addData(rows(100 until 120): _*)
    val q3 = StreamingIngest.start(spark, dir, source)
    q3.processAllAvailable()
    q3.stop()
    assert(Snapshot.load(dir).get.numDocs == 120)
  }

  test("crash recovery: rows appended without a snapshot commit are indexed by the next batch") {
    val dir = tmpDir("graft-stream-crash")
    def rows(ids: Range) =
      ids.map { i =>
        (CodeCorpus.repoOf(i, 9L), CodeCorpus.pathOf(i, 9L)._1,
          CodeCorpus.commitOf(i, 9L), CodeCorpus.pathOf(i, 9L)._2,
          CodeCorpus.content(i, 9L))
      }.toDF("repo", "path", "commit", "lang", "content")
    StreamingIngest.appendBatch(spark, dir, rows(0 until 40))
    assert(Snapshot.load(dir).get.numDocs == 40)
    // simulate a batch that appended to the corpus then died before its
    // snapshot commit: write rows 40..60 directly to the corpus dir
    rows(40 until 60).write.mode("append")
      .parquet(StreamingIngest.corpusDir(dir))
    // the next successful batch must pick them up (delta over full corpus)
    StreamingIngest.appendBatch(spark, dir, rows(60 until 70))
    assert(Snapshot.load(dir).get.numDocs == 70)
    assert(Snapshot.load(dir).get.baseVersions.nonEmpty)
  }

  test("streaming dedup gate: first-seen wins across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(minutes: Long) =
      new java.sql.Timestamp(1700000000000L + minutes * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingDedup.firstSeen(
        stream.toDF().toDF("doc_id", "ts", "text"), "text", "ts")
      .writeStream.format("memory").queryName("dedup_gate")
      .outputMode("append").start()
    // batch 1: two distinct texts + an in-batch duplicate
    stream.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma"),
      (3L, ts(2), "alpha beta"))
    q.processAllAvailable()
    // batch 2: a cross-batch duplicate within the watermark + a new text
    stream.addData((4L, ts(10), "alpha beta"), (5L, ts(11), "delta"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_gate")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    // first occurrence of each content hash, and only that one
    assert(out.map(_._2) == Set("alpha beta", "gamma", "delta"))
    assert(out.contains((1L, "alpha beta")) && !out.exists(_._1 == 3L) &&
      !out.exists(_._1 == 4L))
    // unified semantics: on a bounded batch the same transform is an
    // EXACT dedup (the downstream sweep's contract)
    val batchRows = Seq((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma"),
      (3L, ts(2), "alpha beta"), (4L, ts(10), "alpha beta"),
      (5L, ts(11), "delta")).toDF("doc_id", "ts", "text")
    val batchOut = StreamingDedup.firstSeen(batchRows, "text", "ts")
      .select("text").as[String].collect().toSet
    assert(batchOut == Set("alpha beta", "gamma", "delta"))
  }

  test("streaming near-dup sweep telescopes to the full batch run") {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.col
    val state = tmpDir("graft-neardup-state")
    val ckpt = tmpDir("graft-neardup-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val source = stream.toDF().toDF("doc_id", "text")
    // a first band-store write that crashed mid-job leaves only
    // _temporary/ behind: it must not count as landed state
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$state/bands/_temporary/0"))
    val q = StreamingDedup.sweep(source, ckpt)(StreamingDedup.sweepBatch(
      _, _, "text", "doc_id", state, shingleSize = 2, numHashes = 64,
      bands = 32, minJaccard = 0.5, seed = 42L, maxBucketSize = 64))
    // the OpsSpec near-dup fixture split across three micro-batches: the
    // (0,1),(0,2),(1,2) component lands across batches 0/1 and the (3,5)
    // pair across batches 1/2 — every pair must be found by the batch
    // that completes it, exactly once
    val all = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "import spark sql functions and window aggregate"),
      (4L, "completely different content about posting lists"),
      (5L, "import spark sql functions and window aggregate extras"))
    stream.addData(all.take(2): _*)
    q.processAllAvailable()
    stream.addData(all.slice(2, 4): _*)
    q.processAllAvailable()
    stream.addData(all.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    def pairsOnDisk(): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(s"$state/pairs")
        .select("idA", "idB", "inter", "uni")
        .as[(Long, Long, Long, Long)].collect().toSeq
    val got = pairsOnDisk()
    val full = Dedup.minHashLsh(all.toDF("doc_id", "text"), "text",
      "doc_id", shingleSize = 2, numHashes = 64, bands = 32,
      minJaccard = 0.5)
      .select("idA", "idB", "inter", "uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(full.size >= 4, s"fixture should have >=4 near-dup pairs: $full")
    assert(got.toSet == full, s"stream=${got.sorted} full=${full.toSeq.sorted}")
    assert(got.length == full.size, "every pair exactly once across batches")
    // crash-replay idempotency: re-running the LAST batch with the same
    // batchId must overwrite its own partition, not double-land or
    // self-pair — state on disk is unchanged
    StreamingDedup.sweepBatch(all.drop(4).toDF("doc_id", "text"), 2L,
      "text", "doc_id", state, 2, 64, 32, 0.5, 42L, 64)
    assert(pairsOnDisk().toSet == full)
    assert(spark.read.parquet(s"$state/corpus").count() == all.length)
    assert(spark.read.parquet(s"$state/corpus")
      .filter(col("_batch") === 2L).count() == 2)
  }

  test("simhash streaming sweep telescopes to the full batch run") {
    import graft.ops.Dedup
    val state = tmpDir("graft-shsweep-state")
    val ckpt = tmpDir("graft-shsweep-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val source = stream.toDF().toDF("doc_id", "text")
    val q = StreamingDedup.sweep(source, ckpt)(
      StreamingDedup.simHashSweepBatch(_, _, "text", "doc_id", state,
        maxHamming = 3, maxBucketSize = 64))
    // the OpsSpec simhash fixture across two micro-batches: the (0,1)
    // exact dup lands inside batch 0; batch 1 brings 4 (dup of 0/1) and
    // must pair it against the landed store without re-deriving (0,1)
    val all = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "wholly different text one two three"),
      (3L, "alpha beta gamma delta zeta"),
      (4L, "alpha beta gamma delta epsilon"),
      (5L, "unrelated quick brown fox jumps"))
    stream.addData(all.take(3): _*)
    q.processAllAvailable()
    stream.addData(all.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$state/pairs")
      .select("idA", "idB", "hamming").as[(Long, Long, Long)].collect()
    val full = Dedup.simHashPairs(all.toDF("doc_id", "text"), "text",
      "doc_id").as[(Long, Long, Long)].collect().toSet
    assert(full.nonEmpty)
    assert(got.toSet == full, s"stream=${got.sorted} full=${full.toSeq.sorted}")
    assert(got.length == full.size, "every pair exactly once across batches")
  }

  test("duplicate-substring streaming sweep converges to the full batch run") {
    import graft.ops.Dedup
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, max}
    val state = tmpDir("graft-dsweep-state")
    val ckpt = tmpDir("graft-dsweep-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val source = stream.toDF().toDF("doc_id", "text")
    val L = 4
    val q = StreamingDedup.sweep(source, ckpt)(
      StreamingDedup.duplicateSubstringSweepBatch(_, _, "text", "doc_id",
        state, windowTokens = L, minDocs = 2))
    // the shared 'the quick brown fox' windows straddle batches: doc 2
    // (batch 1) must re-emit them with counts over docs 0..2, and doc 4
    // (batch 2) grows them again — latest emission per gram is the truth
    val all = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "the quick brown fox runs far away now"),
      (3L, "wholly unrelated content about posting lists here"),
      (4L, "the quick brown fox jumps over the lazy dog again"))
    stream.addData(all.take(2): _*)
    q.processAllAvailable()
    stream.addData(all.slice(2, 4): _*)
    q.processAllAvailable()
    stream.addData(all.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    def latest(): Set[(String, Long, Long)] = {
      val d = spark.read.parquet(s"$state/dups")
      d.withColumn("mb", max("_batch").over(
          Window.partitionBy("gram")))
        .filter(col("_batch") === col("mb"))
        .select("gram", "n_docs", "n_occ")
        .as[(String, Long, Long)].collect().toSet
    }
    val full = Dedup.duplicateSubstrings(all.toDF("doc_id", "text"),
        "text", "doc_id", L, 2)
      .as[(String, Long, Long)].collect().toSet
    assert(full.exists(_._2 >= 3), s"fixture should have a 3+-doc gram: $full")
    assert(latest() == full, s"stream=${latest()} full=$full")
    // crash-replay idempotency: re-running the LAST batch overwrites its
    // own partitions; converged state unchanged
    StreamingDedup.duplicateSubstringSweepBatch(
      all.drop(4).toDF("doc_id", "text"), 2L, "text", "doc_id", state, L, 2)
    assert(latest() == full)
    assert(spark.read.parquet(s"$state/grams")
      .filter(col("_batch") === 2L).select("doc_id").distinct().count() == 1)
  }

  test("decontamination gate: per-batch union equals the full batch run") {
    import graft.ops.Dedup
    val out = tmpDir("graft-decontam-out")
    val ckpt = tmpDir("graft-decontam-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val L = 4
    val bench = Seq((100L, "c d e f g")).toDF("doc_id", "text")
    val all = Seq(
      (0L, "a b c d e f g h"), // contaminated: "c d e f", "d e f g"
      (1L, "k l m n o p q r"), // clean
      (2L, "z z c d e f z z"), // contaminated: one window
      (3L, "u v w x y z a b")) // clean
    val stream = MemoryStream[(Long, String)]
    val source = stream.toDF().toDF("doc_id", "text")
    val q = StreamingDedup.sweep(source, ckpt)(
      StreamingDedup.decontaminationGateBatch(_, _, bench, "text", "doc_id",
        out, windowTokens = L))
    // contaminated and clean docs in BOTH batches
    stream.addData(all.take(2): _*)
    q.processAllAvailable()
    stream.addData(all.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val gotContam = spark.read.parquet(s"$out/contam")
      .select("doc_id", "n_contaminated").as[(Long, Long)].collect().toMap
    val fullContam = Dedup.contaminationCounts(all.toDF("doc_id", "text"),
      bench, "text", "doc_id", L).as[(Long, Long)].collect().toMap
    assert(fullContam == Map(0L -> 2L, 2L -> 1L))
    assert(gotContam == fullContam)
    val gotClean = spark.read.parquet(s"$out/clean")
      .select("doc_id").as[Long].collect().toSet
    val fullClean = Dedup.decontaminate(all.toDF("doc_id", "text"), bench,
      "text", "doc_id", L).select("doc_id").as[Long].collect().toSet
    assert(gotClean == fullClean && gotClean == Set(1L, 3L))
    // crash-replay idempotency: re-running the last batch overwrites its
    // own partitions; converged output unchanged
    StreamingDedup.decontaminationGateBatch(all.drop(2).toDF("doc_id",
      "text"), 1L, bench, "text", "doc_id", out, L)
    assert(spark.read.parquet(s"$out/contam")
      .select("doc_id", "n_contaminated").as[(Long, Long)].collect()
      .toMap == fullContam)
    assert(spark.read.parquet(s"$out/clean").select("doc_id").as[Long]
      .collect().toSet == fullClean)
  }

  test("unigram quality gate: per-batch union equals the full batch run") {
    import graft.ops.TextAnalysis
    val out = tmpDir("graft-unigate-out")
    val ckpt = tmpDir("graft-unigate-ckpt")
    implicit val sqlCtx = spark.sqlContext
    // frozen lexicon trained offline on a reference corpus (the CCNet
    // deployment shape); streamed docs score against it, OOV costs 5e6
    val ref = Seq((100L, "the parser reads the stream and emits the tree"))
      .toDF("doc_id", "text")
    val lex = TextAnalysis.unigramLm(ref, "text")
    val all = Seq(
      (0L, "the parser emits the tree"),     // in-vocab, low surprisal
      (1L, "zz qq ww rr tt"),                // all OOV -> fails
      (2L, "the stream and the parser"),     // in-vocab, low surprisal
      (3L, "the zz qq ww rr"))               // mostly OOV -> fails
    val cap = 4000000L // in-vocab means land well under 4.0 mean micro-nats
    val stream = MemoryStream[(Long, String)]
    val q = StreamingDedup.sweep(stream.toDF().toDF("doc_id", "text"),
      ckpt)(StreamingDedup.unigramQualityGateBatch(_, _, lex, "text",
      "doc_id", out, maxMeanNllMicro = cap, oovNllMicro = 5000000L))
    stream.addData(all.take(2): _*)
    q.processAllAvailable()
    stream.addData(all.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    def ids(dir: String): Set[Long] = spark.read.parquet(s"$out/$dir")
      .select("doc_id").as[Long].collect().toSet
    // batch-mode twin over the union: identical split
    val full = TextAnalysis.unigramDocScore(all.toDF("doc_id", "text"),
        "text", "doc_id", lex, 5000000L)
      .filter($"sum_nll_micro" <= $"n_tokens" * cap)
      .select("doc_id").as[Long].collect().toSet
    assert(full == Set(0L, 2L))
    assert(ids("pass") == full && ids("fail") == Set(1L, 3L))
    // crash-replay idempotency: re-running the last batch overwrites its
    // own partitions; converged output unchanged
    StreamingDedup.unigramQualityGateBatch(all.drop(2).toDF("doc_id",
      "text"), 1L, lex, "text", "doc_id", out, cap, 5000000L)
    assert(ids("pass") == full && ids("fail") == Set(1L, 3L))
  }

  test("semantic streaming sweep telescopes to the full batch run") {
    import graft.ops.{Dedup, Similarity}
    val state = tmpDir("graft-semsweep-state")
    val ckpt = tmpDir("graft-semsweep-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    val rnd = new scala.util.Random(43)
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L, base.toSeq) +: (1L, base.map(_ * 1.0001f).toSeq) +:
        (2L until 20L).map(i =>
          (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    // frozen offline-trained quantizer (the SemDeDup deployment shape)
    val model = Similarity.IvfModel(
      Array.fill(3)(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val stream = MemoryStream[(Long, Seq[Float])]
    val source = stream.toDF().toDF("vec_id", "embedding")
    val q = StreamingDedup.sweep(source, ckpt)(
      StreamingDedup.semanticSweepBatch(_, _, "embedding", "vec_id", state,
        model, minCosine = 0.9, maxClusterSize = 1024))
    // the planted near-dup (0,1) straddles batches 0 and 1 — it must be
    // found by batch 1's sweep against the landed cluster store
    stream.addData(vecs.take(1): _*)
    q.processAllAvailable()
    stream.addData(vecs.slice(1, 10): _*)
    q.processAllAvailable()
    stream.addData(vecs.drop(10): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$state/pairs")
      .select("idA", "idB").as[(Long, Long)].collect()
    val full = Dedup.semanticNearDupPairs(
      Similarity.withIvfCluster(vecs.toDF("vec_id", "embedding"),
        "embedding", model), "embedding", "vec_id", minCosine = 0.9)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(full.contains((0L, 1L))) // near-identical vectors share a cluster
    assert(got.toSet == full, s"stream=${got.sorted} full=${full.toSeq.sorted}")
    assert(got.length == full.size, "every pair exactly once across batches")
    // crash-replay idempotency: re-running the last batch overwrites its
    // own partitions; converged output unchanged
    StreamingDedup.semanticSweepBatch(vecs.drop(10).toDF("vec_id", "embedding"),
      2L, "embedding", "vec_id", state, model, 0.9, 1024)
    val replay = spark.read.parquet(s"$state/pairs")
      .select("idA", "idB").as[(Long, Long)].collect()
    assert(replay.toSet == full && replay.length == full.size)
  }

  test("embedding streaming sweep telescopes to the full batch run") {
    import graft.ops.Dedup
    val state = tmpDir("graft-emsweep-state")
    val ckpt = tmpDir("graft-emsweep-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    val rnd = new scala.util.Random(41)
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val vecs: Seq[(Long, Seq[Float])] =
      (0L, base.toSeq) +: (1L, base.map(_ * 1.0001f).toSeq) +:
        (2L until 20L).map(i =>
          (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val stream = MemoryStream[(Long, Seq[Float])]
    val source = stream.toDF().toDF("vec_id", "embedding")
    val q = StreamingDedup.sweep(source, ckpt)(
      StreamingDedup.embeddingSweepBatch(_, _, "embedding", "vec_id", state,
        dim, nBits = 4, seed = 42L, minCosine = 0.9, maxBucketSize = 256))
    // the planted near-dup (0,1) straddles batches 0 and 1 — it must be
    // found by batch 1's sweep against the landed SRP-bucket store
    stream.addData(vecs.take(1): _*)
    q.processAllAvailable()
    stream.addData(vecs.slice(1, 10): _*)
    q.processAllAvailable()
    stream.addData(vecs.drop(10): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$state/pairs")
      .select("idA", "idB").as[(Long, Long)].collect()
    val full = Dedup.embeddingNearDupPairs(vecs.toDF("vec_id", "embedding"),
      "embedding", "vec_id", dim, nBits = 4, minCosine = 0.9)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(full.contains((0L, 1L)))
    assert(got.toSet == full, s"stream=${got.sorted} full=${full.toSeq.sorted}")
    assert(got.length == full.size, "every pair exactly once across batches")
  }
}
