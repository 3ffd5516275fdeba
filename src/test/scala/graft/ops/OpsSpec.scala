package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (3L, "import spark sql functions and window aggregate"),
    (4L, "completely different content about posting lists"),
    (5L, "import spark sql functions and window aggregate extras")
  ).toDF("doc_id", "text")

  test("exact dedup: canonical = min id per hash") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id", "is_canonical").as[(Long, Boolean)].collect().toMap
    assert(out(0L) && !out(2L)) // 2 is dup of 0
    assert(out(1L) && out(3L) && out(4L) && out(5L))
  }

  test("shingles produce n-grams; short docs yield empty") {
    val sh = docs.select(Dedup.shingles(col("text"), 3).as("sh"))
      .filter(col("sh").isNotNull).as[Seq[String]].collect()
    assert(sh(0).contains("the quick brown"))
    val empty = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("sh")).as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("minhash LSH finds near-dups with exact jaccard") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
      shingleSize = 2, numHashes = 64, bands = 32, minJaccard = 0.5)
      .select("idA", "idB", "jaccard").as[(Long, Long, Double)].collect().toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.find(p => (p._1, p._2) == ((0L, 2L))).get._3 == 1.0)
    assert(keys.contains((0L, 1L)) || keys.contains((1L, 2L))) // near-dup
    assert(keys.contains((3L, 5L)))
    assert(!keys.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("minhash output jaccard IS the exact shingle jaccard") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
      shingleSize = 2, numHashes = 64, bands = 32, minJaccard = 0.3)
    val verified = Dedup.jaccardVerify(
      pairs.select("idA", "idB", "jaccard"), docs, "text", "doc_id", 2)
      .select("idA", "idB", "jaccard", "exact_jaccard")
      .as[(Long, Long, Double, Double)].collect()
    assert(verified.nonEmpty)
    for ((a, b, j, exact) <- verified)
      assert(j == exact, s"pair ($a,$b): jaccard=$j exact=$exact")
  }

  test("ngram jaccard join is EXACT: equals brute-force all-pairs") {
    // recall 1.0 by the prefix + positional filter theorems — every
    // brute-force pair at the threshold must come back, with identical
    // inter/uni counts; both the default and the contract (n=3, t=0.6)
    // parameterizations
    val rows = docs.as[(Long, String)].collect().toSeq
    for ((n, t) <- Seq((2, 0.5), (3, 0.6))) {
      def shingleSet(s: String) = s.split("\\s+").filter(_.nonEmpty)
        .sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
      val brute = (for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
        sa = shingleSet(ta); sb = shingleSet(tb)
        inter = (sa & sb).size; uni = (sa | sb).size
        if uni > 0 && inter.toDouble / uni >= t
      } yield (ia, ib, inter.toLong, uni.toLong)).toSet
      assert(brute.nonEmpty, s"n=$n t=$t fixture exercises the join")
      val got = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleSize = n, minJaccard = t)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == brute, s"n=$n t=$t")
    }
  }

  test("ngram jaccard: posting-length cap bounds fan-out (best effort)") {
    // 20 docs sharing every shingle: cap 1 drops all postings → no pairs;
    // uncapped finds all C(20,2) identical-doc pairs
    val dups = spark.range(20)
      .select(col("id").as("doc_id"), lit("same text again and again").as("text"))
    val uncapped = Dedup.ngramJaccardPairs(dups, "text", "doc_id",
      shingleSize = 2, minJaccard = 0.9)
    assert(uncapped.count() == 190)
    val capped = Dedup.ngramJaccardPairs(dups, "text", "doc_id",
      shingleSize = 2, minJaccard = 0.9, maxPostingLen = 1L)
    assert(capped.count() == 0)
  }

  test("minhash bucket-width cap prunes degenerate buckets") {
    // 30 identical docs: every band bucket has width 30 > cap 8 → no pairs
    val dups = (0L until 30L).map(i => (i, "same same same text here"))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashLsh(dups, "text", "doc_id", shingleSize = 2,
      numHashes = 16, bands = 8, minJaccard = 0.5, maxBucketSize = 8)
    assert(capped.count() == 0)
    val uncapped = Dedup.minHashLsh(dups, "text", "doc_id", shingleSize = 2,
      numHashes = 16, bands = 8, minJaccard = 0.5, maxBucketSize = 64)
    assert(uncapped.count() == 30L * 29 / 2)
  }

  test("exactCanonicalIds: (hash, min id, count) only — no row annotation") {
    val out = Dedup.exactCanonicalIds(docs, "text", "doc_id")
      .select("canonical_id", "n_duplicates").as[(Long, Long)].collect().toSet
    // doc 0 and 2 share content: survivor 0 with 2 members; others singletons
    assert(out == Set((0L, 2L), (1L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("simhash bucket-width cap prunes degenerate buckets") {
    // 30 identical docs: one simhash, all 4 chunk buckets width 30 > cap 8
    // → no pairs; with a wide cap every pair survives at hamming 0
    val dups = (0L until 30L).map(i => (i, "same same same text here"))
      .toDF("doc_id", "text")
    val capped = Dedup.simHashPairs(dups, "text", "doc_id",
      maxHamming = 3, maxBucketSize = 8)
    assert(capped.count() == 0)
    val uncapped = Dedup.simHashPairs(dups, "text", "doc_id",
      maxHamming = 3, maxBucketSize = 64)
    assert(uncapped.count() == 30L * 29 / 2)
  }

  test("width caps are audited, never silent: per-operator drop counts") {
    // 30 identical docs, 8 bands: 8 width-30 band buckets = 240 rows; a
    // cap of 8 drops all of them — lastCapDrops must say so exactly
    val dups = (0L until 30L).map(i => (i, "same same same text here"))
      .toDF("doc_id", "text")
    Dedup.minHashLsh(dups, "text", "doc_id", shingleSize = 2,
      numHashes = 16, bands = 8, minJaccard = 0.5, maxBucketSize = 8).count()
    assert(Dedup.lastCapDrops("minHashLsh").contains(Dedup.CapDrops(8, 240)))
    // a wide-enough cap reports ZERO drops (the audit resets per call)
    Dedup.minHashLsh(dups, "text", "doc_id", shingleSize = 2,
      numHashes = 16, bands = 8, minJaccard = 0.5, maxBucketSize = 64).count()
    assert(Dedup.lastCapDrops("minHashLsh").contains(Dedup.CapDrops(0, 0)))
    // simhash: one simhash, 4 width-30 chunk buckets = 120 rows
    Dedup.simHashPairs(dups, "text", "doc_id", maxHamming = 3,
      maxBucketSize = 8).count()
    assert(Dedup.lastCapDrops("simHashPairs").contains(Dedup.CapDrops(4, 120)))
    // embedding: a too-small nBits at larger n reports drops — the
    // auto-size guidance case (40 identical vectors all share one home
    // bucket; width 40 > cap 8)
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id", dim = 8,
      nBits = 2, minCosine = -1.0, maxBucketSize = 8).count()
    val ed = Dedup.lastCapDrops("embeddingNearDupPairs").get
    assert(ed.droppedBuckets == 1 && ed.droppedRows == 40)
  }

  test("integral-id guard: lossy id casts fail fast, not silently") {
    val sdocs = Seq(("a", "x y z w"), ("b", "x y z w")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(sdocs, "text", "doc_id")
    }
    val spairs = Seq(("a", "b")).toDF("idA", "idB")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(spairs, "idA", "idB")
    }
    val lpairs = Seq((0L, 1L)).toDF("idA", "idB")
    intercept[IllegalArgumentException] {
      Dedup.survivorsFromPairs(sdocs, "doc_id", lpairs)
    }
    // integer ids are fine (widening, not lossy)
    val idocs = Seq((0, "x y z w"), (1, "x y z w")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(idocs, "text", "doc_id",
      shingleSize = 2, minJaccard = 0.9).count() == 1)
  }

  test("simhash: identical docs same hash, near-dups close, distinct far") {
    val sims = Dedup.simHash(docs, "text", "doc_id")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(sims(0L) == sims(2L))
    assert(java.lang.Long.bitCount(sims(0L) ^ sims(1L)) <= 16)
    assert(java.lang.Long.bitCount(sims(0L) ^ sims(4L)) > 16)
    val pairs = Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 16)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))
  }

  test("curation pipeline: each stage drops its planted victim") {
    val en1 = "the quick brown fox and the lazy dog of the meadow run to town"
    val en2 = "a parser of the stream reads tokens and emits the tree in order"
    val corpus = Seq(
      (0L, en1),                        // survives
      (1L, en1),                        // exact dup -> stage 1
      (2L, en1 + " tonight"),           // near-dup superset -> stage 2
      (3L, "der hund und die katze sch ich ein haus und der baum die tür"), // lang gate
      (4L, "!!! ??? ... ___"),          // quality gate (short + punct)
      (5L, en2)                         // survives
    ).toDF("doc_id", "text")
    val out = Curation.curate(corpus, "text", "doc_id")
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 5L))
    // annotation columns present and populated
    val row = out.filter(col("doc_id") === 0L)
      .select("quality", "lang_pred", "split")
      .as[(Double, String, String)].collect().head
    assert(row._1 >= 0.5 && row._2 == "en" &&
      Set("train", "val", "test")(row._3))
    // exact-recall mode: the PPJoin ngram join as the pair source — same
    // victims dropped on this fixture (its near-dup is well above the
    // Jaccard threshold), guaranteed recall instead of probabilistic
    val exact = Curation.curate(corpus, "text", "doc_id",
      Curation.Config(exactRecall = true))
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(0L, 5L))
  }

  test("curation repetition gate drops looping docs the other gates pass") {
    // all three docs clear dedup, quality and language gates; the victims
    // loop in ways only the repetition gate sees. topVictim: "x y" x3 in
    // 23 tokens (300 > 8 * 22 grams) but no repeated trigram; spanVictim:
    // "alpha runs beta" x2 covering 6/34 tokens (> 5%) but max bigram
    // count 2 (200 <= 8 * 33)
    val clean = "the winter garden of stone and light turns to silver " +
      "mist running past old gates while distant bells ring over quiet " +
      "rooftops near the frozen harbor tonight again"
    val topVictim = "the stream of tokens and the parser to emit x y one " +
      "trees x y two branches x y three running leaves falling"
    val spanVictim = "the alpha runs beta gamma delta and epsilon zeta " +
      "of eta theta to iota kappa lambda running mu nu xi omicron pi rho " +
      "sigma tau upsilon phi crossing river bank alpha runs beta again"
    val corpus = Seq((0L, clean), (1L, topVictim), (2L, spanVictim))
      .toDF("doc_id", "text")
    def kept(cfg: Curation.Config): Set[Long] =
      Curation.curate(corpus, "text", "doc_id", cfg)
        .select("doc_id").as[Long].collect().toSet
    val base = Curation.Config(repDupN = 3)
    assert(kept(base) == Set(0L, 1L, 2L)) // gates off: nothing dropped
    assert(kept(base.copy(maxTopGramPct = Some(8))) == Set(0L, 2L))
    assert(kept(base.copy(maxRepSpanPct = Some(5))) == Set(0L, 1L))
    assert(kept(base.copy(maxTopGramPct = Some(8),
      maxRepSpanPct = Some(5))) == Set(0L))
  }

  test("curation decontamination stage drops benchmark-contaminated docs") {
    // doc 1 shares the 4-token window "the quick brown fox" with the
    // benchmark; every doc passes the other gates
    val corpus = Seq(
      (0L, "the stream parser reads tokens and emits the tree in order now"),
      (1L, "see the quick brown fox running along the river bank tonight"),
      (2L, "the winter garden of stone and light turns to silver mist today")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "a benchmark question about the quick brown fox and its jumps")
    ).toDF("doc_id", "text")
    def kept(b: Option[org.apache.spark.sql.DataFrame]): Set[Long] =
      Curation.curate(corpus, "text", "doc_id",
          Curation.Config(decontamWindowTokens = 4), None, b)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(None) == Set(0L, 1L, 2L)) // stage off: all pass
    assert(kept(Some(bench)) == Set(0L, 2L))
  }

  test("curation semantic stage drops the embedding near-dup loser") {
    // four docs pass every text gate; 1 is a SEMANTIC near-dup of 0
    // (nearly identical embedding, different enough text for minhash) and
    // 3 has no embedding at all — it must pass through untouched
    val corpus = Seq(
      (0L, "the stream parser reads tokens and emits the tree in order now"),
      (1L, "a parser emits tokens and the stream reads the tree in order"),
      (2L, "the tree parser and stream tokens in order emits a reads next"),
      (3L, "the winter garden of stone and light turns to silver mist today")
    ).toDF("doc_id", "text")
    val dim = 8
    val rnd = new scala.util.Random(61)
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val other = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val embeddings = Seq(
      (0L, base.toSeq), (1L, base.map(_ * 1.0001f).toSeq),
      (2L, other.toSeq)).toDF("vec_id", "embedding")
    val model = Similarity.IvfModel(
      Array.fill(2)(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val clustered = Similarity.withIvfCluster(embeddings, "embedding", model)
    def kept(sem: Option[Curation.Semantic]): Set[Long] =
      Curation.curate(corpus, "text", "doc_id",
          Curation.Config(minJaccard = 0.9), sem)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(None) == Set(0L, 1L, 2L, 3L)) // stage off: all pass
    // stage on: 1 loses to 0 (min-id canonical); 2 far in cosine; 3 has
    // no embedding and passes through
    assert(kept(Some(Curation.Semantic(clustered, minCosine = 0.9)))
      == Set(0L, 2L, 3L))
    // a doc killed upstream cannot anchor a semantic cluster: make 0 an
    // exact dup loser (of a new doc -1) — then the (0,1) pair never forms
    // and 1 survives
    val corpus2 = corpus.union(Seq(
      (-1L, "the stream parser reads tokens and emits the tree in order now"))
      .toDF("doc_id", "text"))
    val kept2 = Curation.curate(corpus2, "text", "doc_id",
        Curation.Config(minJaccard = 0.9),
        Some(Curation.Semantic(clustered, minCosine = 0.9)))
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(-1L, 1L, 2L, 3L))
  }

  test("curation unigram-LM gate drops the rare-token doc the others pass") {
    // three docs share their content vocabulary (low surprisal); the
    // victim is all hapax words — every other gate passes it (English,
    // good quality, no dup), only the LM gate sees it
    val a = "the stream parser reads tokens and emits the tree in order now"
    val b = "a parser emits tokens and the stream reads the tree in order"
    val c = "the tree parser and stream tokens in order emits a reads next"
    val victim = "the quixotic zephyr and vellum gargoyle of onyx " +
      "labyrinth to cobalt meridian whispers"
    val corpus = Seq((0L, a), (1L, b), (2L, c), (3L, victim))
      .toDF("doc_id", "text")
    val lm = TextAnalysis.unigramLm(corpus, "text")
    val means = TextAnalysis
      .unigramDocScore(corpus, "text", "doc_id", lm, 999L)
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, s) => (id, s / n) }.toMap
    assert(means(3L) > Seq(0L, 1L, 2L).map(means).max)
    val cap = (means(3L) + Seq(0L, 1L, 2L).map(means).max) / 2
    def kept(cfg: Curation.Config): Set[Long] =
      Curation.curate(corpus, "text", "doc_id", cfg)
        .select("doc_id").as[Long].collect().toSet
    val base = Curation.Config()
    assert(kept(base) == Set(0L, 1L, 2L, 3L)) // gate off: victim passes
    assert(kept(base.copy(lmMaxMeanNllMicro = Some(cap))) == Set(0L, 1L, 2L))
  }

  test("sequence packing: exact prefix sums, invariant to partitioning") {
    // sparse non-contiguous ids, reversed input order, varied lengths
    val rows = (0 until 40).map { i =>
      (i.toLong * 3 + 1, Seq.fill(i % 7 + 1)("w").mkString(" "))
    }
    val expected = rows.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, t)) =>
        val n = t.split(" ").length.toLong
        (id, n, cum + n)
      }.tail
      .map { case (id, n, cumAfter) =>
        val before = cumAfter - n
        (id, n, before, before / 5, before % 5)
      }
    def run(df: org.apache.spark.sql.DataFrame, ranges: Int) =
      Packing.packSequences(df, "text", "doc_id", seqLen = 5L, ranges)
        .orderBy("doc_id").as[(Long, Long, Long, Long, Long)]
        .collect().toSeq
    val base = rows.reverse.toDF("doc_id", "text")
    assert(run(base, 1) == expected)            // degenerate: one bucket
    assert(run(base.repartition(7), 5) == expected)
    assert(run(base.repartition(3), 64) == expected) // ranges > rows
  }

  test("packing manifest tiles every sequence exactly") {
    val rows = (0 until 40).map { i =>
      (i.toLong * 3 + 1, Seq.fill(i % 7 + 1)("w").mkString(" "))
    }
    val totalTokens = (0 until 40).map(_ % 7 + 1).sum.toLong
    val m = Packing.packManifest(rows.reverse.toDF("doc_id", "text"),
        "text", "doc_id", seqLen = 5L, numRanges = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // per-doc segments sum to the doc's token count and start at 0
    val byDoc = m.groupBy(_._1)
    assert(byDoc.keySet == rows.map(_._1).toSet) // no empty docs here
    byDoc.foreach { case (id, segs) =>
      val n = ((id - 1) / 3 % 7 + 1)
      assert(segs.map(_._5).sum == n)
      val sorted = segs.sortBy(_._2)
      assert(sorted.head._3 == 0L) // doc_off starts at 0
      // consecutive segments continue where the previous left off
      sorted.sliding(2).foreach {
        case Seq((_, s1, d1, _, l1), (_, s2, d2, _, _)) =>
          assert(s2 == s1 + 1 && d2 == d1 + l1)
        case _ =>
      }
    }
    // per-sequence segments tile [0, 5) exactly (last may be shorter)
    val lastSeq = (totalTokens - 1) / 5
    m.groupBy(_._2).foreach { case (seq, segs) =>
      val sorted = segs.sortBy(_._4)
      assert(sorted.head._4 == 0L) // seq_off starts at 0
      sorted.sliding(2).foreach {
        case Seq((_, _, _, o1, l1), (_, _, _, o2, _)) => assert(o2 == o1 + l1)
        case _ =>
      }
      val len = sorted.map(_._5).sum
      assert(if (seq == lastSeq) len == (totalTokens - 1) % 5 + 1
             else len == 5L)
    }
    // boundary golden: a 4-token doc entering at seq_off 3 splits 2+2
    val g = Packing.packManifest(Seq((0L, "a b c"), (1L, "d e f g"))
        .toDF("doc_id", "text"), "text", "doc_id", seqLen = 5L)
      .orderBy("doc_id", "seq_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(g == Seq((0L, 0L, 0L, 0L, 3L),
      (1L, 0L, 0L, 3L, 2L), (1L, 1L, 2L, 0L, 2L)))
  }

  test("sequence packing fails fast on non-integral or null ids") {
    val bad = Seq(("uuid-a", "a b"), ("2", "c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Packing.packSequences(bad, "text", "doc_id", seqLen = 5L)
    }
    assert(e.getMessage.contains("integral id"))
    val nulls = Seq((java.lang.Long.valueOf(1L), "a b"),
      (null.asInstanceOf[java.lang.Long], "c")).toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      Packing.packSequences(nulls, "text", "doc_id", seqLen = 5L)
    }
    assert(e2.getMessage.contains("non-null ids"))
  }

  test("token chunks: window starts, overlap, tail, and empty docs") {
    val in = Seq(
      (0L, "a b c"),        // n < chunkSize: one whole-doc chunk
      (1L, "a b c d e"),    // n == chunkSize: exactly one chunk
      (2L, "a b c d e f"),  // n = 6: starts 0,3 with 2-token overlap
      (3L, ""),             // empty: zero rows
      (4L, "a  b")          // double space: two tokens
    ).toDF("doc_id", "text")
    val out = Packing.tokenChunks(in, "text", "doc_id",
        chunkSize = 5, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Int, String)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 3, "a b c"),
      (1L, 0L, 5, "a b c d e"),
      (2L, 0L, 5, "a b c d e"),
      (2L, 1L, 3, "d e f"),
      (4L, 0L, 2, "a b")))
    // stride == chunkSize: non-overlapping chunks reconstruct the doc
    val rec = Packing.tokenChunks(in, "text", "doc_id",
        chunkSize = 2, stride = 2)
      .select("doc_id", "chunk_id", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq
      .groupBy(_._1).map { case (id, cs) =>
        id -> cs.sortBy(_._2).map(_._3).mkString(" ") }
    assert(rec(2L) == "a b c d e f" && rec(4L) == "a b")
  }

  test("incremental exact dedup: first-wins across batches and in-batch") {
    val b1 = Seq((0L, "aa"), (1L, "bb"), (2L, "aa")).toDF("doc_id", "text")
    val s1 = Dedup.exactIncremental(b1, b1.limit(0)
        .select(md5(col("text")).as("content_hash")), "text", "doc_id")
    assert(s1.select("doc_id").as[Long].collect().toSet == Set(0L, 1L))
    val store = s1.select("content_hash")
    // batch 2: "aa" already landed (dropped), "cc" new with in-batch dup
    val b2 = Seq((3L, "aa"), (4L, "cc"), (5L, "cc")).toDF("doc_id", "text")
    val s2 = Dedup.exactIncremental(b2, store, "text", "doc_id")
    assert(s2.select("doc_id").as[Long].collect().toSet == Set(4L))
  }

  test("incremental simhash equals full-batch pairs restricted to new docs") {
    // store is the (id, simhash) table itself; the batch {4,5} (4 = exact
    // dup of 0/1) sweeps against corpus {0..3} — exactly the full-run
    // pairs touching a new id, and the old×old dup (0,1) is never
    // re-derived
    val rows = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"), // old exact dup of 0
      (2L, "wholly different text one two three"),
      (3L, "alpha beta gamma delta zeta"),
      (4L, "alpha beta gamma delta epsilon"), // NEW exact dup of 0/1
      (5L, "unrelated quick brown fox jumps")
    ).toDF("doc_id", "text")
    val newIds = Set(4L, 5L)
    val corpus = rows.filter(!col("doc_id").isin(newIds.toSeq: _*))
    val fresh = rows.filter(col("doc_id").isin(newIds.toSeq: _*))
    val store = Dedup.simHash(corpus, "text", "doc_id")
      .select("doc_id", "simhash")
    val inc = Dedup.simHashIncremental(fresh, store, "text", "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.simHashPairs(rows, "text", "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    val expected = full.filter(p => newIds(p._1) || newIds(p._2))
    assert(full.exists(p => !newIds(p._1) && !newIds(p._2))) // old×old exists
    assert(expected.nonEmpty && inc == expected)
  }

  test("embedding near-dup pairs: planted dup found, cap prunes") {
    val rnd = new scala.util.Random(41)
    val dim = 16
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val nearDup = base.map(x => x * 1.0001f)
    val vecs = ((0L, base) +: (1L, nearDup) +: (2L until 50L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id",
      dim, nBits = 4, minCosine = 0.9)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // scaled copy shares every SRP bucket bit
    // degenerate cap: everything in one bucket (nBits=0 → bucket 0) and
    // cap 1 → no pairs survive the width guard
    val capped = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id",
      dim, nBits = 1, minCosine = -1.0, maxBucketSize = 1)
    assert(capped.count() == 0)
  }

  test("embedding near-dup probe ring recovers pairs across one hyperplane") {
    // plant a pair whose vectors sit on OPPOSITE sides of exactly one SRP
    // hyperplane (bucket Hamming distance 1) yet are near-identical in
    // cosine: reflect a random vector across its most-incident hyperplane
    // (v' = v - 2 proj/|h|^2 h negates that one projection; reflection
    // preserves |v|, and a near-incident plane moves v very little)
    val dim = 16
    val nBits = 4
    val seed = 42L
    val model = Similarity.SrpModel(dim, nBits, seed)
    val rnd = new scala.util.Random(11)
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / math.sqrt(na * nb)
    }
    val planted: (Array[Float], Array[Float]) = Iterator
      .continually(Array.fill(dim)(rnd.nextGaussian().toFloat))
      .map { v =>
        val projs = (0 until nBits).map { b =>
          (0 until dim).map(i => v(i).toDouble * model.hyperplanes(b)(i)).sum
        }
        val b = projs.indices.minBy(i => math.abs(projs(i)))
        val h = model.hyperplanes(b)
        val h2 = h.map(x => x * x).sum
        val v2 = Array.tabulate(dim)(i =>
          (v(i) - 2.0 * projs(b) / h2 * h(i)).toFloat)
        (v, v2)
      }
      .find { case (v, v2) =>
        java.lang.Long.bitCount(model.bucketOf(v) ^ model.bucketOf(v2)) == 1 &&
          cosine(v, v2) >= 0.95
      }.get
    val vecs = ((0L, planted._1) +: (1L, planted._2) +: (2L until 40L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id",
      dim, nBits = nBits, seed = seed, minCosine = 0.9, probeHamming = 0)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(!exact.contains((0L, 1L)),
      "planted pair must straddle a bucket boundary (else the test is vacuous)")
    val probed = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id",
      dim, nBits = nBits, seed = seed, minCosine = 0.9, probeHamming = 1)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(probed.contains((0L, 1L)))
    // the ring only ADDS candidates: exact-bucket pairs all survive
    assert(exact.subsetOf(probed))
  }

  test("Hamming-2 probe ring equals brute-force bucket-Hamming<=2 blocking") {
    // every bucket pair differs by exactly one XOR mask, so upward-only
    // enumeration over weight-1 and weight-2 masks must yield EXACTLY the
    // brute-force pair set at bucket Hamming <= 2 with no duplicates
    val dim = 8
    val nBits = 5
    val seed = 7L
    val model = Similarity.SrpModel(dim, nBits, seed)
    val rnd = new scala.util.Random(29)
    val rows = (0L until 120L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val minCos = 0.2
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn > 0) dot / nn else 0.0
    }
    def brute(maxH: Int): Set[(Long, Long)] = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib &&
        java.lang.Long.bitCount(model.bucketOf(va) ^ model.bucketOf(vb)) <= maxH &&
        cosine(va, vb) >= minCos
    } yield (ia, ib)).toSet
    def ring(h: Int): Seq[(Long, Long)] =
      Dedup.embeddingNearDupPairs(rows.toDF("vec_id", "embedding"),
        "embedding", "vec_id", dim, nBits = nBits, seed = seed,
        minCosine = minCos, probeHamming = h)
        .select("idA", "idB").as[(Long, Long)].collect().toSeq
    val got2 = ring(2)
    assert(got2.length == got2.toSet.size, "no duplicate pairs at any depth")
    assert(got2.toSet == brute(2))
    // strictly more recall than the 1-bit ring on this data
    val got1 = ring(1).toSet
    assert(got1.subsetOf(got2.toSet) && got1 != got2.toSet)
  }

  test("upward-only probing equals brute-force bucket-Hamming<=1 blocking") {
    // the join enumerates Hamming-1 bucket pairs from the lower bucket
    // only; this must yield EXACTLY the pairs a brute-force scan over all
    // id pairs with bucket Hamming <= 1 and cosine >= threshold finds —
    // regardless of how ids order relative to bucket values
    val dim = 8
    val nBits = 5
    val seed = 7L
    val model = Similarity.SrpModel(dim, nBits, seed)
    val rnd = new scala.util.Random(23)
    val rows = (0L until 120L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val minCos = 0.2
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn > 0) dot / nn else 0.0
    }
    val brute = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib &&
        java.lang.Long.bitCount(model.bucketOf(va) ^ model.bucketOf(vb)) <= 1 &&
        cosine(va, vb) >= minCos
    } yield (ia, ib)).toSet
    val got = Dedup.embeddingNearDupPairs(rows.toDF("vec_id", "embedding"),
      "embedding", "vec_id", dim, nBits = nBits, seed = seed,
      minCosine = minCos, probeHamming = 1)
      .select("idA", "idB").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "no duplicate pairs")
    assert(got.toSet == brute)

    // incremental against the persisted SRP store: corpus {0..79} stored,
    // batch {80..119} arrives — exactly the brute pairs touching a new id,
    // old×old never re-derived
    val store = Similarity.withSrpBucket(
      rows.take(80).toDF("vec_id", "embedding"), "embedding", dim,
      nBits, seed)
    val inc = Dedup.embeddingNearDupIncremental(
      rows.drop(80).toDF("vec_id", "embedding"), store, "embedding",
      "vec_id", dim, nBits = nBits, seed = seed, minCosine = minCos)
      .select("idA", "idB").as[(Long, Long)].collect()
    assert(inc.length == inc.toSet.size, "no duplicate pairs")
    val expected = brute.filter(p => p._1 >= 80 || p._2 >= 80)
    assert(brute.exists(p => p._1 < 80 && p._2 < 80)) // old×old really exists
    assert(expected.nonEmpty && inc.toSet == expected)
  }

  test("deterministic sampling/split: partition, reproducibility, strata") {
    val rows = spark.range(0, 2000).toDF("id")
    val sp = Sampling.split(rows, col("id"), "seed1",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("id", "split").as[(Long, String)].collect()
    // exact partition: every row labeled exactly once
    assert(sp.length == 2000 && sp.map(_._1).distinct.length == 2000)
    val byLabel = sp.groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(byLabel("train") - 1600) < 120)
    assert(math.abs(byLabel("val") - 200) < 80)
    assert(math.abs(byLabel("test") - 200) < 80)
    // pure function of (seed, key): partitioning cannot move a row
    val sp2 = Sampling.split(rows.repartition(7), col("id"), "seed1",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("id", "split").as[(Long, String)].collect()
    assert(sp2.toMap == sp.toMap)
    // sample(f) is exactly the first split bucket of (f, 1-f)
    val s25 = Sampling.sample(rows, col("id"), "seed1", 0.25)
      .select("id").as[Long].collect().toSet
    val sp25 = Sampling.split(rows, col("id"), "seed1",
      Seq("in" -> 0.25, "out" -> 0.75))
      .filter(col("split") === "in").select("id").as[Long].collect().toSet
    assert(s25 == sp25)
    // different seeds give different samples of the same keys
    val other = Sampling.sample(rows, col("id"), "seed2", 0.25)
      .select("id").as[Long].collect().toSet
    assert(other != s25)
    // stratified: fraction 0 drops a stratum, 1.0 keeps one whole
    val strat = rows.withColumn("lang",
      when(col("id") % 2 === 0, "en").otherwise("de"))
    val kept = Sampling.stratifiedSample(strat, col("id"), col("lang"),
      "seed1", Map("en" -> 1.0, "de" -> 0.0))
      .select("lang").as[String].collect()
    assert(kept.length == 1000 && kept.forall(_ == "en"))
  }

  test("domainMix: binding domain keeps all, others downsample to target") {
    val rows = (0L until 3000L).map { i =>
      (i, if (i < 1500) "en" else if (i < 2500) "de" else "zh")
    }.toDF("id", "lang")
    val weights = Map("en" -> 0.6, "de" -> 0.3, "zh" -> 0.1)
    val fr = Sampling.domainMixFractions(rows, col("lang"), weights)
    // T = min(1500/0.6, 1000/0.3, 500/0.1) = 2500 — en binds and keeps all
    assert(fr("en") == 1.0)
    assert(math.abs(fr("de") - 0.75) < 1e-12) // 0.3 * 2500 / 1000
    assert(math.abs(fr("zh") - 0.5) < 1e-12) // 0.1 * 2500 / 500
    val out = Sampling.domainMix(rows, col("id"), col("lang"), "s", weights)
      .select("id", "lang").as[(Long, String)].collect()
    val by = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(by("en") == 1500) // f = 1.0 is exact, not probabilistic
    assert(math.abs(by("de") - 750) < 100 && math.abs(by("zh") - 250) < 60)
    // unlisted domains drop; partitioning cannot move a row
    val extra = rows.withColumn("lang",
      when(col("id") === 0, "fr").otherwise(col("lang")))
    val ids1 = Sampling.domainMix(extra, col("id"), col("lang"), "s", weights)
      .select("id").as[Long].collect().toSet
    val ids2 = Sampling.domainMix(extra.repartition(7), col("id"), col("lang"),
      "s", weights).select("id").as[Long].collect().toSet
    assert(!ids1.contains(0L) && ids1 == ids2)
    // token-weighted twin: de docs are 3 tokens long, so de's token mass
    // (3000 of 5000) makes it downsample harder (0.25) than its row
    // share suggested (0.75); en still binds, zh unchanged by length
    val sized = rows.withColumn("text",
      when(col("lang") === "de", "w w w").otherwise("w"))
    val frTok = Sampling.domainMixFractionsBy(sized, col("lang"), weights,
      sum(size(split(col("text"), " "))))
    assert(frTok("en") == 1.0)
    assert(math.abs(frTok("de") - 0.25) < 1e-12) // 0.3 * 2500 / 3000
    assert(math.abs(frTok("zh") - 0.5) < 1e-12) // 0.1 * 2500 / 500
  }

  test("sampling edge cases: zero/full fractions, zero and absent quotas") {
    val rows = spark.range(0, 100).toDF("id")
    assert(Sampling.sample(rows, col("id"), "s", 1.0).count() == 100)
    assert(Sampling.sample(rows, col("id"), "s", 0.0).count() == 0)
    val one = rows.withColumn("lang", lit("en"))
    assert(Sampling.takePerDomain(one, col("id"), col("lang"), "s",
      Map("en" -> 0L)).count() == 0)
    // quota for a domain absent from the data: empty result (the
    // counts-empty early return), schema intact
    val absent = Sampling.takePerDomain(one, col("id"), col("lang"), "s",
      Map("de" -> 5L))
    assert(absent.count() == 0 && absent.columns.toSeq == Seq("id", "lang"))
    // all mixture weight on the only present domain keeps it whole
    assert(Sampling.domainMixFractions(one, col("lang"),
      Map("en" -> 1.0))("en") == 1.0)
  }

  test("takePerDomain: exact counts, prefix property, shuffle-order pick") {
    val rows = (0L until 1500L).map { i =>
      (i, if (i < 900) "en" else if (i < 1300) "de" else "zh")
    }.toDF("id", "lang")
    def take(df: org.apache.spark.sql.DataFrame, q: Map[String, Long],
        nr: Int = 64): Set[Long] =
      Sampling.takePerDomain(df, col("id"), col("lang"), "tk0", q, nr)
        .select("id").as[Long].collect().toSet
    val got = take(rows, Map("en" -> 300L, "de" -> 100L, "zh" -> 700L))
    // exact counts: quota where available, everything where not; unlisted
    // domains drop entirely
    val byDom = got.groupBy(id => if (id < 900) "en" else if (id < 1300) "de" else "zh")
    assert(byDom("en").size == 300 && byDom("de").size == 100 &&
      byDom("zh").size == 200) // zh has only 200 rows
    assert(take(rows, Map("en" -> 300L)).forall(_ < 900))
    // matches the definitional pick: first-q in (hash, key) order per domain
    val expected = (0L until 900L)
      .sortBy(id => (graft.functions.CrossHash.md5Lower64("tk0|" + id)
        ^ Long.MinValue, id)).take(300).toSet
    assert(byDom("en") == expected)
    // prefix property + partitioning/bucket-count invariance
    val small = take(rows, Map("en" -> 120L))
    assert(small.subsetOf(byDom("en")))
    // per-domain selection is independent of other domains' quotas, and
    // invariant to partitioning and bucket count
    assert(take(rows.repartition(11), Map("en" -> 300L), nr = 7)
      == byDom("en"))
  }

  test("shuffleRank: exact permutation, invariant to partitioning/ranges") {
    val rows = spark.range(0, 1000).toDF("id")
    def run(df: org.apache.spark.sql.DataFrame, nr: Int): Seq[(Long, Long)] =
      Sampling.shuffleRank(df, col("id"), "ep0", nr)
        .select("id", "shuffle_pos").as[(Long, Long)].collect()
        .sortBy(_._1).toSeq
    val base = run(rows, 64)
    // positions are exactly 0..n-1 (a permutation, no gaps, no dups)
    assert(base.map(_._2).sorted == (0L until 1000L))
    // pure function of (seed, key set): neither input partitioning nor the
    // bucket count can move a row
    assert(run(rows.repartition(13), 64) == base)
    assert(run(rows, 7) == base)
    assert(run(rows, 1) == base)
    // matches the definitional single-sort oracle: rank in (hash, key) order
    val expect = (0L until 1000L)
      .sortBy(id => (graft.functions.CrossHash.md5Lower64("ep0|" + id)
        ^ Long.MinValue, id))
      .zipWithIndex.map { case (id, i) => (id, i.toLong) }.sortBy(_._1).toSeq
    assert(base == expect)
    // a different seed is a genuinely different permutation
    assert(Sampling.shuffleRank(rows, col("id"), "ep1", 64)
      .select("id", "shuffle_pos").as[(Long, Long)].collect()
      .sortBy(_._1).toSeq != base)
  }

  test("BPE: deterministic merges, lossless encoding, trained counts") {
    // the classic Sennrich fixture: low x5, lower x2, newest x6, widest x3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val corpus = Seq((0L, text)).toDF("doc_id", "text")
    val freq = Bpe.wordFreq(corpus, "text")
    assert(freq == Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L))
    val merges = Bpe.trainFromFreq(freq, 10)
    // ('e','s') and ('s','t') both count 9 — the lexicographic tie-break
    // picks ('e','s'); the new 'es' symbol then pairs with 't' 9 times
    assert(merges.take(2) == Seq(Bpe.Merge("e", "s"), Bpe.Merge("es", "t")))
    // training is a pure function of the word-freq table: partitioning
    // cannot change the merge list
    assert(Bpe.train(corpus.repartition(5), "text", 10) == merges)
    // encoding is lossless (merges only): concatenation restores the word
    val ranks = merges.zipWithIndex
      .map { case (m, i) => (m.left, m.right) -> i }.toMap
    for (w <- freq.keys)
      assert(Bpe.encodeWord(w, ranks).mkString == w)
    // trained counts: fewer tokens than characters, more than words
    val n = Bpe.tokenCount(corpus, "text", merges)
      .select("n_bpe_tokens").as[Int].head()
    val nChars = text.count(_ != ' ')
    val nWords = 16
    assert(n < nChars && n > nWords)
    // zero merges degenerates to character count
    assert(Bpe.tokenCount(corpus, "text", Seq.empty)
      .select("n_bpe_tokens").as[Int].head() == nChars)
  }

  test("materialized sequences tile the concatenated corpus exactly") {
    val rows = (0 until 40).map { i =>
      (i.toLong * 3 + 1, Seq.fill(i % 7 + 1)(s"w$i").mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    val out = Packing.materializeSequences(df, "text", "doc_id", seqLen = 16)
      .orderBy("seq_id").select("seq_id", "n_seq_tokens", "seq_text")
      .as[(Long, Int, String)].collect()
    val allToks = rows.sortBy(_._1).flatMap(_._2.split(" "))
    // dense sequence ids; every sequence is exactly seqLen tokens except
    // the last
    assert(out.map(_._1).toSeq == (0L until out.length.toLong))
    assert(out.init.forall(_._2 == 16))
    val lastLen = if (allToks.length % 16 == 0) 16 else allToks.length % 16
    assert(out.last._2 == lastLen)
    // reconstruction: concatenating the sequences in order reproduces the
    // corpus token stream in id order exactly
    assert(out.flatMap(_._3.split(" ")).toSeq == allToks.toSeq)
    // invariant to input partitioning and bucket count
    val out2 = Packing.materializeSequences(df.repartition(7), "text",
        "doc_id", seqLen = 16, numRanges = 3)
      .orderBy("seq_id").select("seq_id", "n_seq_tokens", "seq_text")
      .as[(Long, Int, String)].collect()
    assert(out2.toSeq == out.toSeq)
  }

  test("packing invariants hold on randomized corpora") {
    val rnd = new scala.util.Random(97)
    for (_ <- 0 until 3) {
      val nDocs = 20 + rnd.nextInt(30)
      val ids = rnd.shuffle((0 until nDocs * 3).toList).take(nDocs)
        .map(_.toLong)
      val rows = ids.map(id =>
        (id, Seq.fill(rnd.nextInt(13))(s"t$id").mkString(" ")))
      val df = rows.toDF("doc_id", "text")
      val seqLen = (8 + rnd.nextInt(25)).toLong
      val man = Packing.packManifest(df, "text", "doc_id", seqLen)
        .select("doc_id", "seq_id", "doc_off", "seq_off", "take_len")
        .as[(Long, Long, Long, Long, Long)].collect()
      val nToks = rows.map { case (id, t) =>
        id -> t.split(" ").count(_.nonEmpty).toLong }.toMap
      // per-doc segments sum to the doc's token count; zero-token docs
      // contribute no rows
      val byDoc = man.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
      for ((id, n) <- nToks if n > 0) assert(byDoc(id) == n)
      assert(byDoc.keySet == nToks.filter(_._2 > 0).keySet)
      val total = nToks.values.sum
      if (total > 0) {
        // per-sequence segments tile [0, seqLen) exactly, short last
        val bySeq = man.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
        val lastSeq = (total - 1) / seqLen
        for ((sq, s) <- bySeq)
          assert(s == (if (sq == lastSeq) total - lastSeq * seqLen
            else seqLen))
        // materialized sequences reconstruct the concatenated stream
        val outSeqs = Packing.materializeSequences(df, "text", "doc_id",
            seqLen)
          .orderBy("seq_id").select("seq_text").as[String].collect()
        val stream = rows.sortBy(_._1)
          .flatMap(_._2.split(" ").filter(_.nonEmpty))
        assert(outSeqs.flatMap(_.split(" ")).toSeq == stream)
      }
    }
  }

  test("shuffle-then-pack: shuffle_pos feeds packSequences as a dense id") {
    val docs = (0L until 50L)
      .map(i => (i, ("tok " * (((i % 7) + 1).toInt)).trim))
      .toDF("doc_id", "text")
    val shuffled = Sampling.shuffleRank(docs, col("doc_id"), "ep0")
    val packed = Packing.packSequences(shuffled, "text", "shuffle_pos",
        seqLen = 16)
      .select("shuffle_pos", "tok_before").as[(Long, Long)].collect()
      .sortBy(_._1)
    // tok_before accumulates in SHUFFLED order: position p's offset is the
    // sum of token counts of the p docs the permutation put before it
    val order = shuffled.select("shuffle_pos", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val expect = order.map(_._2.split(" ").count(_.nonEmpty).toLong)
      .scanLeft(0L)(_ + _).init
    assert(packed.map(_._2).toSeq == expect.toSeq)
  }

  test("semanticNearDupPairs equals brute within-cluster pairs; cap audited") {
    val dim = 8
    val rnd = new scala.util.Random(31)
    val rows = (0L until 100L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn > 0) dot / nn else 0.0
    }
    // the op takes ANY clustering; a deterministic fake (id % 4) makes the
    // brute-force expectation exact
    val clustered = rows.toDF("vec_id", "embedding")
      .withColumn("cl", (col("vec_id") % 4).cast("int"))
    val minCos = 0.2
    val brute = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && ia % 4 == ib % 4 && cosine(va, vb) >= minCos
    } yield (ia, ib)).toSet
    val got = Dedup.semanticNearDupPairs(clustered, "embedding", "vec_id",
      clusterCol = "cl", minCosine = minCos, maxClusterSize = 64)
      .select("idA", "idB").as[(Long, Long)].collect()
    assert(brute.nonEmpty && got.length == got.toSet.size)
    assert(got.toSet == brute)
    assert(Dedup.lastCapDrops("semanticNearDupPairs")
      .contains(Dedup.CapDrops(0, 0)))
    // cap below the 25-row cluster width: all four clusters drop, audited
    val dropped = Dedup.semanticNearDupPairs(clustered, "embedding",
      "vec_id", clusterCol = "cl", minCosine = minCos, maxClusterSize = 20)
    assert(dropped.count() == 0)
    assert(Dedup.lastCapDrops("semanticNearDupPairs")
      .contains(Dedup.CapDrops(4, 100)))
  }

  test("batched IVF ANN equals the per-query probe") {
    val dim = 8
    val rnd = new scala.util.Random(53)
    val rows = (0L until 100L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val model = Similarity.IvfModel(
      Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val clustered = Similarity.withIvfCluster(
      rows.toDF("vec_id", "embedding"), "embedding", model)
    val queries = rows.take(5).toDF("qid", "embedding")
    val batch = Similarity.ivfKnnBatch(clustered, "embedding", "vec_id",
        model, queries, "qid", "embedding", k = 7, nprobe = 2)
      .select("qid", "vec_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    assert(batch.keySet == (0L until 5L).toSet)
    for ((qid, qv) <- rows.take(5)) {
      val single = Similarity.ivfKnn(clustered, "embedding", "vec_id",
          model, qv, 7, nprobe = 2)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single, s"query $qid")
    }
  }

  test("incremental SemDeDup equals full pairs touching the batch") {
    val dim = 8
    val rnd = new scala.util.Random(47)
    val rows = (0L until 100L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    // frozen quantizer: fixed centroids — assignment is a pure function,
    // so the store can never go stale
    val model = Similarity.IvfModel(
      Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val minCos = 0.2
    val full = Dedup.semanticNearDupPairs(
      Similarity.withIvfCluster(rows.toDF("vec_id", "embedding"),
        "embedding", model), "embedding", "vec_id",
      minCosine = minCos, maxClusterSize = 64)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    // corpus {0..79} stored (the same withIvfCluster table ANN probes),
    // batch {80..99} arrives
    val store = Similarity.withIvfCluster(
      rows.take(80).toDF("vec_id", "embedding"), "embedding", model)
    val inc = Dedup.semanticNearDupIncremental(
      rows.drop(80).toDF("vec_id", "embedding"), store, "embedding",
      "vec_id", model, minCosine = minCos, maxClusterSize = 64)
      .select("idA", "idB").as[(Long, Long)].collect()
    assert(inc.length == inc.toSet.size, "no duplicate pairs")
    val expected = full.filter(p => p._1 >= 80 || p._2 >= 80)
    assert(full.exists(p => p._1 < 80 && p._2 < 80)) // old×old really exists
    assert(expected.nonEmpty && inc.toSet == expected)
  }

  test("nearDupSurvivors: losers dropped, min-id canonical kept") {
    val surv = Dedup.nearDupSurvivors(docs, "text", "doc_id",
      shingleSize = 2, numHashes = 64, bands = 32, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // {0,1,2} form one near-dup component (0 survives), {3,5} another
    // (3 survives), 4 is untouched
    assert(surv == Set(0L, 3L, 4L))
  }

  test("incremental LSH equals full-batch pairs restricted to new docs") {
    // corpus {0..3} already landed (band rows persisted); batch {4,5}
    // arrives. Incremental must find exactly the full-run pairs touching a
    // new id — (3,5) — and never re-pair old×old ((0,1),(0,2),(1,2))
    val params = (2, 64, 32, 0.5) // shingle, hashes, bands, threshold
    val (n, h, bnd, t) = params
    val corpus = docs.filter(col("doc_id") <= 3)
    val fresh = docs.filter(col("doc_id") >= 4)
    val store = Dedup.minHashBandRows(corpus, "text", "doc_id",
      shingleSize = n, numHashes = h, bands = bnd)
    val inc = Dedup.minHashLshIncremental(fresh, corpus, store,
      "text", "doc_id", shingleSize = n, numHashes = h, bands = bnd,
      minJaccard = t)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val full = Dedup.minHashLsh(docs, "text", "doc_id",
      shingleSize = n, numHashes = h, bands = bnd, minJaccard = t)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val expected = full.filter(p => p._1 >= 4 || p._2 >= 4)
    assert(full.exists(p => p._1 < 4 && p._2 < 4)) // old×old really exists
    assert(expected.nonEmpty && inc == expected)
  }

  test("incremental LSH telescopes: per-batch sweeps union to the full run") {
    // ingest in two batches, band-store appended after each sweep —
    // sweep(b1 vs ∅) ∪ sweep(b2 vs store(b1)) must equal the full batch
    // run over everything (every pair found exactly once, by the batch
    // that completed it)
    val (n, h, bnd, t) = (2, 64, 32, 0.5)
    val b1 = docs.filter(col("doc_id") <= 2)
    val b2 = docs.filter(col("doc_id") >= 3)
    val empty = b1.limit(0)
    val emptyStore = Dedup.minHashBandRows(empty, "text", "doc_id",
      shingleSize = n, numHashes = h, bands = bnd)
    val sweep1 = Dedup.minHashLshIncremental(b1, empty, emptyStore,
      "text", "doc_id", shingleSize = n, numHashes = h, bands = bnd,
      minJaccard = t).as[(Long, Long, Long, Long, Double)].collect().toSet
    val store1 = Dedup.minHashBandRows(b1, "text", "doc_id",
      shingleSize = n, numHashes = h, bands = bnd)
    val sweep2 = Dedup.minHashLshIncremental(b2, b1, store1,
      "text", "doc_id", shingleSize = n, numHashes = h, bands = bnd,
      minJaccard = t).as[(Long, Long, Long, Long, Double)].collect().toSet
    val full = Dedup.minHashLsh(docs, "text", "doc_id",
      shingleSize = n, numHashes = h, bands = bnd, minJaccard = t)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(sweep1.nonEmpty && sweep2.nonEmpty)
    assert((sweep1 & sweep2).isEmpty, "no pair found twice")
    assert((sweep1 | sweep2) == full)
  }

  test("survivorsFromPairs composes with the exact ngram join") {
    // same fixture through the EXACT pair source — guaranteed-recall dedup
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 2, minJaccard = 0.5)
    val surv = Dedup.survivorsFromPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(surv == Set(0L, 3L, 4L))
  }

  test("duplicate substrings: exact cross-doc L-gram counts") {
    // L=8 on the fixture: docs 0/1/2 share the 8-token prefix window; only
    // 0 and 2 (exact dups) also share the dog-suffix window; doc 5 has one
    // 8-token window but no partner at this L
    val out = Dedup.duplicateSubstrings(docs, "text", "doc_id",
        windowTokens = 8, minDocs = 2)
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      ("quick brown fox jumps over the lazy dog", 2L, 2L),
      ("the quick brown fox jumps over the lazy", 3L, 3L)))
    // minDocs=3 keeps only the window all three dup docs share
    val strict = Dedup.duplicateSubstrings(docs, "text", "doc_id",
        windowTokens = 8, minDocs = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(strict == Seq(("the quick brown fox jumps over the lazy", 3L, 3L)))
  }

  test("duplicate substrings equal a naive group-by-gram oracle") {
    // candidate-hash phase + exact regroup must equal the direct (no-hash)
    // formulation — collisions or phase wiring would break this
    val L = 4
    val naive = docs.as[(Long, String)].collect().toSeq
      .flatMap { case (id, t) =>
        Dedup.tokenWindowsOf(t, L).map { case (_, g) => (g, id) } }
      .groupBy(_._1)
      .map { case (g, occ) =>
        (g, occ.map(_._2).distinct.size.toLong, occ.size.toLong) }
      .filter(_._2 >= 2).toSeq.sortBy(_._1)
    val got = Dedup.duplicateSubstrings(docs, "text", "doc_id",
        windowTokens = L, minDocs = 2)
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == naive)
  }

  test("duplicate span coverage: per-doc contaminated token counts") {
    // L=4, minDocs=2 (worked by hand): docs 0/2 fully covered by each
    // other; doc 1 covered except its final 'cat'; docs 3/5 share the
    // 7-token prefix; doc 4 untouched
    val got = Dedup.duplicateSpanCoverage(docs, "text", "doc_id",
        windowTokens = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    assert(got == Map(
      0L -> ((9, 9)), 1L -> ((9, 8)), 2L -> ((9, 9)),
      3L -> ((7, 7)), 4L -> ((6, 0)), 5L -> ((8, 7))))
    // coverage never exceeds the doc's token count
    assert(got.values.forall { case (n, d) => d >= 0 && d <= n })
  }

  test("trim duplicate spans: covered tokens excised, counts match coverage") {
    // same L=4/minDocs=2 hand-worked fixture as the coverage test: only
    // doc 1's trailing 'cat', doc 5's trailing 'extras' and all of doc 4
    // survive the rewrite
    val got = Dedup.trimDuplicateSpans(docs, "text", "doc_id",
        windowTokens = 4, minDocs = 2)
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got == Map(
      0L -> ((9, 9, "")), 1L -> ((9, 8, "cat")), 2L -> ((9, 9, "")),
      3L -> ((7, 7, "")),
      4L -> ((6, 0, "completely different content about posting lists")),
      5L -> ((8, 7, "extras"))))
    // n_dup_tokens must equal duplicateSpanCoverage's (shared position set)
    val cov = Dedup.duplicateSpanCoverage(docs, "text", "doc_id", 4, 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got.view.mapValues(_._2).toMap == cov)
  }

  test("incremental duplicate substrings equal full run on batch grams") {
    val L = 4
    val batch = docs.filter($"doc_id" % 2 === 1) // 1, 3, 5
    val old = docs.filter($"doc_id" % 2 === 0) // 0, 2, 4
    val store = Dedup.duplicateSubstringGramStore(old, "text", "doc_id", L)
    val inc = Dedup.duplicateSubstringsIncremental(batch, store,
        "text", "doc_id", L, minDocs = 2)
      .as[(String, Long, Long)].collect().toSet
    // the pinned equality: full-run rows restricted to grams the batch has
    val batchGrams = batch.as[(Long, String)].collect()
      .flatMap { case (_, t) => Dedup.tokenWindowsOf(t, L).map(_._2) }.toSet
    val full = Dedup.duplicateSubstrings(docs, "text", "doc_id", L, 2)
      .as[(String, Long, Long)].collect().toSet
    assert(inc == full.filter(r => batchGrams.contains(r._1)))
    assert(inc.nonEmpty) // fixture sanity: docs 1/3/5 do share windows
    // store-append convention: store + batch rows == gram store of union
    val appended = store.unionByName(
        Dedup.duplicateSubstringGramStore(batch, "text", "doc_id", L))
      .as[(String, Long, Long)].collect().toSet
    val unionStore = Dedup.duplicateSubstringGramStore(docs,
        "text", "doc_id", L)
      .as[(String, Long, Long)].collect().toSet
    assert(appended == unionStore)
  }

  test("decontamination: shared benchmark windows counted, survivors clean") {
    val L = 4
    val corpus = Seq(
      (0L, "a b c d e f g h"), // windows "c d e f" and "d e f g" shared
      (1L, "k l m n o p q r"), // clean
      (2L, "z z c d e f z z")  // one shared window
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "c d e f g")).toDF("doc_id", "text")
    val counts = Dedup.contaminationCounts(corpus, bench, "text", "doc_id", L)
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(0L -> 2L, 2L -> 1L))
    val clean = Dedup.decontaminate(corpus, bench, "text", "doc_id", L)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(1L))
    // a benchmark shorter than the window contaminates nothing
    val shortBench = Seq((101L, "c d e")).toDF("doc_id", "text")
    assert(Dedup.contaminationCounts(corpus, shortBench, "text", "doc_id",
      L).isEmpty)
  }

  test("pii scrub: emails then phones redacted in place with counts") {
    val df = Seq(
      (0L, "Contact Bob.Smith@Example.COM today"), // mixed case, (?i) path
      (1L, "call +1-555-123-4567 asap"),           // cc + separators
      (2L, "user123456789@x.com or 1234567"),      // email digits not a
                                                   // phone; 7 digits short
      (3L, "id 9876543210 end"),                   // bare 10-digit run
      (4L, "nothing to see here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(df, "text")
      .select("doc_id", "n_emails", "n_phones", "text_scrubbed")
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) == ((0L, 1, 0, "Contact <EMAIL> today")))
    assert(got(1) == ((1L, 0, 1, "call <PHONE> asap")))
    assert(got(2) == ((2L, 1, 0, "<EMAIL> or 1234567")))
    assert(got(3) == ((3L, 0, 1, "id <PHONE> end")))
    assert(got(4) == ((4L, 0, 0, "nothing to see here")))
  }

  test("url scrub: redaction, host extraction, blocklist filter") {
    val df = Seq(
      (0L, "see https://Docs.Example.org/a/b now"),  // mixed-case host
      (1L, "bad http://spam.bad-site.com/x?y=1 link"),
      (2L, "two http://cdn.example.net:8080/q and https://ok.org end"),
      (3L, "no links here"),
      (4L, "trail https://end.com.")                 // trailing dot not host
    ).toDF("doc_id", "text")
    val s = TextAnalysis.urlScrub(df, "text")
      .select("doc_id", "n_urls", "domains", "text_scrubbed")
      .as[(Long, Int, Seq[String], String)].collect().sortBy(_._1)
    assert(s(0) == ((0L, 1, Seq("docs.example.org"), "see <URL> now")))
    assert(s(1) == ((1L, 1, Seq("spam.bad-site.com"), "bad <URL> link")))
    assert(s(2) == ((2L, 2, Seq("cdn.example.net", "ok.org"),
      "two <URL> and <URL> end")))
    assert(s(3) == ((3L, 0, Seq(), "no links here")))
    assert(s(4) == ((4L, 1, Seq("end.com"), "trail <URL>.")))
    val kept = TextAnalysis
      .domainBlocklistFilter(df, "text", Seq("SPAM.bad-site.com"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 2L, 3L, 4L))
  }

  test("unigram LM: integer surprisals and exact document scores") {
    val corpus = Seq(
      (0L, "a a a b"),
      (1L, "b c"),
      (2L, "")
    ).toDF("doc_id", "text")
    // counts: a=3 b=2 c=1, total=6
    val lm = TextAnalysis.unigramLm(corpus, "text")
    val lex = lm.as[(String, Long, Long)].collect().sortBy(_._1)
    def nll(c: Long) = math.round(-1e6 * math.log(c / 6.0))
    assert(lex.toSeq == Seq(("a", 3L, nll(3)), ("b", 2L, nll(2)),
      ("c", 1L, nll(1))))
    val got = TextAnalysis.unigramDocScore(corpus, "text", "doc_id", lm,
        oovNllMicro = 999L)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 4L, 3 * nll(3) + nll(2)),
      (1L, 2L, nll(2) + nll(1)),
      (2L, 0L, 0L))) // tokenless doc scores (0, 0), not dropped
    // OOV tokens cost the penalty (scoring a held-out doc)
    val oov = TextAnalysis.unigramDocScore(
        Seq((9L, "a zzz")).toDF("doc_id", "text"), "text", "doc_id", lm,
        oovNllMicro = 999L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(oov == Seq((9L, 2L, nll(3) + 999L)))
  }

  test("repetition stats: top-gram multiplicity and repeated-span coverage") {
    val reps = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"), // no repeats
      (1L, "a b a b a b a b"), // top bigram 'a b' x4; all 5-grams repeat
      (2L, "x y"), // shorter than dupN: coverage 0, top bigram 1
      (3L, "one two three one two three seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(reps, "text", "doc_id",
        topN = 2, dupN = 5)
      .as[(Long, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) == ((9, 1, 0)))
    assert(out(1L) == ((8, 4, 8)))
    assert(out(2L) == ((2, 1, 0)))
    // doc 3: 'one two'/'two three' twice; no 5-gram repeats
    assert(out(3L) == ((10, 2, 0)))
  }

  test("connected components: min-id labels, chains, determinism") {
    // two components: a 6-node PATH (worst case for plain propagation —
    // pointer jumping must still converge inside the round cap) and a
    // triangle with ids out of order
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), // path
      (52L, 50L), (51L, 52L), (50L, 51L) // triangle
    ).toDF("idA", "idB")
    val cc = Dedup.connectedComponents(pairs, "idA", "idB")
      .as[(Long, Long)].collect().toMap
    assert((10L to 15L).forall(cc(_) == 10L))
    assert((50L to 52L).forall(cc(_) == 50L))
    assert(cc.size == 9) // only ids that appear in pairs
    // partitioning must not change a single label (min fixpoint is unique)
    val cc2 = Dedup.connectedComponents(pairs.repartition(7), "idA", "idB")
      .as[(Long, Long)].collect().toMap
    assert(cc2 == cc)
  }

  test("connected components: duplicate/reversed pairs and a long path") {
    // pins the single-pass mirrored-edge materialization: repeated pairs
    // and pairs listed in either orientation must not change labels (min
    // is duplicate-insensitive; explode emits both directions), and a
    // 64-node path takes several propagation rounds through the
    // partitioning-preserving checkpoints
    val path = (100L until 163L).map(i => (i, i + 1))
    val noisy = path ++ path.take(5) ++ // duplicates
      Seq((20L, 10L), (10L, 20L), (20L, 10L)) // reversed + repeated
    val cc = Dedup.connectedComponents(noisy.toDF("idA", "idB"), "idA", "idB")
      .as[(Long, Long)].collect().toMap
    assert((100L to 163L).forall(cc(_) == 100L))
    assert(cc(10L) == 10L && cc(20L) == 10L)
    assert(cc.size == 66)
    // one round cannot settle the 64-node path: stopping there must fail
    // loudly, not hand back labels that split the component
    val capped = intercept[IllegalStateException] {
      Dedup.connectedComponents(path.toDF("idA", "idB"), "idA", "idB",
        maxIter = 1)
    }
    assert(capped.getMessage.contains("maxIter = 1"))
  }

  test("brute knn cosine: self is top hit with score 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteKnn(vecs, "embedding", "vec_id",
      Array(1.0f, 0.0f, 0.0f), 4).as[(Long, Double)].collect()
    assert(top(0)._1 == 0L && math.abs(top(0)._2 - 1.0) < 1e-12)
    assert(top(1)._1 == 1L)
    assert(top.last._1 == 3L && top.last._2 == -1.0)
  }

  test("lsh ann recall vs brute force on random vectors") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val data = (0L until 300L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val brute = Similarity.bruteKnn(data, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val bucketed = Similarity.withSrpBucket(data, "embedding", dim, nBits = 6)
    val ann = Similarity.lshKnn(bucketed, "embedding", "vec_id", q, 10,
      nBits = 6, probeHamming = 1).select("vec_id").as[Long].collect().toSet
    // multi-probe LSH at 6 bits should recover a good chunk of the true top-10
    assert(ann.intersect(brute).size >= 5, s"recall too low: ${ann.intersect(brute).size}/10")
  }

  test("ivf ann: deterministic training, recall vs brute force") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    val data = (0L until 400L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val model = Similarity.trainIvf(data, "embedding", "vec_id", k = 8, iters = 5)
    // determinism: different input partitioning → bit-identical centroids
    // (quantized-integer centroid sums, hash-seeded init — no RNG)
    val model2 = Similarity.trainIvf(data.repartition(7), "embedding",
      "vec_id", k = 8, iters = 5)
    assert(model.centroids.map(_.toSeq).toSeq == model2.centroids.map(_.toSeq).toSeq)
    // probes cover a fraction of the corpus but recover most of the top-10
    val clustered = Similarity.withIvfCluster(data, "embedding", model)
    val scanned = clustered
      .filter(col("ivf_cluster").isin(model.probes(q, 3): _*)).count()
    assert(scanned < 400, "probing must prune")
    val brute = Similarity.bruteKnn(data, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfKnn(clustered, "embedding", "vec_id", model, q,
      10, nprobe = 3).select("vec_id").as[Long].collect().toSet
    assert(ivf.intersect(brute).size >= 6,
      s"recall too low: ${ivf.intersect(brute).size}/10 (scanned $scanned/400)")
  }

  test("ivf training on a bounded sample stays deterministic and useful") {
    val rnd = new scala.util.Random(29)
    val dim = 16
    val data = (0L until 400L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    // sample (100 of 400) is a pure function of ids: repartitioning the
    // input must not move a single centroid bit
    val m1 = Similarity.trainIvf(data, "embedding", "vec_id", k = 8,
      iters = 5, trainSample = 100L)
    val m2 = Similarity.trainIvf(data.repartition(7), "embedding", "vec_id",
      k = 8, iters = 5, trainSample = 100L)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    // corpus > 4x sample exercises the hash-threshold pre-filter in front
    // of the top-n (the 100 TB funnel guard): the selected sample — and so
    // every centroid bit — must still be a pure function of ids
    val big = (0L until 1000L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val b1 = Similarity.trainIvf(big, "embedding", "vec_id", k = 8,
      iters = 3, trainSample = 100L)
    val b2 = Similarity.trainIvf(big.repartition(11), "embedding", "vec_id",
      k = 8, iters = 3, trainSample = 100L)
    assert(b1.centroids.map(_.toSeq).toSeq == b2.centroids.map(_.toSeq).toSeq)
    // a quantizer trained on 1/4 of the data still prunes and recalls
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val clustered = Similarity.withIvfCluster(data, "embedding", m1)
    val scanned = clustered
      .filter(col("ivf_cluster").isin(m1.probes(q, 3): _*)).count()
    assert(scanned < 400, "probing must prune")
    val brute = Similarity.bruteKnn(data, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfKnn(clustered, "embedding", "vec_id", m1, q,
      10, nprobe = 3).select("vec_id").as[Long].collect().toSet
    assert(ivf.intersect(brute).size >= 6,
      s"recall too low: ${ivf.intersect(brute).size}/10 (scanned $scanned/400)")
  }

  test("quantized dot knn is exact integer math") {
    val vecs = Seq((0L, Array(0.5f, 0.25f)), (1L, Array(0.5f, 0.25f)),
      (2L, Array(-0.5f, -0.25f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizedDotKnn(vecs, "embedding", "vec_id",
      Array(0.5f, 0.25f), 3).as[(Long, Long)].collect()
    assert(out(0) == ((0L, 500L * 500 + 250L * 250)))
    assert(out(1)._1 == 1L) // tie broken by id
  }

  test("token stats + fingerprint + langid + subwords") {
    val d = Seq((1L, "the cat and the dog"), (2L, "der hund und die katze ein schöner tag"))
      .toDF("doc_id", "text")
    val stats = TextAnalysis.tokenStats(d, "text", "doc_id")
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
    assert(stats(0) == ((1L, 5, 4, 3, 19)))
    val fps = TextAnalysis.fingerprint(d, "text").select("doc_id", "fingerprint")
      .as[(Long, Long)].collect().toMap
    // formatting-invariant: extra whitespace doesn't change the fingerprint
    val fp2 = TextAnalysis.fingerprint(
      Seq((1L, "the  cat   and the  dog")).toDF("doc_id", "text"), "text")
      .select("fingerprint").as[Long].head()
    assert(fps(1L) == fp2)
    assert(fps(1L) != fps(2L))
    val langs = TextAnalysis.langId(d, "text").select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(langs(1L) == "en" && langs(2L) == "de")
    val sw = TextAnalysis.subwordCount(
      Seq((1L, "camelCaseWord x2go foo_bar")).toDF("doc_id", "text"), "text")
      .select("n_subwords").as[Int].head()
    assert(sw == 8) // camel|Case|Word|x|2|go|foo|bar
  }

  test("subword count equals the piece-start counting rule (oracle logic)") {
    // the q_subwords DuckDB oracle cannot replay the lookaround split in
    // RE2, so it counts PIECE STARTS: a position starts a piece iff it is
    // alnum and (string start | prev non-alnum | uppercase | lower->digit
    // | digit->lower). Pin that equivalence in-repo, property-style, so
    // the oracle's logic can never silently drift from the split.
    def countRule(s: String): Int = {
      def up(c: Char) = c >= 'A' && c <= 'Z'
      def lo(c: Char) = c >= 'a' && c <= 'z'
      def dg(c: Char) = c >= '0' && c <= '9'
      def al(c: Char) = up(c) || lo(c) || dg(c)
      s.indices.count { i =>
        al(s(i)) && (i == 0 || !al(s(i - 1)) || up(s(i)) ||
          (lo(s(i - 1)) && dg(s(i))) || (dg(s(i - 1)) && lo(s(i))))
      }
    }
    val rnd = new scala.util.Random(11)
    val alphabet = "aB1 _-.zQ9é"
    val cases = Seq("", "FooBar baz", "ABC", "foo2bar", "A1a", "a  B",
      "getHTTPResponse2xx OK", "snake_case_name", "a1B2c3", "   ") ++
      (1 to 300).map(_ => (1 to rnd.nextInt(30))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.subwordCount(df, "text")
      .select("doc_id", "n_subwords").as[(Long, Int)].collect().toMap
    for ((t, i) <- cases.zipWithIndex)
      assert(got(i.toLong) == countRule(t), s"text='$t'")
  }

  test("quality score in [0,1], penalizes junk") {
    val d = Seq((1L, "the index of the merge and the posting list is good " * 3),
      (2L, "x"), (3L, "!!! ??? ;;; ***")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(d, "text").select("doc_id", "quality")
      .as[(Long, Double)].collect().toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(2L) && q(1L) > q(3L))
  }
}
