package graft.index

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.corpus.CodeCorpus
import graft.query.{IndexReader, Searcher}

/** WAND ≡ exact scorer on every serving tier, as a seeded property: small
  * corpora salted until `maxSalts` binds, norms off and on, one to three
  * generations; random 1–4-term exact and fuzzy queries at k ∈ {1, 10, 100}
  * must return the exact scorer's hits bit for bit on the driver-cached,
  * coordinator and scatter-gather tiers.
  */
class TierPropSpec extends SparkTestBase {

  /** (maxSalts, b, generations): every salt cap, both norm modes and every
    * generation count appear at least once.
    */
  private val shapes = Seq((2, 0.75, 3), (4, 0.0, 2), (16, 0.75, 1), (16, 0.0, 2))

  private val sizesGen: Gen[(Long, Seq[Long])] = for {
    seed <- Gen.chooseNum(1L, 1000000L)
    first <- Gen.chooseNum(250L, 450L)
    steps <- Gen.listOfN(2, Gen.chooseNum(80L, 200L))
  } yield (seed, steps.scanLeft(first)(_ + _))

  /** A query over `vocab` (df-descending): 1–4 terms, each from the hot
    * head or anywhere; fuzzy queries misspell their longer terms.
    */
  private def queryGen(vocab: IndexedSeq[String]): Gen[(String, Boolean)] = for {
    n <- Gen.chooseNum(1, 4)
    picks <- Gen.listOfN(n, Gen.oneOf(
      Gen.chooseNum(0, math.min(15, vocab.length - 1)),
      Gen.chooseNum(0, vocab.length - 1)))
    fuzzy <- Gen.oneOf(false, true)
    cut <- Gen.chooseNum(1, 3)
  } yield {
    val words = picks.map(vocab)
    (if (!fuzzy) words else words.map(w =>
      if (w.length < 5) w else w.take(cut) + w.drop(cut + 1))).mkString(" ") -> fuzzy
  }

  test("property: driver-cached, coordinator and scatter-gather tiers each equal searchExactHits") {
    for (((maxSalts, b, gens), i) <- shapes.zipWithIndex) {
      val (seed, sizes) = sizesGen(Gen.Parameters.default, Seed(i.toLong + 1)).get
      val dir = tmpDir(s"graft-tiers-$i")
      val cfg = IndexConfig(numBuckets = 4, saltThreshold = sizes.head / 40,
        maxSalts = maxSalts, b = b)
      sizes.take(gens).zipWithIndex.foreach { case (n, g) =>
        val corpus = CodeCorpus.generate(spark, n, seed = seed)
        if (g == 0) IndexBuilder.build(corpus, dir, cfg)
        else IndexBuilder.buildDelta(corpus, dir, cfg)
      }
      val meta = Snapshot.load(dir).get
      assert(meta.allVersions.length == gens)
      assert(meta.hotTerms.values.exists(_ == maxSalts), s"maxSalts $maxSalts never binds")

      val cached = IndexReader.open(spark, dir)
      val coordinator = IndexReader.open(spark, dir,
        IndexReader.ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
          maxQueryShardCacheBytes = 64L << 20))
      val scatter = IndexReader.open(spark, dir,
        IndexReader.ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
          maxQueryShardCacheBytes = 0))
      val vocab = cached.dictMap.get.values.toIndexedSeq
        .sortBy(t => (-t.df, t.term)).map(_.term)
      for (j <- 1 to 6) {
        val (text, fuzzy) = queryGen(vocab)(Gen.Parameters.default, Seed(i * 100L + j)).get
        val rq = cached.resolve(text, fuzzy)
        val exact = Searcher.searchExactHits(spark, dir, rq, 100).toSeq
        for (k <- Seq(1, 10, 100); (tier, r) <- Seq("driver-cached" -> cached,
            "coordinator" -> coordinator, "scatter-gather" -> scatter)) {
          assert(r.searchHits(rq, k).toSeq == exact.take(k),
            s"$tier: maxSalts=$maxSalts b=$b gens=$gens query='$text' fuzzy=$fuzzy k=$k")
        }
      }
    }
  }
}
