package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests drive scalacheck Gen with fixed seeds (the sandbox cache
  * has no scalatestplus bridge) — deterministic across runs.
  */
class PostingCodecNormsPropSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  /** Randomized roundtrip across the v3 format space: norms on/off, block
    * boundaries, large gaps, negative-leading ids. Deterministic seeds.
    */
  test("property: decode(encode(p)) == p with and without norms") {
    val genList = for {
      n <- Gen.chooseNum(0, 700)
      withNorms <- Gen.oneOf(true, false)
      gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 1L << 41))
      tfs <- Gen.listOfN(n, Gen.chooseNum(1, 5000))
      dls <- Gen.listOfN(n, Gen.chooseNum(1, 200000))
      start <- Gen.chooseNum(-1000L, 1L << 50)
    } yield {
      var id = start
      gaps.zip(tfs.zip(dls)).map { case (g, (tf, dl)) =>
        id += g
        Posting(id, tf, if (withNorms) dl else 0)
      }.toArray
    }
    for (i <- 1 to 200) {
      val ps = genList(Gen.Parameters.default, Seed(i.toLong)).get
      val decoded = PostingCodec.decode(PostingCodec.encode(ps))
      assert(decoded.toSeq == ps.toSeq, s"seed $i")
      // cursor agrees with full decode, including doclen
      val cur = new PostingCodec.BlockCursor(PostingCodec.encode(ps))
      var j = 0
      while (cur.next()) {
        assert(cur.docId == ps(j).docId && cur.tf == ps(j).tf &&
          cur.doclen == ps(j).doclen, s"seed $i posting $j")
        j += 1
      }
      assert(j == ps.length)
    }
  }

  test("property: block min-doclen bounds every posting in the block") {
    val rnd = new scala.util.Random(99)
    var id = 0L
    val ps = Array.fill(1000) {
      id += 1 + rnd.nextInt(5)
      Posting(id, 1 + rnd.nextInt(50), 1 + rnd.nextInt(999))
    }
    val cur = new PostingCodec.BlockCursor(PostingCodec.encode(ps))
    var done = false
    while (!done && cur.shallowAdvance(cur.blockLastDocId + 1)) {
      val minDl = cur.currentBlockMinDoclen
      val last = cur.currentBlockLastDocId
      // decode the block via advanceTo and check the bound
      val check = new PostingCodec.BlockCursor(PostingCodec.encode(ps))
      check.advanceTo(cur.blockFirstDocId)
      var ok = true
      while (ok && check.docId <= last) {
        assert(check.doclen >= minDl)
        ok = check.next()
      }
      done = last == ps.last.docId
    }
    assert(done)
  }
}

class PostingCodecSpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    val p = Gen.Parameters.default
    (1 to n).flatMap(i => g.apply(p, Seed(i.toLong)))
  }

  private val postingListGen: Gen[Array[Posting]] = for {
    n <- Gen.chooseNum(0, 1500)
    ids <- Gen.listOfN(n, Gen.chooseNum(Long.MinValue + 1, Long.MaxValue - 1))
    tfs <- Gen.listOfN(n, Gen.chooseNum(1, 5000))
  } yield ids.distinct.sorted.zip(tfs).map { case (d, t) => Posting(d, t) }.toArray

  test("roundtrip: decode(encode(p)) == p") {
    for (ps <- samples(postingListGen, 60)) {
      assert(PostingCodec.decode(PostingCodec.encode(ps)).toSeq == ps.toSeq)
    }
  }

  test("cursor full iteration equals decode") {
    for (ps <- samples(postingListGen, 40)) {
      val cur = new PostingCodec.BlockCursor(PostingCodec.encode(ps))
      val seen = Iterator.continually {
        if (cur.next()) Some(Posting(cur.docId, cur.tf)) else None
      }.takeWhile(_.isDefined).map(_.get).toSeq
      assert(seen == ps.toSeq)
    }
  }

  test("cursor advanceTo lands on first docId >= target") {
    val targets = samples(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue - 1), 40)
    for ((ps, target) <- samples(postingListGen, 40).zip(targets) if ps.nonEmpty) {
      val cur = new PostingCodec.BlockCursor(PostingCodec.encode(ps))
      cur.next()
      val expected = ps.find(_.docId >= target)
      val got = if (cur.advanceTo(target)) Some(Posting(cur.docId, cur.tf)) else None
      if (target <= ps.head.docId) assert(got.contains(ps.head))
      else assert(got == expected, s"target=$target")
    }
    // in-list targets: advance to every other posting of one list
    val ps = samples(postingListGen, 1).head
    var i = 0
    val cur = new PostingCodec.BlockCursor(PostingCodec.encode(ps))
    cur.next()
    while (i < ps.length) {
      assert(cur.advanceTo(ps(i).docId))
      assert(cur.docId == ps(i).docId && cur.tf == ps(i).tf)
      i += 2
    }
  }

  test("cursor interleaved advance pattern with shallow moves") {
    val ps = (0 until 5000).map(i => Posting(i * 7L, (i % 9) + 1)).toArray
    val cur = new PostingCodec.BlockCursor(PostingCodec.encode(ps))
    cur.next()
    assert(cur.advanceTo(35) && cur.docId == 35)
    assert(cur.advanceTo(36) && cur.docId == 42)
    assert(cur.shallowAdvance(20000))
    assert(cur.currentBlockLastDocId >= 20000)
    assert(cur.advanceTo(20000) && cur.docId == 20006) // 7*2858, first >= 20000
    assert(!cur.advanceTo(5000 * 7L + 1))
    assert(cur.exhausted)
  }

  test("block metadata bounds are sound") {
    for (ps <- samples(postingListGen, 30) if ps.nonEmpty) {
      val cur = new PostingCodec.BlockCursor(PostingCodec.encode(ps))
      var i = 0
      while (cur.next()) {
        assert(cur.tf <= cur.currentBlockMaxTf)
        assert(cur.docId <= cur.currentBlockLastDocId)
        i += 1
      }
      assert(i == ps.length)
    }
  }

  test("property: merge of disjoint lists == encode of their sorted union, byte for byte") {
    // 0-16 lists (empty ones included) splitting one docId set, lists long
    // enough to cross block boundaries, norms on and off
    val mergeCase = for {
      nLists <- Gen.chooseNum(0, 16)
      n <- Gen.chooseNum(0, 1500)
      withNorms <- Gen.oneOf(true, false)
      ids <- Gen.listOfN(n, Gen.chooseNum(-1000L, 1L << 45))
      owners <- Gen.listOfN(n, Gen.chooseNum(0, math.max(nLists - 1, 0)))
      tfs <- Gen.listOfN(n, Gen.chooseNum(1, 3000))
      dls <- Gen.listOfN(n, Gen.chooseNum(1, 100000))
    } yield {
      val ps = ids.distinct.sorted.zip(tfs.zip(dls)).map { case (d, (tf, dl)) =>
        Posting(d, tf, if (withNorms) dl else 0)
      }.zip(owners)
      (0 until nLists).map(l => ps.collect { case (p, o) if o == l => p }.toArray)
    }
    for (i <- 1 to 200) {
      val lists = mergeCase(Gen.Parameters.default, Seed(i.toLong)).get
      val union = lists.flatten.sortBy(_.docId).toArray
      val merged = PostingCodec.merge(lists.map(PostingCodec.encode))
      assert(merged.sameElements(PostingCodec.encode(union)), s"seed $i")
      val cur = new PostingCodec.BlockCursor(merged)
      val seen = Iterator.continually(cur.next()).takeWhile(identity)
        .map(_ => Posting(cur.docId, cur.tf, cur.doclen)).toSeq
      assert(seen == union.toSeq, s"seed $i")
    }
  }

  test("compression: dense ids + small tfs stay near 2 bytes/posting") {
    val ps = (0 until 100000).map(i => Posting(i.toLong, 1)).toArray
    val bytes = PostingCodec.encode(ps)
    assert(bytes.length < 100000 * 2 + (100000 / 128 + 1) * 16)
  }
}
