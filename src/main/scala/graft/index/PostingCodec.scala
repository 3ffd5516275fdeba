package graft.index

/** One decoded posting: document id + term frequency + document length in
  * tokens (doclen = 0 on norms-off indexes — the b = 0 reference mode).
  */
final case class Posting(docId: Long, tf: Int, doclen: Int = 0)

/** Delta-gap + variable-byte codec for posting lists, with per-block
  * skip metadata (first/last docId, max tf, min doclen, byte length) so
  * query-time block-max WAND can skip whole blocks without decoding them.
  *
  * Layout (all varints little-endian 7-bit-per-byte, MSB = continuation):
  * {{{
  *   varint  n                  // number of postings
  *   varint  flags              // bit 0: per-posting doclens present
  *   repeat ceil(n/BlockSize) blocks:
  *     varint  count            // postings in this block (<= BlockSize)
  *     varlong firstDelta       // block.firstDocId - prevBlock.lastDocId
  *                              // (zigzag for block 0: docIds may be <0)
  *     varlong span             // lastDocId - firstDocId  (>= 0)
  *     varint  maxTf
  *     varint  minDoclen        // only when flags bit 0 (block-max bound:
  *                              // BM25 weight is max at min doclen)
  *     varint  bodyBytes        // length of body (enables block skip)
  *     body:
  *       varlong gap[i] for i in 1..count-1   // docId[i]-docId[i-1] (>0)
  *       varint  tf[i]-1 for i in 0..count-1
  *       varint  doclen[i]-1 for i in 0..count-1   // only when flags bit 0
  * }}}
  *
  * docIds must be strictly increasing (signed Long order). The reference's
  * backend delegates this to Lucene postings (FOR/PForDelta); varbyte is the
  * from-scratch equivalent the north star names. Block size 128 matches the
  * Lucene skip granularity and keeps block-max bounds tight on skewed terms.
  * Norms-off lists (all doclen = 0, the reference's b = 0 parity mode) set
  * flags = 0 and pay zero extra bytes.
  */
object PostingCodec {
  val BlockSize = 128

  // --- varint primitives ---

  /** Growable byte array: the encoder's one output buffer. */
  private final class ByteSink(capacity: Int) {
    var buf = new Array[Byte](math.max(capacity, 16))
    var pos = 0
    def varLong(v0: Long): Unit = {
      if (pos + 10 > buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2 + 10)
      var v = v0
      while ((v & ~0x7fL) != 0L) {
        buf(pos) = ((v & 0x7f) | 0x80).toByte
        pos += 1
        v >>>= 7
      }
      buf(pos) = v.toByte
      pos += 1
    }
    def append(o: ByteSink): Unit = {
      if (pos + o.pos > buf.length) buf = java.util.Arrays.copyOf(buf, (pos + o.pos) * 2)
      System.arraycopy(o.buf, 0, buf, pos, o.pos)
      pos += o.pos
    }
    def result(): Array[Byte] = if (pos == buf.length) buf else java.util.Arrays.copyOf(buf, pos)
  }

  @inline private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  final class Reader(val bytes: Array[Byte], var pos: Int) {
    def readVarLong(): Long = {
      var b = bytes(pos) & 0xff
      pos += 1
      var v = (b & 0x7f).toLong
      var shift = 7
      while ((b & 0x80) != 0) {
        b = bytes(pos) & 0xff
        pos += 1
        v |= (b & 0x7f).toLong << shift
        shift += 7
      }
      v
    }
    def readVarInt(): Int = readVarLong().toInt
  }

  // --- encode ---

  /** Writes `n` postings, added in strictly increasing docId order, as one
    * list: the encoder behind both `encode` and `merge`, so the two are
    * byte-identical by construction.
    */
  private final class ListWriter(n: Int, hasNorms: Boolean, sizeHint: Int) {
    private val out = new ByteSink(sizeHint)
    private val body = new ByteSink(BlockSize * 4)
    private val ids = new Array[Long](BlockSize)
    private val tfs = new Array[Int](BlockSize)
    private val dls = new Array[Int](BlockSize)
    private var count = 0
    private var prevLast = 0L
    private var firstBlock = true
    out.varLong(n.toLong)
    out.varLong(if (hasNorms) 1L else 0L)

    def add(docId: Long, tf: Int, doclen: Int): Unit = {
      ids(count) = docId; tfs(count) = tf; dls(count) = doclen
      count += 1
      if (count == BlockSize) flush()
    }

    private def flush(): Unit = {
      body.pos = 0
      var maxTf = 0
      var minDoclen = Int.MaxValue
      var i = 0
      while (i < count) {
        if (i > 0) body.varLong(ids(i) - ids(i - 1))
        if (tfs(i) > maxTf) maxTf = tfs(i)
        if (dls(i) < minDoclen) minDoclen = dls(i)
        i += 1
      }
      i = 0
      while (i < count) { body.varLong((tfs(i) - 1).toLong); i += 1 }
      if (hasNorms) {
        i = 0
        while (i < count) { body.varLong(math.max(dls(i) - 1, 0).toLong); i += 1 }
      }
      val first = ids(0)
      val last = ids(count - 1)
      out.varLong(count.toLong)
      out.varLong(if (firstBlock) zigzag(first) else first - prevLast)
      out.varLong(last - first)
      out.varLong(maxTf.toLong)
      if (hasNorms) out.varLong(minDoclen.toLong)
      out.varLong(body.pos.toLong)
      out.append(body)
      prevLast = last
      firstBlock = false
      count = 0
    }

    def result(): Array[Byte] = {
      if (count > 0) flush()
      out.result()
    }
  }

  /** Encode a strictly-increasing (by docId) posting list. Doclens are
    * stored iff any posting carries one (norms-on index).
    */
  def encode(postings: Array[Posting]): Array[Byte] = {
    val w = new ListWriter(postings.length, postings.exists(_.doclen > 0),
      postings.length * 3 + 16)
    var i = 0
    while (i < postings.length) {
      val p = postings(i)
      w.add(p.docId, p.tf, p.doclen)
      i += 1
    }
    w.result()
  }

  /** One list holding the postings of `lists`, whose docIds are disjoint:
    * byte-identical to `encode` of their sorted union. A k-way merge over
    * BlockCursors, written block by block with no Posting per entry; a
    * single non-empty list is returned as is.
    */
  def merge(lists: Seq[Array[Byte]]): Array[Byte] = {
    val nonEmpty = lists.filter(new BlockCursor(_).totalDocs > 0)
    if (nonEmpty.length == 1) return nonEmpty.head
    val cursors = nonEmpty.map(new BlockCursor(_)).toArray
    val w = new ListWriter(cursors.map(_.totalDocs).sum, cursors.exists(_.hasNorms),
      nonEmpty.map(_.length).sum + 16)
    cursors.foreach(_.next())
    var live = cursors.length
    while (live > 0) {
      var m = 0
      var i = 1
      while (i < live) {
        if (cursors(i).docId < cursors(m).docId) m = i
        i += 1
      }
      val c = cursors(m)
      w.add(c.docId, c.tf, c.doclen)
      if (!c.next()) {
        live -= 1
        cursors(m) = cursors(live)
      }
    }
    w.result()
  }

  /** Full decode (test/oracle path; query path uses BlockCursor). */
  def decode(bytes: Array[Byte]): Array[Posting] = {
    val r = new Reader(bytes, 0)
    val n = r.readVarInt()
    val norms = (r.readVarInt() & 1) != 0
    val out = new Array[Posting](n)
    var written = 0
    var prevLast = 0L
    var firstBlock = true
    while (written < n) {
      val count = r.readVarInt()
      val firstRaw = r.readVarLong()
      val first = if (firstBlock) unzigzag(firstRaw) else prevLast + firstRaw
      r.readVarLong() // span
      r.readVarInt() // maxTf
      if (norms) r.readVarInt() // minDoclen
      r.readVarInt() // bodyBytes
      val ids = new Array[Long](count)
      ids(0) = first
      var i = 1
      while (i < count) { ids(i) = ids(i - 1) + r.readVarLong(); i += 1 }
      val tfs = new Array[Int](count)
      i = 0
      while (i < count) { tfs(i) = r.readVarInt() + 1; i += 1 }
      i = 0
      while (i < count) {
        val dl = if (norms) r.readVarInt() + 1 else 0
        out(written + i) = Posting(ids(i), tfs(i), dl)
        i += 1
      }
      prevLast = ids(count - 1)
      firstBlock = false
      written += count
    }
    out
  }

  /** Streaming cursor with block-level skipping — the WAND iterator.
    *
    * Protocol: call `next()` / `advanceTo(target)`; when `exhausted` is
    * false, (`docId`, `tf`) hold the current posting. Block metadata for
    * the CURRENT block is exposed via `blockLastDocId` / `blockMaxTf`,
    * letting WAND skip to the next block without decoding the body.
    */
  final class BlockCursor(bytes: Array[Byte]) {
    private val r = new Reader(bytes, 0)
    val totalDocs: Int = r.readVarInt()
    val hasNorms: Boolean = (r.readVarInt() & 1) != 0

    private var remaining = totalDocs
    private var prevLast = 0L
    private var firstBlock = true

    // current block state
    private var blkIds: Array[Long] = null
    private var blkTfs: Array[Int] = null
    private var blkDls: Array[Int] = null
    private var blkCount = 0
    private var blkIdx = 0
    // next-block header peeked state
    var blockFirstDocId: Long = 0L
    var blockLastDocId: Long = 0L
    var blockMaxTf: Int = 0
    var blockMinDoclen: Int = 0
    private var blockBodyPos = 0
    private var blockBodyLen = 0
    private var headerLoaded = false

    var exhausted: Boolean = totalDocs == 0
    var docId: Long = Long.MinValue
    var tf: Int = 0
    var doclen: Int = 0

    /** Load the next block header (cheap) without decoding the body. */
    private def loadHeader(): Boolean = {
      if (headerLoaded) return true
      if (remaining <= 0) { exhausted = true; return false }
      blkCount = r.readVarInt()
      val firstRaw = r.readVarLong()
      blockFirstDocId =
        if (firstBlock) unzigzag(firstRaw) else prevLast + firstRaw
      blockLastDocId = blockFirstDocId + r.readVarLong()
      blockMaxTf = r.readVarInt()
      blockMinDoclen = if (hasNorms) r.readVarInt() else 0
      blockBodyLen = r.readVarInt()
      blockBodyPos = r.pos
      headerLoaded = true
      true
    }

    /** Skip the current (header-loaded, body-undecoded) block entirely. */
    private def skipBlock(): Unit = {
      r.pos = blockBodyPos + blockBodyLen
      prevLast = blockLastDocId
      firstBlock = false
      remaining -= blkCount
      headerLoaded = false
      blkIds = null
    }

    /** Decode the current block body. */
    private def decodeBlock(): Unit = {
      r.pos = blockBodyPos
      if (blkIds == null || blkIds.length < blkCount) {
        blkIds = new Array[Long](BlockSize)
        blkTfs = new Array[Int](BlockSize)
        blkDls = new Array[Int](BlockSize)
      }
      blkIds(0) = blockFirstDocId
      var i = 1
      while (i < blkCount) { blkIds(i) = blkIds(i - 1) + r.readVarLong(); i += 1 }
      i = 0
      while (i < blkCount) { blkTfs(i) = r.readVarInt() + 1; i += 1 }
      if (hasNorms) {
        i = 0
        while (i < blkCount) { blkDls(i) = r.readVarInt() + 1; i += 1 }
      } else java.util.Arrays.fill(blkDls, 0, blkCount, 0)
      prevLast = blockLastDocId
      firstBlock = false
      remaining -= blkCount
      headerLoaded = false
      blkIdx = 0
    }

    /** Advance to the next posting. */
    def next(): Boolean = {
      if (exhausted) return false
      if (blkIds != null && blkIdx + 1 < blkCount) {
        blkIdx += 1
      } else {
        blkIds = null
        if (!loadHeader()) return false
        decodeBlock()
      }
      docId = blkIds(blkIdx)
      tf = blkTfs(blkIdx)
      doclen = blkDls(blkIdx)
      true
    }

    /** Advance to the first posting with docId >= target (block-skipping). */
    def advanceTo(target: Long): Boolean = {
      if (exhausted) return false
      if (docId >= target && blkIds != null) return true
      // fast-forward within current decoded block
      if (blkIds != null) {
        while (blkIdx + 1 < blkCount && blkIds(blkIdx) < target) blkIdx += 1
        if (blkIds(blkIdx) >= target) {
          docId = blkIds(blkIdx); tf = blkTfs(blkIdx); doclen = blkDls(blkIdx)
          return true
        }
        blkIds = null
      }
      // skip whole blocks whose last docId < target
      while (loadHeader() && blockLastDocId < target) skipBlock()
      if (exhausted) return false
      decodeBlock()
      while (blkIdx < blkCount && blkIds(blkIdx) < target) blkIdx += 1
      // block.last >= target guarantees we stop inside the block
      docId = blkIds(blkIdx)
      tf = blkTfs(blkIdx)
      doclen = blkDls(blkIdx)
      true
    }

    /** Header-only advance: position block metadata at the first block whose
      * lastDocId >= target WITHOUT decoding any block body. After this,
      * `blockMaxTf` / `blockLastDocId` bound the block containing `target`
      * (if any) — the shallow move of block-max WAND. The current posting
      * (`docId`/`tf`) becomes stale until the next `advanceTo`/`next`.
      * Returns false iff the list is exhausted before target.
      */
    def shallowAdvance(target: Long): Boolean = {
      if (exhausted) return false
      val blockValid = blkIds != null || headerLoaded
      if (blockValid && target <= blockLastDocId) return true
      if (blkIds != null) blkIds = null
      while (loadHeader() && blockLastDocId < target) skipBlock()
      !exhausted
    }

    /** Max tf over the current block — the block-max WAND pruning bound.
      * (Upper bound for the whole list is carried separately as the term's
      * global/shard max tf.)
      */
    def currentBlockMaxTf: Int = blockMaxTf
    def currentBlockLastDocId: Long = blockLastDocId
    /** Min doclen over the current block — BM25 weight is maximal at the
      * smallest doc length, so (maxTf, minDoclen) bounds the block under
      * norms-on scoring; 0 on norms-off lists.
      */
    def currentBlockMinDoclen: Int = blockMinDoclen
  }
}
