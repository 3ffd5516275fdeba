package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Build-time configuration.
  *
  * @param numBuckets    logical layout: (term,salt) hash buckets, one
  *                      `segments/bucket=` directory (one file) each. Sized so
  *                      one bucket's postings fit executor memory at target
  *                      scale; at 100 TB this is thousands, locally 32. Stage 3
  *                      writes them with min(numBuckets, defaultParallelism)
  *                      tasks, each a contiguous bucket range.
  * @param saltThreshold df above which a term's posting list is split across
  *                      power-of-two salt shards (explicit skew handling for
  *                      hot terms like `import` / `def` — north_rule).
  * @param maxSalts      cap on shards per term (power of two).
  */
final case class IndexConfig(
    numBuckets: Int = 32,
    saltThreshold: Long = 50000L,
    maxSalts: Int = 32,
    k1: Double = 1.2,
    b: Double = 0.0,
    /** logical layout: doc shards for dense docId assignment
      * (docId = shard << 40 | rank, shard = pmod(hash(repo, path, commit),
      * docShards)); fixed per index, so docIds depend on this count, never
      * on the task count. Stage 1 writes with min(docShards,
      * defaultParallelism) tasks, each a contiguous shard range. */
    docShards: Int = 64,
    /** named analyzer (graft.analyzer.Analyzers) applied at index AND query
      * time — recorded in the manifest so readers stay symmetric */
    analyzer: String = graft.analyzer.Analyzers.Standard)

/** One stored posting shard: the postings of `term` restricted to docs whose
  * salt (mix64(docId) & (numSalts-1)) equals `salt`, delta-gap varbyte
  * encoded with block-max metadata.
  */
final case class SegmentRow(
    term: String, salt: Int, numSalts: Int,
    shardDf: Long, maxTf: Int, postings: Array[Byte], bucket: Int)

/** Internal row of the forward index (docs/ table). Top-level on purpose:
  * nested inside the object, Spark's generated code references
  * `IndexBuilder$DocRow` and janino fails to resolve the accessor methods,
  * silently dropping the encoder projection of the HOTTEST build stage to
  * interpreted mode ("Expr codegen error ... falling back" in stderr).
  */
private[index] final case class DocRow(docId: Long, repo: String,
    path: String, commit: String, lang: String, sha256: String,
    tfs: Map[String, Int], doclen: Int)

/** Inverted-index construction over an Iceberg-shaped corpus
  * `(repo, path, commit, lang, content)`.
  *
  * Dataflow:
  * {{{
  *   corpus ─ docShard = pmod(hash(key), docShards) ─ exchange of shard
  *            ranges onto ≤ defaultParallelism tasks ─ (shard, key) sort ─
  *            one pass: dense docId + sha256 + analyze/tf ─► docs/
  *            (+ per-docShard docs, doclen sum, fingerprint sum)
  *   docs ─ per-partition dict partials (term, df, cf, maxTf) ─
  *          groupBy(term) of |vocab|-sized partials ─► dict/
  *          (+ hot-term map, observed on the write)
  *   docs ─ per-partition COMPLETE compressed partial posting lists per
  *          (term, salt) ─ shuffle one byte-array per (partition,term,salt)
  *          onto ≤ defaultParallelism tasks of bucket ranges ─
  *          ordered concat-merge per (term, salt) ─► segments/ (bucket dirs)
  *          (+ per-bucket shards, postings, posting bytes)
  *   stage 3's per-bucket figures ─ one driver-written file ─► lineage/
  *   stats + sizing summed from the figures; manifest vN + atomic
  *   pointer swap ─► meta/
  * }}}
  * The figures in parentheses ride on the stage's own write (an
  * accumulator on the write's result stage, or an `Observation`) and are
  * kept as the stage's `StageSummary`; no stage reads back what an earlier
  * one wrote to learn a count.
  *
  * A delta (`buildDelta`) runs the same five stages as generation N+1
  * layered on a base snapshot; a full build is the delta with no base.
  * {{{
  *   1  corpus ─ dropDuplicates(key) ─ left-anti join on the base keys;
  *      each docShard's ranks start after its base doc count ─► docs/
  *   2  base dict ∪ delta partials ─ groupBy(term); existing terms keep
  *      their FROZEN salt counts ─► dict/ (rewritten whole)
  *   3-4  segments/ and lineage/ of the delta's docs only
  *   5  stats and sizing summed over the base generations' and the delta's
  *      summaries; the manifest's baseVersions = base.allVersions
  *      (manifest union)
  * }}}
  *
  * Scale properties: corpus content is exchanged exactly once (docId
  * assignment); the posting exchange carries compressed partial lists —
  * byte volume ≈ final index size and row count = |vocab| x partitions, not
  * one row per posting. Hot terms are split across salt shards BEFORE the
  * shuffle, so no reducer receives a whole skewed posting list (north_rule
  * skew handling). Dense docIds over per-shard key order keep delta gaps in
  * the 1-2 byte range AND make each docs partition a contiguous docId range,
  * so the merge is ordered concatenation, not a k-way heap.
  *
  * Resume, in both modes: each stage leaves a parquet `_SUCCESS` marker and
  * a `_GRAFT_STAMP` build token; re-running the same version resumes after
  * the last complete stage (checkpoint resumability per north_rule). The
  * token names the base generations, so a delta and a full build at the
  * same version number never reuse each other's stage output. A stage
  * counts as complete only with its summary, and later stages read the
  * summaries whether the earlier stages ran or resumed.
  */
object IndexBuilder {

  private def toHex(bytes: Array[Byte]): String =
    java.util.HexFormat.of().formatHex(bytes)

  /** Places rows by `key`, a logical partition number in [0, logical), on
    * min(logical, defaultParallelism) write tasks: task t takes the
    * contiguous key range [t * logical / tasks, (t + 1) * logical / tasks),
    * so no task holds more than ceil(logical / tasks) keys.
    */
  private def byRange(df: DataFrame, key: String, logical: Int): DataFrame = {
    val tasks = math.min(logical, df.sparkSession.sparkContext.defaultParallelism)
    df.repartitionById(tasks, (col(key) * tasks / logical).cast(IntegerType))
  }

  /** Per-partition (term, df, cf, maxTf) dictionary partials — map-side
    * pre-aggregation by hand: each partition folds its tf maps into one
    * HashMap; the exchange carries |vocab| x partitions skinny rows instead
    * of one row per posting. InternalRow scan: fold MapData directly (the
    * encoder path allocates ~|doc| objects per row and GC dominates past a
    * few cores).
    */
  private def dictPartials(spark: SparkSession, docs: DataFrame): DataFrame = {
    final class Stat { var df = 0L; var cf = 0L; var maxTf = 0 }
    val partialRdd = docs.select(col("tfs")).queryExecution.toRdd
      .mapPartitions { rows =>
        val acc = new java.util.HashMap[UTF8String, Stat]()
        rows.foreach { r =>
          val m = r.getMap(0)
          val keys = m.keyArray()
          val vals = m.valueArray()
          var i = 0
          val n = m.numElements()
          while (i < n) {
            val k = keys.getUTF8String(i) // transient: backed by row buffer
            val tf = vals.getInt(i)
            var s = acc.get(k)
            if (s == null) { s = new Stat; acc.put(k.clone(), s) }
            s.df += 1
            s.cf += tf
            if (tf > s.maxTf) s.maxTf = tf
            i += 1
          }
        }
        val out = new ArrayBuffer[(String, Long, Long, Int)](acc.size())
        acc.forEach((k, s) => out += ((k.toString, s.df, s.cf, s.maxTf)))
        out.iterator
      }
    spark.createDataset(partialRdd)(Encoders.product[(String, Long, Long, Int)])
      .toDF("term", "df", "cf", "maxTf")
  }

  /** Stage 3 body — two-phase posting build + ordered concat merge, written
    * bucket-partitioned to `segmentsDir`. Phase A (map side): each docs
    * partition builds COMPLETE compressed partial posting lists per
    * (term, salt) for its doc range; the exchange carries one byte-array
    * per (partition, term, salt) — posting-count-independent row count,
    * ~160x fewer rows and a fraction of the bytes of a per-posting shuffle.
    * Phase B (reduce side) k-way merges a shard's partials with
    * `PostingCodec.merge`. Hot terms split across salts BEFORE the
    * shuffle, so no reducer receives a whole skewed posting list
    * (north_rule skew handling).
    */
  private def writeSegments(spark: SparkSession, docs: DataFrame,
      hotTerms: Map[String, Int], segmentsDir: String, numBuckets: Int,
      storeNorms: Boolean): Seq[String] = {
    import spark.implicits._
    val hotB = spark.sparkContext.broadcast(hotTerms)
    val figures = spark.sparkContext.collectionAccumulator[Array[Long]]("segments")
    val storeNormsL = storeNorms
    val partialRdd = docs.select(col("docId"), col("tfs"), col("doclen"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        final class Buf(val numSalts: Int) {
          // one growable (ids, tfs, dls) triple per salt shard of this term
          val ids = Array.fill(numSalts)(new Array[Long](4))
          val tfs = Array.fill(numSalts)(new Array[Int](4))
          val dls = Array.fill(numSalts)(new Array[Int](4))
          val n = new Array[Int](numSalts)
          def add(salt: Int, id: Long, tf: Int, dl: Int): Unit = {
            if (n(salt) == ids(salt).length) {
              ids(salt) = java.util.Arrays.copyOf(ids(salt), n(salt) * 2)
              tfs(salt) = java.util.Arrays.copyOf(tfs(salt), n(salt) * 2)
              dls(salt) = java.util.Arrays.copyOf(dls(salt), n(salt) * 2)
            }
            ids(salt)(n(salt)) = id
            tfs(salt)(n(salt)) = tf
            dls(salt)(n(salt)) = dl
            n(salt) += 1
          }
        }
        val hot = hotB.value
        val acc = new java.util.HashMap[UTF8String, Buf]()
        rows.foreach { r =>
          val docId = r.getLong(0)
          val m = r.getMap(1)
          val dl = if (storeNormsL) r.getInt(2) else 0
          val keys = m.keyArray()
          val vals = m.valueArray()
          var i = 0
          val nEl = m.numElements()
          while (i < nEl) {
            val k = keys.getUTF8String(i)
            var buf = acc.get(k)
            if (buf == null) {
              buf = new Buf(hot.getOrElse(k.toString, 1))
              acc.put(k.clone(), buf)
            }
            buf.add(Hashing.saltOf(docId, buf.numSalts), docId, vals.getInt(i), dl)
            i += 1
          }
        }
        val out = new ArrayBuffer[(String, Int, Int, Long, Long, Int, Array[Byte], Int)](acc.size())
        acc.forEach { (k, buf) =>
          val term = k.toString
          var salt = 0
          while (salt < buf.numSalts) {
            val cnt = buf.n(salt)
            if (cnt > 0) {
              val ids = buf.ids(salt)
              val tfs = buf.tfs(salt)
              val dls = buf.dls(salt)
              // rows arrive docId-ascending per contiguous file split; an
              // interleaved multi-split partition needs a local sort
              var monotonic = true
              var maxTf = 0
              var i = 0
              while (i < cnt) {
                if (i > 0 && ids(i) <= ids(i - 1)) monotonic = false
                if (tfs(i) > maxTf) maxTf = tfs(i)
                i += 1
              }
              val arr = new Array[Posting](cnt)
              i = 0
              while (i < cnt) { arr(i) = Posting(ids(i), tfs(i), dls(i)); i += 1 }
              if (!monotonic)
                java.util.Arrays.sort(arr, Ordering.by((p: Posting) => p.docId))
              out += ((term, salt, buf.numSalts, arr(0).docId, cnt.toLong,
                maxTf, PostingCodec.encode(arr),
                Hashing.bucketOf(term, salt, numBuckets)))
            }
            salt += 1
          }
        }
        out.iterator
      }
    val partials = spark.createDataset(partialRdd)(
      Encoders.product[(String, Int, Int, Long, Long, Int, Array[Byte], Int)])

    // Phase B: co-locate by bucket, order runs by (term, salt, firstDocId),
    // merge each run's partials into the final shard
    val segs: Dataset[SegmentRow] = byRange(partials.toDF("term", "salt",
        "numSalts", "firstDocId", "shardDf", "maxTf", "bytes", "bucket"),
        "bucket", numBuckets)
      .sortWithinPartitions("term", "salt", "firstDocId")
      .as[(String, Int, Int, Long, Long, Int, Array[Byte], Int)]
      .mapPartitions { it =>
        val in = it.buffered
        // bucket -> (shards, postings, posting bytes) of this task's rows
        val byBucket = scala.collection.mutable.LongMap.empty[Array[Long]]
        new Iterator[SegmentRow] {
          override def hasNext: Boolean = in.hasNext
          override def next(): SegmentRow = {
            val head = in.next()
            val (term, salt, numSalts, _, _, _, _, bucket) = head
            var df = head._5
            var maxTf = head._6
            val parts = ArrayBuffer(head._7)
            while (in.hasNext && in.head._1 == term &&
              in.head._2 == salt) {
              val p = in.next()
              df += p._5
              if (p._6 > maxTf) maxTf = p._6
              parts += p._7
            }
            require(df <= Int.MaxValue,
              s"(term=$term, salt=$salt) shard has $df postings > Int.MaxValue" +
                " — raise maxSalts/saltThreshold so shards stay addressable")
            // each doc lives in exactly one docs partition, so the partials
            // are disjoint even where a scan that packed non-adjacent files
            // into one partition makes their docId ranges overlap
            val row = SegmentRow(term, salt, numSalts, df, maxTf,
              PostingCodec.merge(parts.toSeq), bucket)
            val f = byBucket.getOrElseUpdate(bucket, new Array[Long](3))
            f(0) += 1; f(1) += df; f(2) += row.postings.length
            row
          }
        } ++ { byBucket.foreach { case (b, f) => figures.add(b +: f) }; Iterator.empty }
      }
    segs.write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(segmentsDir)
    StageSummary.fold(figures.value.asScala.toSeq)
  }

  def build(
      corpus: DataFrame,
      indexDir: String,
      cfg: IndexConfig = IndexConfig(),
      versionOpt: Option[Int] = None,
      onStageTime: (String, Double) => Unit = (_, _) => ()): SnapshotMeta =
    run(corpus, indexDir, cfg, versionOpt.getOrElse(nextVersion(indexDir)),
      None, onStageTime)

  /** Incremental (delta) build — the streaming-scale path: index ONLY
    * `newCorpus` as generation N+1 LAYERED on the current snapshot instead
    * of rebuilding everything. The offsets and the stats come from the base
    * generations' stage summaries, and the postings, lineage and summaries
    * are the batch's alone. Two parts still grow with the base: stage 1's
    * key anti-join scans the keys of every base generation's docs, and
    * stage 2 rewrites the whole dictionary. With no snapshot yet this is a
    * full build.
    *
    * Contract (same on-disk format, manifest-union semantics):
    *  - new docs continue each docShard's dense rank (per-shard base offsets
    *    from the previous generations) → docId ranges are DISJOINT from and
    *    sort after the existing docs in every shard;
    *  - rows whose (repo, path, commit) already exist are skipped (the
    *    reference's upsert identity);
    *  - the dict is rewritten WHOLE with merged stats (it is |vocab|-sized);
    *    existing terms keep their salt counts — every already-stored segment
    *    stays addressable by the dict's salt algebra (a term that grows hot
    *    re-salts at the next compaction, documented trade);
    *  - only the delta's postings are built; readers union docs/segments
    *    across `meta.baseVersions` and WAND treats the extra generation
    *    lists as additional shards (disjoint docIds → no double count);
    *  - compaction = a fresh full `build` (StreamingIngest auto-compacts
    *    past a chain-length threshold).
    */
  def buildDelta(newCorpus: DataFrame, indexDir: String,
      cfg: IndexConfig = IndexConfig(),
      onStageTime: (String, Double) => Unit = (_, _) => ()): SnapshotMeta = {
    val prevOpt = Snapshot.load(indexDir)
    // a stale-format snapshot must NOT silently become a full build of just
    // this batch — that would swap the pointer to an index missing every
    // previously indexed doc; the caller owns the full corpus and must
    // rebuild from it (StreamingIngest does exactly that)
    prevOpt.foreach(Snapshot.requireCurrentFormat(indexDir, _))
    prevOpt.foreach(prev => require(prev.numBuckets == cfg.numBuckets &&
      prev.maxSalts == cfg.maxSalts && prev.k1 == cfg.k1 && prev.b == cfg.b &&
      prev.analyzer == cfg.analyzer,
      "delta builds must use the snapshot's own IndexConfig"))
    run(newCorpus, indexDir, cfg, nextVersion(indexDir), prevOpt, onStageTime)
  }

  private def nextVersion(indexDir: String): Int =
    Snapshot.listVersions(indexDir).lastOption.getOrElse(0) + 1

  /** The one five-stage body (see the object doc): a full build of `corpus`
    * when `base` is None, else a delta of `corpus` layered on `base`. Stages
    * report to `onStageTime` as `stage1 docs` … `stage5 stats` in full mode
    * and `delta1 docs` … `delta5 stats` in delta mode, plus
    * `hot-term collect` in both.
    */
  private def run(corpus: DataFrame, indexDir: String, cfg: IndexConfig,
      version: Int, base: Option[SnapshotMeta],
      onStageTime: (String, Double) => Unit): SnapshotMeta = {
    // b = 0 (the reference's norms-off mode, create.py:177) stores no
    // doclens and pays zero codec overhead; b > 0 stores per-posting norms
    // (doclen) so standard BM25 length normalization scores from the
    // postings alone — no side lookup at query time.
    val storeNorms = cfg.b > 0.0
    val spark = corpus.sparkSession
    import spark.implicits._

    val baseVersions = base.fold(Seq.empty[Int])(_.allVersions)
    def dirs(table: String): Seq[String] =
      (baseVersions :+ version).map(v => s"$indexDir/v$v/$table")
    val docsDir = s"$indexDir/v$version/docs"
    val dictDir = s"$indexDir/v$version/dict"
    val segmentsDir = s"$indexDir/v$version/segments"
    val lineageDir = s"$indexDir/v$version/lineage"

    // Stage-resume safety (round-1 advice): a _SUCCESS marker alone would
    // let a crashed version re-run with a DIFFERENT corpus or config reuse
    // stale stage outputs. Every completed stage is stamped with a build
    // token = hash of (config, input schema, input files, normalized plan,
    // base generations); a mismatch rebuilds the stage. (In-memory test
    // corpora with identical schemas hash alike — acceptable: versions are
    // fresh per build and resume only ever applies to a same-version re-run.)
    val buildToken: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val planNorm = corpus.queryExecution.analyzed.toString
        .replaceAll("#\\d+", "")
      val idText = cfg.toString + "\u0000" + corpus.schema.catalogString +
        "\u0000" + corpus.inputFiles.sorted.mkString(",") + "\u0000" + planNorm +
        base.fold("")("\u0000" + _.allVersions.mkString(","))
      toHex(md.digest(idText.getBytes(UTF_8)))
    }
    def stampPath(dir: String) = Paths.get(dir, "_GRAFT_STAMP")
    def done(dir: String): Boolean =
      new java.io.File(dir, "_SUCCESS").exists() &&
        Files.exists(StageSummary.path(dir)) && Files.exists(stampPath(dir)) &&
        new String(Files.readAllBytes(stampPath(dir)), UTF_8) == buildToken

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      onStageTime(label, (System.nanoTime() - t0) / 1e9)
      r
    }
    val mode = if (base.isEmpty) "stage" else "delta"
    // stage n writes `dir` and its summary unless a completed, same-token
    // output is there; every later stage reads the summary either way
    def stage(n: Int, name: String, dir: String)(write: => Seq[String]): Seq[String] = {
      if (!done(dir)) timed(s"$mode$n $name") {
        StageSummary.write(dir, write)
        Files.write(stampPath(dir), buildToken.getBytes(UTF_8))
      }
      StageSummary.read(dir).get
    }

    // ---- stage 1: forward index (docId, metadata, sha256, tfs, doclen) ----
    // Bucket-dense docIds: docId = docShard << 40 | rankWithinShard, where
    // docShard = pmod(hash(repo,path,commit), docShards) and the rank follows
    // the per-shard lexicographic key order. Properties:
    //  - deterministic at ANY parallelism (shard and rank are pure functions
    //    of row values + the fixed docShards config — north_rule N vs 4N);
    //    the write runs min(docShards, defaultParallelism) tasks
    //  - dense within shard runs → delta gaps stay 1-2 bytes (uniform hash
    //    ids would leave ~45-bit gaps: incompressible); one large jump per
    //    shard boundary per posting list is amortized away by varlong
    //  - ONE exchange of the corpus, a contiguous shard range per task, so
    //    each docs file is an ascending docId range; no global sort, no
    //    range-sampling job, no zipWithIndex passes
    // The analyze pass (sha256 + tf map) rides the same pass that assigns
    // ids, so corpus content is read and materialized exactly once.
    // stage 1's offsets and stage 5's totals: the base generations'
    // per-docShard figures, never a rescan of their docs
    lazy val baseDocFigures = dirs("docs").init.flatMap(StageSummary.docFigures(spark, _))
    val docFigureLines = stage(1, "docs", docsDir) {
      val rows = corpus
        .select(col("repo"), col("path"), col("commit"), col("lang"), col("content"))
      val baseDocs = base.map(prev => spark.read.schema(IndexSchemas.docs)
        .parquet(prev.docsDirs(indexDir): _*))
      // per-shard dense-rank offsets (docShard = docId >>> 40): a delta
      // continues each shard after its base docs, a full build starts at 0.
      // At most docShards entries, so the map rides in the task closure.
      val offsets: Map[Long, Long] =
        baseDocFigures.groupMapReduce(_(0))(_(1))(_ + _)
      // (shard, docs, doclen sum, xxhash64(sha256) sum) per task and shard,
      // added once per partition: the write's result stage runs this pass
      val figures = spark.sparkContext.collectionAccumulator[Array[Long]]("docs")
      // a delta skips keys the base already indexes (upsert identity)
      val fresh = baseDocs.fold(rows)(prev => rows
        .dropDuplicates("repo", "path", "commit")
        .join(prev.select("repo", "path", "commit"),
          Seq("repo", "path", "commit"), "left_anti")
        .select("repo", "path", "commit", "lang", "content"))
      val analyzerName = cfg.analyzer
      // the shard is the row's own, never the task's: a task holds a run of
      // shards, and the rank restarts at each shard boundary
      byRange(fresh.withColumn("shard",
          pmod(hash(col("repo"), col("path"), col("commit")), lit(cfg.docShards))),
        "shard", cfg.docShards)
        .sortWithinPartitions("shard", "repo", "path", "commit")
        .as[(String, String, String, String, String, Int)]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          var shard = -1L
          var i = 0L
          val f = new Array[Long](3) // docs, doclen sum, fingerprint sum
          def flush(): Unit =
            if (f(0) > 0) { figures.add(shard +: f.clone()); java.util.Arrays.fill(f, 0L) }
          it.map { case (repo, path, commit, lang, content, s) =>
            if (s != shard) { flush(); shard = s; i = offsets.getOrElse(shard, 0L) }
            val docId = (shard << 40) | i
            i += 1
            md.reset()
            val sha = toHex(md.digest(content.getBytes(UTF_8)))
            val tfs = graft.analyzer.Analyzers.termFrequencies(analyzerName, content)
            var doclen = 0
            var j = 0
            while (j < tfs.length) { doclen += tfs(j)._2; j += 1 }
            // Spark's xxhash64(sha256): the fingerprint stage 5 sums
            f(0) += 1; f(1) += doclen
            f(2) += XxHash64Function.hash(UTF8String.fromString(sha), StringType, 42L)
            DocRow(docId, repo, path, commit, lang, sha, tfs.toMap, doclen)
          } ++ { flush(); Iterator.empty }
        }
        .write.mode(SaveMode.Overwrite).parquet(docsDir)
      StageSummary.fold(figures.value.asScala.toSeq)
    }
    val docs = spark.read.schema(IndexSchemas.docs).parquet(docsDir)

    // ---- stage 2: term dictionary / stats ----
    // Map-side pre-aggregation by hand: each partition folds its tf maps
    // into one HashMap and emits per-partition (term, df, cf, maxTf)
    // partials — the exchange carries |vocab| x partitions skinny rows
    // instead of one row per posting (~160x fewer at code-corpus shapes).
    val hotLines = stage(2, "dict", dictDir) {
      val saltThreshold = cfg.saltThreshold
      val maxSalts = cfg.maxSalts
      val numSaltsU = udf((df: Long) => Hashing.numSaltsFor(df, saltThreshold, maxSalts))
      val partials = dictPartials(spark, docs)
        .groupBy("term")
        .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"))
      // a delta merges the base dict's stats; existing terms keep their salt
      // counts, so every stored segment stays addressable
      val dict = base.fold(partials.withColumn("numSalts", numSaltsU(col("df")))) { prev =>
        spark.read.schema(IndexSchemas.dict).parquet(prev.dictDir(indexDir))
          .select(col("term"), col("df"), col("cf"), col("maxTf"),
            col("numSalts").as("oldSalts"))
          .unionByName(partials.withColumn("oldSalts", lit(null).cast(IntegerType)))
          .groupBy("term")
          .agg(sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"),
            max("oldSalts").as("oldSalts"))
          .withColumn("numSalts", coalesce(col("oldSalts"), numSaltsU(col("df"))))
          .drop("oldSalts")
      }
      // hot terms ride on the write: tiny by construction (df > saltThreshold)
      val hot = Observation()
      dict.observe(hot, collect_list(when(col("numSalts") > 1,
          struct(col("numSalts"), col("term")))).as("hot"))
        .write.mode(SaveMode.Overwrite).parquet(dictDir)
      hot.get("hot").asInstanceOf[scala.collection.Seq[Row]].toSeq
        .map(r => s"${r.getInt(0)}\t${r.getString(1)}")
    }
    val hotTerms: Map[String, Int] = timed("hot-term collect")(hotLines.map { l =>
      val Array(salts, term) = l.split("\t", 2)
      term -> salts.toInt
    }.toMap)

    // ---- stage 3: posting segments of this generation's docs ----
    val segmentLines = stage(3, "segments", segmentsDir) {
      writeSegments(spark, docs, hotTerms, segmentsDir, cfg.numBuckets, storeNorms)
    }

    // ---- stage 4: per-bucket lineage + metrics, from stage 3's figures ----
    stage(4, "lineage", lineageDir) {
      StageSummary.writeLineage(lineageDir, version, segmentLines)
      segmentLines
    }

    // ---- stage 5: stats over every generation + manifest + pointer swap ----
    // order-independent corpus fingerprint = the per-row xxhash64(sha256)
    // sum mod 2^64; exact avgdl = doclen sum / n; sizing totals let readers
    // pick their serving tier with zero Spark jobs at open()
    val meta = timed(s"${mode}5 stats") {
      val docFigs = baseDocFigures ++ StageSummary.parse(docFigureLines)
      val sizes = dirs("lineage").flatMap(StageSummary.lineageFigures(spark, _))
      val n = docFigs.map(_(1)).sum
      SnapshotMeta(version, n, if (n == 0) 0.0 else docFigs.map(_(2)).sum.toDouble / n,
        cfg.numBuckets, cfg.saltThreshold, cfg.maxSalts, cfg.k1, cfg.b,
        docFigs.map(_(3)).sum, hotTerms, baseVersions = baseVersions,
        sizedShards = sizes.map(_(1)).sum, sizedPostingBytes = sizes.map(_(3)).sum,
        analyzer = cfg.analyzer)
    }
    Snapshot.commit(indexDir, meta)
    meta
  }

  /** Resolve-or-build: readers get the committed snapshot if one exists AND
    * its on-disk format matches this code (older formats rebuild as a new
    * generation — the old one stays readable by old code, pointer-swap
    * semantics as usual).
    */
  def buildIfAbsent(corpus: => DataFrame, indexDir: String,
      cfg: IndexConfig = IndexConfig()): SnapshotMeta =
    Snapshot.load(indexDir)
      .filter(_.formatVersion == Snapshot.CurrentFormatVersion)
      .getOrElse(build(corpus, indexDir, cfg))
}
