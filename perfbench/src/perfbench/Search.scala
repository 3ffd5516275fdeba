package perfbench

import graft.index.{IndexBuilder, IndexConfig, SnapshotMeta}
import graft.query.{Hit, IndexReader, Searcher}

/** Index and query layers of `search`: building, the query op
  * with its spans, the WAND-versus-exact output check and the layer
  * kernels measured over the built segments.
  */
object IndexLayers {

  /** Sized for tens of thousands of documents on a few cores: the default
    * 64 doc shards and 32 buckets would make every build stage mostly
    * task overhead.
    */
  def config(docs: Long): IndexConfig =
    IndexConfig(numBuckets = 8, saltThreshold = math.max(64L, docs / 8),
      maxSalts = 16, docShards = 8)

  /** Full build with its stage times recorded as `index.<stage>_s`. */
  def build(c: Ctx, corpus: org.apache.spark.sql.DataFrame, dir: String,
      docs: Long): SnapshotMeta = {
    c.tag("build")
    val m = c.tracer("index.build") {
      IndexBuilder.build(corpus, dir, config(docs), onStageTime = (label, sec) =>
        stageName(label).foreach(n => c.lay(s"index.${n}_s", sec, "s")))
    }
    c.tag("other")
    m
  }

  private def stageName(label: String): Option[String] = label match {
    case "stage1 docs" => Some("stage1_docs")
    case "stage2 dict" => Some("stage2_dict")
    case "hot-term collect" => Some("hot_term_collect")
    case "stage3 segments" => Some("stage3_segments")
    case "stage4 lineage" => Some("stage4_lineage")
    case "stage5 stats" => Some("stage5_stats")
    case _ => None
  }

  /** One query op: resolve, then block-max WAND top-k. */
  def query(c: Ctx, reader: IndexReader, q: Gen.Query): Array[Hit] =
    c.tracer("op.query") {
      val rq = c.tracer(if (q.fuzzy) "query.fuzzy_resolve" else "query.resolve") {
        reader.resolve(q.text, q.fuzzy)
      }
      if (c.tracer.on) {
        c.layerCount("query.postings_per_query", rq.terms.map(_.df).sum.toDouble)
        c.layerCount("query.salt_fanout", rq.saltFanout.toDouble)
        if (q.fuzzy) c.layerCount("query.fuzzy_terms_per_token", rq.terms.size.toDouble /
          math.max(1, graft.analyzer.Analyzers.analyze(reader.meta.analyzer, q.text).distinct.length))
      }
      c.tracer("query.search_hits")(reader.searchHits(rq, q.k))
    }

  /** Query-layer metrics from the traced window's spans and counts. */
  def queryLayers(c: Ctx): Unit = {
    def ms(name: String) = c.tracer.byName(name).map(_.durNs / 1e6).sorted.toArray
    val resolve = ms("query.resolve")
    if (resolve.nonEmpty) c.lay("query.resolve_us", Stats.pct(resolve, 50) * 1000, "us", resolve.length)
    val fuzzy = ms("query.fuzzy_resolve")
    if (fuzzy.nonEmpty) c.lay("query.fuzzy_resolve_ms", Stats.pct(fuzzy, 50), "ms", fuzzy.length)
    val hits = ms("query.search_hits")
    if (hits.nonEmpty) {
      c.lay("query.search_hits_p50_ms", Stats.pct(hits, 50), "ms", hits.length)
      c.lay("query.search_hits_p99_ms", Stats.pct(hits, 99), "ms", hits.length)
    }
    c.layerMeans()
    c.collector.foreach { col =>
      c.drainListener()
      c.lay("query.spark_jobs_per_query",
        col.counts("query").jobs.toDouble / math.max(1, hits.length), "count", hits.length)
    }
  }

  /** WAND hits of sampled queries against the exact scorer, bit for bit. */
  def checkHits(c: Ctx, name: String, reader: IndexReader, dir: String,
      qs: Seq[Gen.Query]): Unit = qs.foreach { q =>
    c.tag("check")
    val rq = reader.resolve(q.text, q.fuzzy)
    val wand = c.answer(reader.searchHits(rq, q.k))(hs =>
      if (hs.isEmpty) Array(Hit(0L, 1.0)) else hs.updated(0, hs(0).copy(score = Math.nextUp(hs(0).score))))
    val exact = Searcher.searchExactHits(c.spark, dir, rq, q.k)
    val bad = hitsDiffer(wand, exact)
    c.check(name, 1, if (bad.isEmpty) 0 else 1, bad.map(b => s"${q.text}: $b").getOrElse(""))
  }

  def hitsDiffer(got: Array[Hit], want: Array[Hit]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} hits, want ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.docId != w.docId ||
          java.lang.Double.doubleToLongBits(g.score) !=
            java.lang.Double.doubleToLongBits(w.score) => s"rank ${i + 1}: $g != $w"
    }

  /** Build-layer counters per build and sizes of the index at `dir`. */
  def buildCounters(c: Ctx, meta: SnapshotMeta, dir: String, builds: Int): Unit = {
    c.lay("index.posting_bytes", meta.sizedPostingBytes.toDouble, "bytes")
    c.lay("index.disk_bytes", Files2.du(java.nio.file.Paths.get(dir)).toDouble, "bytes")
    c.collector.foreach { col =>
      c.drainListener()
      val b = col.counts("build")
      c.lay("index.spark_jobs", b.jobs.toDouble / builds, "count", builds)
      c.lay("index.shuffle_write_mb", b.shuffleWriteBytes / 1e6 / builds, "MB", builds)
      c.lay("index.spill_mb", b.spillBytes / 1e6 / builds, "MB", builds)
      c.lay("index.task_time_skew", b.skew, "ratio")
    }
  }

  /** PostingCodec decode and encode throughput over the built segments
    * (bytes of encoded postings per second, a single thread).
    */
  def codecKernels(c: Ctx, meta: SnapshotMeta, dir: String): Unit = {
    import c.spark.implicits._
    val lists = graft.index.IndexSchemas.readSegments(c.spark, meta.segmentsDirs(dir))
      .select("postings").as[Array[Byte]].collect()
    val bytes = lists.map(_.length.toLong).sum
    val decoded = lists.map(graft.index.PostingCodec.decode)
    def rate(body: => Unit): Double = {
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 500000000L) { body; reps += 1 }
      bytes * reps / ((System.nanoTime() - t0) / 1e9) / 1e6
    }
    c.lay("index.codec_decode_mb_per_s",
      rate(lists.foreach(graft.index.PostingCodec.decode)), "MB/s", lists.length)
    c.lay("index.codec_encode_mb_per_s",
      rate(decoded.foreach(graft.index.PostingCodec.encode)), "MB/s", lists.length)
  }

  /** Analyzer throughput over a sample of the corpus, a single thread. */
  def analyzerKernel(c: Ctx, texts: Seq[String]): Unit = {
    var tokens = 0L
    var reps = 0
    val t0 = System.nanoTime()
    while (reps < 3 || System.nanoTime() - t0 < 500000000L) {
      texts.foreach(t => tokens += graft.analyzer.Analyzer.analyze(t).length)
      reps += 1
    }
    c.lay("analyzer.tokens_per_s", tokens / ((System.nanoTime() - t0) / 1e9),
      "tokens/s", texts.length)
  }
}

/** `search`: the query layer over a driver-cached index.
  *
  * After a warm-up of [[WarmupQueries]] queries, an open loop at
  * [[OfferedQps]] (exact top-100 and fuzzy top-10 mixed) on one pool of a
  * thread per core, a closed loop with one client per core for
  * `closed_p50_ms` and `query_qps`, then a closed loop with one client for
  * `query_cpu_ms`: the median CPU time of a query, on the client's thread
  * and the common fork-join pool's workers that run its salted tasks. A
  * median, not CPU time over the loop per query: a few fuzzy queries cost
  * many times the rest, and that mean moved by a quarter between seeds.
  * The JIT compiler has settled on the query path by then.
  */
object Search {
  val Docs = 10000L
  val FuzzyShare = 0.2
  val ExactK = 100
  val FuzzyK = 10
  /** About a fifth of the closed-loop query_qps measured on a 4-core host:
    * at half of it, a few fuzzy queries that expand to hundreds of hot
    * terms hold every worker and the queue grows for seconds in some runs.
    */
  val OfferedQps = 150.0
  val OpenShare = 0.4
  val SingleShare = 0.3
  /** Queries run before the window, so that every run starts it equally
    * warm (about two seconds on one client per core of a 4-core host).
    */
  val WarmupQueries = 2000
  val Checked = 4

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val docs = (Docs * c.o.scale).toLong
    val corpusDir = c.o.work.resolve("search/corpus").toString
    val corpus = Gen.corpus(spark, docs, c.o.seed, corpusDir)
    c.hashes("corpus") = Gen.rowsHash(corpus)
    // set-up: build the index over the generated corpus and open it
    val (reader, dir) = c.setup(c.Setups) { i =>
      val dir = c.o.work.resolve(s"search/idx$i").toString
      IndexLayers.build(c, corpus, dir, docs)
      val t0 = System.nanoTime()
      val reader = IndexReader.open(spark, dir)
      c.lay("index.snapshot_open_ms", (System.nanoTime() - t0) / 1e6, "ms")
      (reader, dir)
    } { case (_, dir) => Files2.rmrf(java.nio.file.Paths.get(dir)) }
    val dict = Gen.dictionaryByDf(spark, dir, reader.meta)
    val qs = Gen.queries(dict, 50000, FuzzyShare, ExactK, FuzzyK, c.seeded(1))
    c.hashes("queries") = Stats.sha256(qs.iterator.map(q => s"${q.fuzzy}|${q.k}|${q.text}"))

    c.window {
      val open = new OpType("open", c.cores)
      val closed = new OpType("closed", c.cores)
      val single = new OpType("single", 1)
      c.ops ++= Seq(open, closed, single)
      c.tag("query")
      // warm the query path (JIT) before either loop
      Loops.fixed(c.cores, WarmupQueries)(i => IndexLayers.query(c, reader, qs(i)))
      val late = Loops.open(open, OfferedQps, c.seeded(2), Loops.after(c.o.seconds * OpenShare),
          label = i => if (qs(i).fuzzy) "fuzzy" else "exact") { i =>
        IndexLayers.query(c, reader, qs(i))
      }
      val qps = Loops.closed(closed, c.cores, c.o.seconds * (1 - OpenShare - SingleShare),
          slices = 8) { (cl, seq) =>
        IndexLayers.query(c, reader, qs(qs.length - 1 - ((seq * c.cores + cl) % qs.length).toInt))
      }
      val cpu = new Samples
      Loops.closed(single, 1, c.o.seconds * SingleShare) { (_, seq) =>
        val before = Collector.queryThreadsNanos()
        IndexLayers.query(c, reader, qs(qs.length / 2 + (seq % (qs.length / 2)).toInt))
        cpu.add(Collector.runNanosSince(before, Collector.queryThreadsNanos()))
      }
      val cpuMs = cpu.sortedMs
      c.e2e("query_cpu_ms", Stats.pct(cpuMs, 50), "ms", cpuMs.length)
      c.latency("query", open.samplesOf("exact"))
      c.latency("fuzzy", open.samplesOf("fuzzy"))
      c.latency("closed", closed.samples)
      c.e2e("query_qps", qps, "1/s", closed.samples.size)
      val lateMs = late.sortedMs
      c.e2e("generator_late_p99_ms", Stats.pct(lateMs, 99), "ms", lateMs.length)
      c.metrics("query_p50_ms").value
    }

    val r = c.seeded(3)
    IndexLayers.checkHits(c, "wand_equals_exact", reader, dir,
      Seq.fill(Checked)(qs(r.nextInt(qs.length))))
    if (c.o.trace) {
      IndexLayers.queryLayers(c)
      IndexLayers.buildCounters(c, reader.meta, dir, c.Setups)
      IndexLayers.codecKernels(c, reader.meta, dir)
      IndexLayers.analyzerKernel(c, spark.read.parquet(corpusDir)
        .select("content").limit(2000).collect().map(_.getString(0)).toSeq)
    }
  }
}
