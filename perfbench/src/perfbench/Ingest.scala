package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.index.IndexBuilder
import graft.query.IndexReader
import graft.query.IndexReader.ReaderConfig

/** `ingest`: writes and reads on the same index and query code.
  *
  * The writer runs a closed loop of rounds: a full build over the base
  * corpus, then a stream of [[Batches]] delta batches, each visible once
  * `IndexReader.open` returns its new version. While the stream runs, a
  * reader sends exact top-100 queries in an open loop at [[ReaderQps]] to
  * the latest version, on the coordinator tier with a shard-cache budget
  * below the query working set, so misses run pushdown jobs beside the
  * writer's.
  */
object Ingest {
  val BaseDocs = 10000L
  val Batches = 3
  val BatchDocs = 1000L
  val ReaderQps = 2.0
  /** Coordinator tier: dictionary and postings stay distributed; the
    * shard cache holds a few head terms of the query stream.
    */
  val Reader = ReaderConfig(maxDriverVocab = 0, maxDriverPostingBytes = 0,
    maxQueryShardCacheBytes = 256L << 10)
  val Checked = 4

  final case class Inputs(base: org.apache.spark.sql.DataFrame,
      batches: Seq[org.apache.spark.sql.DataFrame], inputBytes: Long)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val base = (BaseDocs * c.o.scale).toLong.max(100)
    val batch = (BatchDocs * c.o.scale).toLong.max(10)
    // set-up: generate the base corpus and the delta batches
    val in = c.setup(c.Setups) { i =>
      val dir = c.o.work.resolve(s"ingest/input$i")
      val b = Gen.corpus(spark, base, c.o.seed, dir.resolve("base").toString)
      val ds = (0 until Batches).map(j => Gen.corpus(spark, batch, c.o.seed * 1000 + 1 + j,
        dir.resolve(s"batch$j").toString, pathPrefix = s"batch$j/"))
      val bytes = (b +: ds).map(_.agg(sum(length(col("content")))).collect()(0).getLong(0)).sum
      Inputs(b, ds, bytes)
    }(_ => ())
    c.hashes("base") = Gen.rowsHash(in.base)
    in.batches.zipWithIndex.foreach { case (d, j) => c.hashes(s"batch$j") = Gen.rowsHash(d) }
    val texts = in.base.select("content").limit(2000).collect().map(_.getString(0)).toSeq
    val qs = Gen.queries(termsByDf(texts), 20000, 0.0, Search.ExactK, Search.FuzzyK, c.seeded(1))
    c.hashes("queries") = Stats.sha256(qs.iterator.map(_.text))

    val visible = new ConcurrentLinkedQueue[java.lang.Double]()
    val versions = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val readers = mutable.ArrayBuffer.empty[IndexReader]
    val builds = mutable.ArrayBuffer.empty[Double]
    var lastDir = ""
    var roundNo = 0

    /** One round in a fresh directory; returns the full build's seconds. */
    def round(query: OpType): Double = {
      val dir = c.o.work.resolve(f"ingest/idx$roundNo%02d").toString
      roundNo += 1
      val t0 = System.nanoTime()
      IndexLayers.build(c, in.base, dir, base)
      val buildS = (System.nanoTime() - t0) / 1e9
      val latest = new AtomicReference(open(c, dir))
      readers += latest.get
      versions += ((latest.get.meta.version, latest.get.meta.numDocs, base))
      val stop = new AtomicBoolean(false)
      val reads = new Thread(() => {
        c.tag("query")
        Loops.open(query, ReaderQps, c.seeded(10 + roundNo), () => stop.get) { i =>
          IndexLayers.query(c, latest.get, qs(i % qs.length))
        }
      })
      reads.start()
      try in.batches.zipWithIndex.foreach { case (d, j) =>
        val t1 = System.nanoTime()
        c.tag("delta")
        c.tracer("index.delta_build")(IndexBuilder.buildDelta(d, dir, IndexLayers.config(base)))
        val r = open(c, dir)
        visible.add((System.nanoTime() - t1) / 1e9)
        latest.set(r)
        readers += r
        versions += ((r.meta.version, r.meta.numDocs, base + (j + 1) * batch))
      } finally {
        stop.set(true)
        reads.join()
        c.tag("other")
      }
      lastDir = dir
      buildS
    }

    c.window {
      val rounds = new OpType("round", 1)
      val query = new OpType("query", 2)
      c.ops ++= Seq(rounds, query)
      visible.clear()
      builds.clear()
      // a round's CPU time includes the reader's queries beside it
      val t0 = System.nanoTime()
      c.cpuPerOp("round_cpu_ms", rounds.samples.size) {
        while (builds.isEmpty || System.nanoTime() - t0 < c.o.seconds * 1e9)
          rounds.run(System.nanoTime())(builds += round(query))
      }
      val vis = visible.asScala.map(_.doubleValue).toSeq
      c.e2e("build_docs_per_s", base / Stats.median(builds.toSeq), "1/s", builds.size)
      c.e2e("delta_visible_p50_s", Stats.median(vis), "s", vis.size)
      c.e2e("index_bytes_per_input_byte",
        Files2.du(java.nio.file.Paths.get(lastDir)).toDouble / in.inputBytes, "ratio", 1)
      c.latency("query", query.samples)
      c.metrics("query_p50_ms").value
    }

    versions.foreach { case (v, docs, want) =>
      val got = c.answer(docs)(_ + 1)
      c.check("num_docs", 1, if (got == want) 0 else 1, if (got == want) "" else s"v$v: $got docs, want $want")
    }
    val r = c.seeded(3)
    IndexLayers.checkHits(c, "wand_equals_exact", IndexReader.open(spark, lastDir, Reader), lastDir,
      Seq.fill(Checked)(qs(r.nextInt(qs.length))))
    if (c.o.trace) {
      val (hits, misses) = readers.map(_.shardCacheStats).foldLeft((0L, 0L)) {
        case ((h, m), (h1, m1)) => (h + h1, m + m1)
      }
      c.lay("query.shard_cache_hit_rate", hits.toDouble / math.max(1L, hits + misses),
        "ratio", hits + misses)
      val deltas = c.tracer.byName("index.delta_build").map(_.durNs / 1e9)
      c.lay("index.delta_build_s", Stats.median(deltas), "s", deltas.size)
      val opens = c.tracer.byName("index.snapshot_open").map(_.durNs / 1e6)
      c.lay("index.snapshot_open_ms", Stats.median(opens), "ms", opens.size)
      IndexLayers.queryLayers(c)
      IndexLayers.buildCounters(c, readers.last.meta, lastDir, builds.size)
      IndexLayers.codecKernels(c, readers.last.meta, lastDir)
      IndexLayers.analyzerKernel(c, texts)
    }
  }

  private def open(c: Ctx, dir: String): IndexReader =
    c.tracer("index.snapshot_open")(IndexReader.open(c.spark, dir, Reader))

  /** Analyzed terms of `texts`, most frequent document frequency first: the
    * dictionary the build will produce, known before it runs.
    */
  def termsByDf(texts: Seq[String]): Array[String] =
    texts.flatMap(t => graft.analyzer.Analyzer.analyze(t).distinct).groupBy(identity)
      .toArray.map { case (t, xs) => (t, xs.size) }
      .sortBy { case (t, n) => (-n, t) }.map(_._1)
}
