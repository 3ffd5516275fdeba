package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge

import graft.{SparkEntry, SparkTestBase}
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.surface.EntityStore

/** Spark-job pins for connected components, a curate pass, an index build
  * and a dictionary commit. On tables this small each job runs a task or
  * two, so its fixed cost (code generation, closure cleaning, scheduling)
  * dominates and the job count is the cost model; these pins keep a later
  * change from quietly adding rounds, eager passes or read-back jobs.
  */
class JobCountSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs `body` starts, counted by a listener drained afterwards. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try { body; Bridge.drainListeners(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  private def ccJobs(edges: Seq[(Long, Long)]): Int = {
    val pairs = edges.toDF("idA", "idB")
    jobsOf(Dedup.connectedComponents(pairs, "idA", "idB", maxIter = 64).collect())
  }

  private def path(ids: Seq[Long]): Seq[(Long, Long)] = ids.zip(ids.tail)

  private val cliques = (0L until 20L).flatMap { c =>
    val ns = (0L until 4L).map(c * 10 + _)
    for (a <- ns; b <- ns if a < b) yield (a, b)
  }
  private val path16 = path(0L until 16L)
  private val path64 = path(0L until 64L)
  private val shuffledPath50 =
    path(new scala.util.Random(17).shuffle((0 until 50).map(_ * 3L + 1)))

  test("connected components: a seed-solved graph skips the rounds, and paths cost no more") {
    // before the certificate (every call ran at least one confirming
    // round, 7 jobs each) the same spec read 12 / 33 / 47 / 187 jobs
    val counts = Seq(cliques, path16, path64, shuffledPath50).map(ccJobs)
    info(s"jobs: ${counts.mkString(" / ")}")
    assert(counts.head <= 9, counts)
    assert(counts.sum <= 12 + 33 + 47 + 187, counts)
  }

  test("a small full build runs at most 8 jobs") {
    // 13 while stages 4 and 5 and the hot-term map read back the tables
    // the build had just written
    val cfg = IndexConfig(numBuckets = 4, saltThreshold = 100L, maxSalts = 4, docShards = 8)
    val corpus = CodeCorpus.generate(spark, 300L, seed = 9L)
    IndexBuilder.build(corpus, tmpDir("graft-jobs-warm"), cfg)
    val n = jobsOf(IndexBuilder.build(corpus, tmpDir("graft-jobs-build"), cfg))
    info(s"jobs: $n")
    assert(n <= 8, n)
  }

  test("a dictionary commit runs at most 10 jobs") {
    // 15 before the stage figures rode on the writes
    val dict = Seq(("city", "Mumbai", Seq("mumbai", "bombay"), "en"),
      ("city", "Delhi", Seq("delhi", "new delhi"), "en"),
      ("food", "Pav Bhaji", Seq("pav bhaji", "pao bhaji"), "en"))
      .toDF("entity_data", "value", "variants", "language_script")
    val store = tmpDir("graft-jobs-store")
    EntityStore.commitDictionary(spark, store, dict)
    val n = jobsOf(EntityStore.commitDictionary(spark, store, dict))
    info(s"jobs: $n")
    assert(n <= 10, n)
  }

  test("a delta over 4 base generations runs no more jobs than a delta over 1") {
    // offsets and stats come from the base generations' summaries, so the
    // base's length adds no job
    val cfg = IndexConfig(numBuckets = 4, saltThreshold = 100L, maxSalts = 4, docShards = 8)
    def deltaJobs(bases: Int): Int = {
      val dir = tmpDir("graft-jobs-delta")
      IndexBuilder.build(CodeCorpus.generate(spark, 100L, seed = 9L), dir, cfg)
      for (g <- 2 to bases)
        IndexBuilder.buildDelta(CodeCorpus.generate(spark, 100L * g, seed = 9L), dir, cfg)
      val batch = CodeCorpus.generate(spark, 100L * bases + 100L, seed = 9L)
      jobsOf(IndexBuilder.buildDelta(batch, dir, cfg))
    }
    deltaJobs(1)
    val (one, four) = (deltaJobs(1), deltaJobs(4))
    info(s"jobs: $one over 1 base, $four over 4")
    assert(four <= one, (one, four))
  }

  test("a warm q_curation_rep pass runs at most 30 jobs") {
    // 40 before the certificate and the collected cap-audit list
    val sf = "perfbench/data/sf0.01"
    def pass(): Unit = SparkEntry.queries("q_curation_rep")(spark, sf).collect()
    pass()
    val n = jobsOf(pass())
    info(s"jobs: $n")
    assert(n <= 30, n)
  }
}
