package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkEntry
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{IndexReader, Searcher}

/** Measurement probe over the contract queries and the serving tiers, in
  * one session with [[graft.Bench]]'s settings (AQE on, 4 MiB max partition
  * bytes, 256 KiB open cost, UTC, shuffle partitions = cores), so what it
  * times is the plan Bench times. Cores: `SPARK_GRAFT_CPUS`, default the
  * host's processors. Bench and Verify stay frozen; nothing runs this.
  *
  * `runMain graft.tools.Probe <mode> ...`:
  *  - `time <sfDir> <trials> [query ...]`: pass-major over the queries
  *    (all when none are named) in Bench's alphabetical order, timing
  *    `collect()` as Bench does. Pass 1 is Bench's cold order and prints
  *    as `(warm-up)`: it pays seconds of class loading and JIT, so each
  *    query's median and minimum are over passes 2..trials (trials ≥ 2).
  *  - `jobs <sfDir> <query> [passes]`: one line per Spark job (id, start
  *    offset, duration, SQL execution id, call site), grouped by SQL
  *    execution, so a multi-job operator's cost (eager checkpoints, CC
  *    rounds, the final collect) is attributed without the UI. A job's call
  *    site is its SQL execution's: under AQE a query stage's job starts on a
  *    pool thread, and its own stages name only that thread's frame. Each
  *    pass after the first (default: none) prints one line with its job
  *    total. The listener bus is drained before each summary line.
  *  - `plan <sfDir> <outDir> <suffix> [query ...]`: writes the formatted
  *    physical plan of each query (all when none are named) to
  *    `<outDir>/<query>_<suffix>.txt`.
  *  - `tiers <indexDir>`: warm p50/p95/qps of Bench's reference queries
  *    (top-100) on each serving tier: scatter-gather, coordinator (term
  *    shard cache) and driver-cached.
  *  - `parity <indexDir> [k] [otherIndexDir]`: rank-parity audit of an
  *    existing index — block-max WAND vs the exact scorer, exact float and
  *    tie equality at top-k (default 100), over the reference queries plus
  *    one fuzzy query. With a second index (same corpus, built at another
  *    core count), also checks that both carry the same corpus stats and
  *    answer every query identically.
  *  - `build <nDocs> <dir>`: builds Bench's index shape (`CodeCorpus` seed
  *    42, Bench's `IndexConfig`) at `dir` and prints each build stage's
  *    time, the total and the build's Spark job count.
  */
object Probe {

  /** Bench's query-latency reference set. */
  private val ReferenceQueries = Seq(
    "import spark", "def merge", "posting merge segment",
    "snapshot manifest reader", "parser builder", "import def val class",
    "scorer ranker codec", "the runner runs quickly", "partition shard",
    "codec", "import", "query planner executor")

  /** The work `args` ask for; every check runs here, before a session. */
  private def parse(args: Seq[String]): SparkSession => Unit = {
    def known(names: Seq[String]): Seq[String] = {
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      names
    }
    args match {
      case Seq("time", sfDir, trials, names @ _*) =>
        require(trials.nonEmpty && trials.forall(_.isDigit) && trials.toInt >= 2,
          s"trials must be an integer >= 2 (pass 1 is a warm-up): $trials")
        val qs = known(names)
        time(_, sfDir, trials.toInt, qs)
      case Seq("jobs", sfDir, name, rest @ _*) if rest.length <= 1 =>
        known(Seq(name))
        val passes = rest.headOption.getOrElse("1")
        require(passes.nonEmpty && passes.forall(_.isDigit) && passes.toInt >= 1,
          s"passes must be a positive integer: $passes")
        jobs(_, sfDir, name, passes.toInt)
      case Seq("plan", sfDir, outDir, suffix, names @ _*) =>
        val qs = known(names)
        plan(_, sfDir, outDir, suffix, qs)
      case Seq("tiers", indexDir) => tiers(_, indexDir)
      case Seq("parity", indexDir, rest @ _*) if rest.length <= 2 =>
        val k = rest.headOption.getOrElse("100")
        require(k.nonEmpty && k.forall(_.isDigit) && k.toInt >= 1,
          s"k must be a positive integer: $k")
        parity(_, indexDir, k.toInt, rest.lift(1))
      case Seq("build", nDocs, dir) =>
        // Bench's salt threshold is nDocs / 8, which must be positive
        require(nDocs.nonEmpty && nDocs.forall(_.isDigit) && nDocs.toLong >= 8,
          s"nDocs must be an integer >= 8: $nDocs")
        build(_, nDocs.toLong, dir)
      case _ => throw new IllegalArgumentException("usage: Probe " +
        "time <sfDir> <trials> [query ...] | jobs <sfDir> <query> [passes] | " +
        "plan <sfDir> <outDir> <suffix> [query ...] | tiers <indexDir> | " +
        "parity <indexDir> [k] [otherIndexDir] | build <nDocs> <dir>")
    }
  }

  def main(args: Array[String]): Unit = {
    val work = parse(args.toSeq)
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-probe-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try work(spark)
    finally spark.stop()
  }

  /** The probe's work on a caller-owned session (left running). */
  def run(spark: SparkSession, args: Seq[String]): Unit = parse(args)(spark)

  private def selected(names: Seq[String]) =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.nextOption().getOrElse("").take(120)

  private def time(spark: SparkSession, sfDir: String, trials: Int,
      names: Seq[String]): Unit = {
    val qs = selected(names)
    val secs = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val failed = scala.collection.mutable.Map.empty[String, String]
    for (pass <- 1 to trials; (name, fn) <- qs) {
      val t0 = System.nanoTime()
      val status =
        try { fn(spark, sfDir).collect(); "ok" }
        catch { case e: Throwable => failed.getOrElseUpdate(name, firstLine(e)); "failed" }
      val sec = (System.nanoTime() - t0) / 1e9
      if (pass > 1) secs(name) = secs.getOrElse(name, Nil) :+ sec
      println(f"[probe] pass $pass${if (pass == 1) " (warm-up)" else ""} " +
        f"$name%-24s $sec%7.3f s  $status")
    }
    for ((name, _) <- qs) println(failed.get(name) match {
      case Some(err) => s"[probe] $name failed: $err"
      case None =>
        val s = secs(name).sorted
        f"[probe] $name median ${(s((s.length - 1) / 2) + s(s.length / 2)) / 2}%.3f s " +
          f"min ${s.head}%.3f s (passes 2..$trials)"
    })
  }

  private def jobs(spark: SparkSession, sfDir: String, name: String,
      passes: Int): Unit = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = started.put(js.jobId, js)
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ended.add(je)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.description)
        case _ =>
      }
    }
    // the jobs that ended since the last call, once the bus has delivered
    // every event posted so far, so none lands after the summary it belongs to
    def endedJobs(): Seq[(SparkListenerJobStart, SparkListenerJobEnd)] = {
      Bridge.drainListeners(sc)
      Iterator.continually(ended.poll()).takeWhile(_ != null).toSeq
        .map(je => (started.remove(je.jobId), je))
    }
    def flushJobs(t0: Long): Unit = {
      val done = endedJobs()
      def sqlId(js: SparkListenerJobStart): Option[Long] = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      // SQL executions in the order of their first job
      done.groupBy { case (js, _) => sqlId(js) }.values.toSeq
        .sortBy(_.map(_._2.jobId).min)
        .foreach(_.sortBy(_._2.jobId).foreach { case (js, je) =>
          val ex = sqlId(js)
          // a job outside SQL is named by its final stage, which carries
          // the job's call site
          val site = ex.flatMap(id => Option(sqlSites.get(id)))
            .getOrElse(js.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
          println(f"[job] ${je.jobId}%4d  +${(js.time - t0) / 1e3}%7.3f  " +
            f"${(je.time - js.time) / 1e3}%7.3f s  sql ${ex.fold("-")(_.toString)}%4s  $site")
        })
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.currentTimeMillis() // the clock of listener events
      val df = SparkEntry.queries(name)(spark, sfDir)
      val built = (System.currentTimeMillis() - t0) / 1e3
      flushJobs(t0)
      println(f"[probe] $name plan built (eager jobs above): $built%7.3f s")
      df.collect()
      val total = (System.currentTimeMillis() - t0) / 1e3
      flushJobs(t0)
      println(f"[probe] $name total $total%7.3f s")
      for (pass <- 2 to passes) {
        val p0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).collect()
        val sec = (System.nanoTime() - p0) / 1e9
        println(f"[probe] $name warm pass $pass: ${endedJobs().size} jobs $sec%7.3f s")
      }
    } finally sc.removeSparkListener(listener)
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for ((name, fn) <- selected(names)) {
      try {
        val text = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          text.getBytes(StandardCharsets.UTF_8))
        println(s"[probe] wrote plan $name ($suffix)")
      } catch { case e: Throwable =>
        println(s"[probe] plan $name failed: ${firstLine(e)}")
      }
    }
  }

  private def tiers(spark: SparkSession, indexDir: String): Unit = {
    def bench(label: String, cfg: IndexReader.ReaderConfig): Unit = {
      val r = IndexReader.open(spark, indexDir, cfg)
      ReferenceQueries.foreach(q => r.searchHits(r.resolve(q), 100)) // warm-up
      val lat = (1 to 3).flatMap(_ => ReferenceQueries.map { q =>
        val t0 = System.nanoTime()
        r.searchHits(r.resolve(q), 100)
        (System.nanoTime() - t0) / 1e6
      }).sorted
      println(f"[probe] tier $label%-14s p50=${lat(lat.length / 2)}%.2f ms " +
        f"p95=${lat(math.min(lat.length - 1, lat.length * 95 / 100))}%.2f ms " +
        f"qps=${lat.length / (lat.sum / 1000)}%.2f")
    }
    bench("scatter-gather", IndexReader.ReaderConfig(0, 0, 0))
    bench("coordinator", IndexReader.ReaderConfig(0, 0, 256L << 20))
    bench("driver-cached", IndexReader.ReaderConfig())
  }

  private def parity(spark: SparkSession, indexDir: String, k: Int,
      otherDir: Option[String]): Unit = {
    val queries = ReferenceQueries.map(_ -> false) :+ ("improt mrege" -> true)
    val r = IndexReader.open(spark, indexDir)
    var ok = 0
    for ((q, fuzzy) <- queries) {
      val rq = r.resolve(q, fuzzy)
      val wand = r.searchHits(rq, k).toSeq
      val exact = Searcher.searchExactHits(spark, indexDir, rq, k).toSeq
      if (wand == exact) { ok += 1; println(s"[parity] OK   '$q' (${wand.length} hits)") }
      else println(s"[parity] DIFF '$q' (${wand.length} hits)\n" +
        s"  wand : ${wand.take(3)}\n  exact: ${exact.take(3)}")
    }
    println(s"[parity] $ok/${queries.length} rank-identical at k=$k over ${r.meta.numDocs} docs")
    otherDir.foreach { dir2 =>
      val r2 = IndexReader.open(spark, dir2)
      val (m1, m2) = (r.meta, r2.meta)
      println("[parity] cross-index stats identical: " + (m1.numDocs == m2.numDocs &&
        m1.avgDocLen == m2.avgDocLen && m1.corpusFingerprint == m2.corpusFingerprint))
      var same = 0
      for ((q, fuzzy) <- queries) {
        val h1 = r.searchHits(r.resolve(q, fuzzy), k).toSeq
        val h2 = r2.searchHits(r2.resolve(q, fuzzy), k).toSeq
        if (h1 == h2) same += 1
        else println(s"[parity] XDIFF '$q': ${h1.take(2)} vs ${h2.take(2)}")
      }
      println(s"[parity] $same/${queries.length} identical across build parallelisms")
    }
  }

  private def build(spark: SparkSession, nDocs: Long, dir: String): Unit = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val corpus = CodeCorpus.generate(spark, nDocs, seed = 42L)
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val meta = IndexBuilder.build(corpus, dir,
        IndexConfig(numBuckets = 64, saltThreshold = nDocs / 8, maxSalts = 16),
        onStageTime = (label, sec) => println(f"[probe] $label%-16s $sec%8.3f s"))
      val sec = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(sc)
      println(f"[probe] build total $sec%8.3f s  ${jobs.get} Spark jobs  " +
        s"(v${meta.version}: ${meta.numDocs} docs, ${meta.sizedPostingBytes} posting bytes)")
    } finally sc.removeSparkListener(listener)
  }
}
