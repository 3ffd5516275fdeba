package graft.tools

import graft.SparkTestBase

/** Smoke coverage for the measurement probe. Every mode runs through
  * `Probe.run` on the shared test session; `main` is only called with
  * arguments it must reject, because once past its checks it stops the
  * session it gets.
  */
class ProbeSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def output(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Probe.run(spark, args))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("time: pass 1 is a warm-up, then median and minimum") {
    val out = output("time", sfDir, "2", "q_window_rank")
    assert(out.exists(l => l.contains("pass 1 (warm-up)") && l.contains("q_window_rank")), out)
    assert(out.exists(l => l.contains("pass 2 ") && l.endsWith("ok")), out)
    assert(out.exists(l => l.contains("q_window_rank median") && l.contains(" min ")), out)
  }

  test("plan: writes the formatted physical plan per query") {
    val dir = tmpDir("graft-probe-plan")
    val out = output("plan", sfDir, dir, "smoke", "q_window_rank")
    assert(out.exists(_.contains("wrote plan q_window_rank")), out)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "q_window_rank_smoke.txt")), "UTF-8")
    assert(text.contains("Physical Plan"))
  }

  test("jobs: every job line prints before the total") {
    val out = output("jobs", sfDir, "q_window_rank")
    val total = out.indexWhere(_.contains("q_window_rank total"))
    val built = out.indexWhere(_.contains("plan built"))
    assert(built >= 0 && total > built, out)
    // the final collect runs at least one job, listed between the two
    assert(out.slice(built, total).exists(_.startsWith("[job]")), out)
    assert(out.drop(total + 1).forall(!_.startsWith("[job]")), out)
    // each job names its call site ("collect at Probe.scala:…")
    assert(out.filter(_.startsWith("[job]")).forall(_.contains(" at ")), out)
  }

  test("jobs: SQL jobs carry their execution's call site; one total per warm pass") {
    val out = output("jobs", sfDir, "q_window_rank", "3")
    val jobLines = out.filter(_.startsWith("[job]"))
    // AQE query stages start on a pool thread; their execution names the action
    assert(jobLines.nonEmpty && jobLines.forall(l => l.contains(" sql ") && l.contains(" at ")), out)
    assert(!jobLines.exists(_.contains("CompletableFuture")), out)
    val warm = out.filter(_.contains("q_window_rank warm pass"))
    assert(warm.length == 2 && warm.head.contains("pass 2:") && warm.last.contains("pass 3:"), out)
    assert(warm.forall(_.matches(""".*pass \d: \d+ jobs .*""")), out)
    assert(out.indexWhere(_.contains("q_window_rank total")) < out.indexOf(warm.head), out)
  }

  test("tiers: one p50/p95/qps line per serving tier") {
    val dir = tmpDir("graft-probe-tiers")
    graft.index.IndexBuilder.build(graft.corpus.CodeCorpus.generate(spark, 40L, seed = 7L),
      dir, graft.index.IndexConfig(numBuckets = 4))
    val out = output("tiers", dir)
    for (tier <- Seq("scatter-gather", "coordinator", "driver-cached"))
      assert(out.count(l => l.contains(s"tier $tier ") && l.contains(" p50=") &&
        l.contains(" p95=") && l.contains(" qps=")) == 1, out)
  }

  test("parity: one OK line per query, an N/N total, and the cross-index check") {
    val dir = tmpDir("graft-probe-parity")
    graft.index.IndexBuilder.build(graft.corpus.CodeCorpus.generate(spark, 40L, seed = 7L),
      dir, graft.index.IndexConfig(numBuckets = 4))
    val out = output("parity", dir, "10", dir)
    // the 12 reference queries plus one fuzzy query
    assert(out.count(_.startsWith("[parity] OK ")) == 13, out)
    assert(!out.exists(_.contains("DIFF")), out)
    assert(out.contains("[parity] 13/13 rank-identical at k=10 over 40 docs"), out)
    assert(out.contains("[parity] cross-index stats identical: true"), out)
    assert(out.contains("[parity] 13/13 identical across build parallelisms"), out)
  }

  test("build: one line per build stage, then the total and its Spark jobs") {
    val dir = tmpDir("graft-probe-build")
    val out = output("build", "200", dir)
    // the labels perfbench maps to its index.<stage>_s metrics
    for (stage <- Seq("stage1 docs", "stage2 dict", "hot-term collect",
        "stage3 segments", "stage4 lineage", "stage5 stats"))
      assert(out.count(_.startsWith(s"[probe] $stage ")) == 1, out)
    assert(out.exists(_.matches(
      """\[probe\] build total +[0-9.]+ s  \d+ Spark jobs  \(v1: 200 docs, \d+ posting bytes\)""")), out)
    assert(graft.index.Snapshot.load(dir).exists(_.numDocs == 200))
  }

  test("main rejects bad arguments before a session starts") {
    for (args <- Seq(Seq("time", sfDir, "1"), Seq("time", sfDir, "x"),
        Seq("jobs", sfDir, "no_such_query"), Seq("jobs", sfDir, "q_window_rank", "0"),
        Seq("jobs", sfDir, "q_window_rank", "x"), Seq("jobs", sfDir, "q_window_rank", "2", "3"),
        Seq("plan", sfDir), Seq("explain"),
        Seq("parity", sfDir, "0"), Seq("parity", sfDir, "x"),
        Seq("parity", sfDir, "10", sfDir, "extra"),
        Seq("build", "7", sfDir), Seq("build", "x", sfDir), Seq("build", "100")))
      intercept[IllegalArgumentException](Probe.main(args.toArray))
    assert(!spark.sparkContext.isStopped)
  }
}
