package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** State of one run: the session, the tracer and everything reported. */
final class Ctx(val o: Opts, val spark: SparkSession, val cores: Int,
    val collector: Option[Collector]) {
  /** Spans of the measured window; off unless this is the traced run. */
  var tracer = new Tracer(false)
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val ops = mutable.ArrayBuffer.empty[OpType]
  /** Wrong answers found by the output checks, by check name. */
  val checks = mutable.LinkedHashMap.empty[String, (Long, Long, String)]
  val hashes = mutable.LinkedHashMap.empty[String, String]

  private val t0 = System.nanoTime()

  /** Progress line on stderr with the time since the run started. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  def seeded(salt: Long) = new java.util.SplittableRandom(o.seed * 1000003L + salt)

  def e2e(name: String, value: Double, unit: String, n: Long): Unit =
    metrics(name) = Metric(value, unit, n)

  def lay(name: String, value: Double, unit: String, n: Long = 1): Unit =
    layer(name) = Metric(value, unit, n)

  /** The median of latency samples and the highest of their p99, p95
    * and p90 with at least ten samples beyond it, as end-to-end metrics.
    */
  def latency(prefix: String, samples: Samples): Unit = {
    val s = samples.sortedMs
    (50.0 +: Seq(99.0, 95.0, 90.0).find(Stats.validPct(s.length, _)).toSeq).foreach { p =>
      e2e(s"${prefix}_p${p.toInt}_ms", Stats.pct(s, p), "ms", s.length)
    }
  }

  /** The answer an output check sees: the program's output `x`, or with
    * `--corrupt 1` (the self-check's mode) `spoil(x)`, a wrong answer the
    * check must catch.
    */
  def answer[T](x: T)(spoil: T => T): T = if (o.corrupt) spoil(x) else x

  /** Records an output check: `wrong` of `checked` answers were wrong. */
  def check(name: String, checked: Long, wrong: Long, detail: String = ""): Unit = {
    val (c0, w0, d0) = checks.getOrElse(name, (0L, 0L, ""))
    checks(name) = (c0 + checked, w0 + wrong, if (d0.nonEmpty) d0 else detail)
  }

  /** Set-ups per run: the first pays the JVM's warm-up, the median of
    * two (nearest rank) is the warm one.
    */
  val Setups = 2

  /** Runs set-up `times` times, reports the median as `setup_s`, and
    * returns the last result; `discard` releases an earlier one.
    */
  def setup[T](times: Int)(make: Int => T)(discard: T => Unit): T = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (i <- 0 until times) {
      last.foreach(discard)
      val t0 = System.nanoTime()
      last = Some(make(i))
      secs += (System.nanoTime() - t0) / 1e9
      note(f"setup $i: ${secs.last}%.2f s")
    }
    e2e("setup_s", Stats.median(secs.toSeq), "s", times)
    last.get
  }

  /** Runs `body`, after which `ops` operations have completed one at a
    * time, and reports as `name` the CPU time this JVM used per operation
    * (ms): every thread, the JIT compiler and the garbage collector
    * included, since compiling the classes Spark generates for a request
    * is part of its cost.
    */
  def cpuPerOp[T](name: String, ops: => Long)(body: => T): T = {
    val cpu0 = Collector.processCpuSeconds()
    val result = body
    val n = ops
    e2e(name, (Collector.processCpuSeconds() - cpu0) * 1000 / math.max(1L, n), "ms", n)
    result
  }

  private val sums = new java.util.concurrent.ConcurrentHashMap[String, (Double, Long)]()

  /** Adds one observation of a per-operation layer count; its mean is
    * reported as a layer metric.
    */
  def layerCount(name: String, x: Double): Unit =
    sums.merge(name, (x, 1L), (a, b) => (a._1 + b._1, a._2 + b._2))

  def layerMeans(): Unit =
    sums.forEach((k, v) => lay(k, v._1 / v._2, "count", v._2))

  /** Runs the measured window. The traced run measures it three times:
    * untraced to warm up, traced, untraced again. It reports the traced
    * headline latency against the last untraced one as the tracing
    * overhead (that window runs later and warmer, so the figure errs
    * high), and the JVM's garbage-collection time and Spark's task and
    * scheduler-delay time over the traced window. `body` returns that
    * headline latency; the spans kept are the traced window's.
    */
  def window(body: => Double): Unit =
    if (!o.trace) {
      untagged(body)
      e2e("heap_retained_mb", Collector.heapAfterGcMb(), "MB", 1)
    } else {
      tagPrefix = "untraced."
      untagged(body)
      note("warm-up window done")
      tagPrefix = ""
      val spans = new Tracer(true)
      tracer = spans
      sums.clear()
      drainListener()
      val before = collector.get.counts("")
      val gc0 = Collector.gcSeconds()
      val traced = untagged(body)
      drainListener()
      val after = collector.get.counts("")
      lay("jvm.gc_s", Collector.gcSeconds() - gc0, "s")
      lay("spark.task_time_s", (after.taskMs - before.taskMs) / 1000.0, "s", after.tasks - before.tasks)
      lay("spark.scheduler_delay_s", (after.schedDelayMs - before.schedDelayMs) / 1000.0, "s",
        after.tasks - before.tasks)
      note("traced window done")
      tagPrefix = "untraced."
      tracer = new Tracer(false)
      val plain2 = untagged(body)
      tagPrefix = ""
      tracer = spans
      lay("trace.overhead_pct", (traced / plain2 - 1) * 100, "%", 2)
    }

  /** Runs `body` on a freshly collected heap, so that garbage left by the
    * set-up cannot trigger a full collection inside the window; Spark jobs
    * this thread submits afterwards are untagged.
    */
  private def untagged[T](body: => T): T = {
    System.gc()
    try body finally tag("other")
  }

  private var tagPrefix = ""

  /** Every Spark job submitted from this thread carries `name`, which the
    * traced run's listener attributes its stages and tasks to (jobs of the
    * traced run's untraced windows carry an `untraced.` prefix).
    */
  def tag(name: String): Unit =
    spark.sparkContext.setLocalProperty(Collector.TagKey, tagPrefix + name)

  def drainListener(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** One benchmark run: `--workload <search|detect|ingest|curate>`,
  * `--seed`, `--seconds`, `--trace <0|1>`, `--work <scratch dir>`,
  * `--data <fixed input dir>`, `--out <report json>`, `--scale` (input
  * size factor, 1 by default) and `--corrupt <0|1>` (feed every output
  * check a wrong answer). Writes the report to `--out`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files2.rmrf(o.work)
    Files.createDirectories(o.work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Session.create(cores, o.work)
    val collector = if (o.trace) Some(Collector.attach(spark)) else None
    val c = new Ctx(o, spark, cores, collector)
    try {
      o.workload match {
        case "search" => Search.run(c)
        case "detect" => Detect.run(c)
        case "ingest" => Ingest.run(c)
        case "curate" => Curate.run(c)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      c.note("done")
      c.e2e("rss_peak_mb", Files2.rssPeakMb(), "MB", 1)
      if (o.trace) {
        val self = c.tracer.selfNs
        c.tracer.all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, spans) =>
          c.lay(s"self.${name}_ms", spans.map(s => self(s.id)).sum / 1e6, "ms", spans.size)
        }
        c.tracer.write(o.work.resolve("spans.jsonl"))
      }
      Files.write(o.out, report(c).getBytes(UTF_8))
    } finally {
      spark.stop()
    }
  }

  private def report(c: Ctx): String = {
    def m(xs: mutable.LinkedHashMap[String, Metric]) = JObject(xs.toList.map {
      case (k, v) => k -> JObject("value" -> JDouble(v.value),
        "unit" -> JString(v.unit), "n" -> JLong(v.n))
    })
    val attempted = c.ops.map(_.attempted.get).sum
    val failed = c.ops.map(_.failed.get).sum + c.checks.values.map(_._2).sum
    JsonMethods.compact(JsonMethods.render(JObject(
      "workload" -> JString(c.o.workload),
      "seed" -> JLong(c.o.seed),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "input_hashes" -> JObject(c.hashes.toList.map { case (k, v) => k -> JString(v) }),
      "checks" -> JArray(c.checks.toList.map { case (k, (n, w, d)) =>
        JObject("name" -> JString(k), "checked" -> JLong(n), "wrong" -> JLong(w),
          "detail" -> JString(d))
      }),
      "errors" -> JArray(c.ops.flatMap(t =>
        scala.jdk.CollectionConverters.IterableHasAsScala(t.errors).asScala)
        .take(10).map(JString(_)).toList),
      "metrics" -> m(c.metrics),
      "layer" -> m(c.layer))))
  }
}
