package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer: name is `<module>.<function>`. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. Off in the untraced run, where `apply` only runs the
  * body. Spans stay in memory and are written as JSON lines at the end.
  */
final class Tracer(val on: Boolean) {
  private val ids, reqs = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** This thread's open spans, innermost first, as (span id, request id). */
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Times `body` as a span. A span opened inside another one belongs to
    * its request; an outermost span starts a new request.
    */
  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = open.get()
      val req = outer.headOption.map(_._2).getOrElse(reqs.incrementAndGet())
      open.set((id, req) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(outer)
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), name, req, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def byName(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover.
    */
  def selfNs: Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def write(path: Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""req":${s.req},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Spark and JVM counters of one tag (see [[Session.tag]]). */
final case class SparkCounts(jobs: Long, tasks: Long, taskMs: Long,
    schedDelayMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    stageMaxMsSum: Long, stageMedianMsSum: Long) {
  def skew: Double =
    if (stageMedianMsSum == 0) 1.0 else stageMaxMsSum.toDouble / stageMedianMsSum
}

/** The one listener the traced run attaches: job, stage and task metrics
  * per tag. Jobs inherit the tag of the thread that submitted them.
  */
final class Collector extends SparkListener {
  private final class Acc {
    val jobs, tasks, taskMs, sched, shuffle, spill = new AtomicLong(0)
    val stageTasks = TrieMap.empty[Int, ConcurrentLinkedQueue[java.lang.Long]]
  }
  private val accs = TrieMap.empty[String, Acc]
  private val stageTag = TrieMap.empty[Int, String]

  private def acc(tag: String) = accs.getOrElseUpdate(tag, new Acc)
  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Collector.TagKey)))
      .getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = tagOf(e.properties)
    acc(t).jobs.incrementAndGet()
    e.stageIds.foreach(stageTag.put(_, t))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTag.put(e.stageInfo.stageId, tagOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageTag.getOrElse(e.stageId, "untagged"))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      a.taskMs.addAndGet(m.executorRunTime)
      a.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      a.sched.addAndGet(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
    }
    a.stageTasks.getOrElseUpdate(e.stageId, new ConcurrentLinkedQueue())
      .add(info.duration)
  }

  /** Counters of every tag starting with `prefix`. */
  def counts(prefix: String): SparkCounts = {
    val as = accs.collect { case (t, a) if t.startsWith(prefix) => a }
    val stages = as.flatMap(_.stageTasks.values)
      .map(_.asScala.map(_.longValue).toArray.sorted)
      .filter(_.length >= 2)
    SparkCounts(as.map(_.jobs.get).sum, as.map(_.tasks.get).sum,
      as.map(_.taskMs.get).sum, as.map(_.sched.get).sum,
      as.map(_.shuffle.get).sum, as.map(_.spill.get).sum,
      stages.map(_.last).sum, stages.map(s => s(s.length / 2)).sum)
  }
}

object Collector {
  val TagKey = "perfbench.tag"

  def attach(spark: SparkSession): Collector = {
    val c = new Collector
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Heap the JVM still holds after a full collection, MB: what the
    * workload keeps live once its window ends (readers, caches, Spark's
    * own state).
    */
  def heapAfterGcMb(): Double = {
    // a collection queues Spark's unreachable broadcasts and shuffles,
    // whose blocks its context cleaner frees after it; with two collections
    // half a second apart the figure still fell by a fifth in some runs, so
    // collect until the heap stops shrinking
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = Long.MaxValue
    var now = used()
    var rounds = 1
    while (now < last - (1L << 20) && rounds < 6) {
      Thread.sleep(500)
      last = now
      now = used()
      rounds += 1
    }
    now / 1048576.0
  }

  /** Total JVM garbage-collection time so far, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** CPU time this JVM has used so far, every thread included (s). */
  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time on a CPU so far (ns) of the calling thread (as "self") and, by
    * thread id, of the common fork-join pool's workers, which run a query's
    * salted tasks; from the kernel's per-thread schedstat, with finer
    * resolution than [[processCpuSeconds]] and cheaper to read than every
    * thread.
    */
  def queryThreadsNanos(): Map[String, Long] = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val workers =
      try tasks.iterator.asScala.filter(t => comm(t).startsWith("ForkJoinPool.co")).flatMap { t =>
        Try(t.getFileName.toString -> runNanos(t)).toOption
      }.toMap
      finally tasks.close()
    workers + ("self" -> runNanos(Paths.get("/proc/thread-self")))
  }

  /** CPU time used since `before` by the threads of `now`, ns; a thread
    * that ended meanwhile drops out.
    */
  def runNanosSince(before: Map[String, Long], now: Map[String, Long]): Long =
    now.iterator.map { case (tid, ns) => ns - before.getOrElse(tid, 0L) }.sum

  private def runNanos(task: Path): Long =
    new String(Files.readAllBytes(task.resolve("schedstat")), UTF_8).trim.split(" ")(0).toLong

  private val taskName = TrieMap.empty[String, String]

  private def comm(task: Path): String =
    taskName.getOrElseUpdate(task.getFileName.toString,
      Try(new String(Files.readAllBytes(task.resolve("comm")), UTF_8).trim).getOrElse(""))
}
