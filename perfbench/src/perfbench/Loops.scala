package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

/** One operation type of a workload: latency samples, attempts, failures.
  * A sample may carry a label (such as exact or fuzzy), whose samples are
  * also kept apart.
  */
final class OpType(val name: String, val threads: Int) {
  val samples = new Samples
  private val labelled = new ConcurrentHashMap[String, Samples]()
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val errors = new ConcurrentLinkedQueue[String]()

  /** Runs one operation; an exception counts as a failed operation. */
  def run(latencyFrom: Long, label: String = "")(body: => Unit): Unit = {
    attempted.incrementAndGet()
    try {
      body
      val ns = System.nanoTime() - latencyFrom
      samples.add(ns)
      if (label.nonEmpty) labelled.computeIfAbsent(label, _ => new Samples).add(ns)
    } catch {
      case e: Throwable =>
        failed.incrementAndGet()
        if (errors.size < 5) errors.add(s"$name: $e")
    }
  }

  /** Samples of the operations run with `label`. */
  def samplesOf(label: String): Samples = labelled.getOrDefault(label, new Samples)
}

object Loops {
  /** How long an open loop's queued operations may run after it stops
    * handing out new ones; those not run by then count as failed.
    */
  val DrainSeconds = 30

  /** A stop condition that holds once `seconds` have passed. */
  def after(seconds: Double): () => Boolean = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    () => System.nanoTime() >= end
  }

  /** Open loop of one op type at `rate` per second on a pool of
    * `t.threads`: operation i falls due a seeded phase plus i gaps after
    * the start and is handed to the pool then, whether or not earlier ones
    * finished; its latency counts from the due time, under `label(i)`.
    * Runs until `stop()` holds. Returns how late the generator handed
    * operations over (ns).
    */
  def open(t: OpType, rate: Double, rnd: java.util.SplittableRandom, stop: () => Boolean,
      label: Int => String = _ => "")(body: Int => Unit): Samples = {
    val lateness = new Samples
    val pool = Executors.newFixedThreadPool(t.threads)
    val gap = 1e9 / rate
    val t0 = System.nanoTime() + (rnd.nextDouble() * gap).toLong
    var i = 0
    var stopped = stop()
    while (!stopped) {
      val due = t0 + (i * gap).toLong
      var now = System.nanoTime()
      while (now < due && !stopped) {
        LockSupport.parkNanos(math.min(due - now, 1000000L))
        now = System.nanoTime()
        stopped = stop()
      }
      if (!stopped) {
        lateness.add(now - due)
        val op = i
        pool.execute(() => t.run(due, label(op))(body(op)))
        i += 1
        stopped = stop()
      }
    }
    pool.shutdown()
    if (!pool.awaitTermination(DrainSeconds, TimeUnit.SECONDS)) {
      val dropped = pool.shutdownNow().size.toLong
      t.attempted.addAndGet(dropped)
      t.failed.addAndGet(dropped)
      if (t.errors.size < 5) t.errors.add(s"${t.name}: $dropped operations not run after the drain time")
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
    lateness
  }

  /** Runs operations 0 until `n` on `clients` threads, each thread taking
    * every `clients`-th one: a warm-up of a fixed amount of work.
    */
  def fixed(clients: Int, n: Int)(body: Int => Unit): Unit = {
    val threads = (0 until clients).map(cl => new Thread(() => (cl until n by clients).foreach(body)))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Closed loop: `clients` threads each send their next operation when the
    * previous one returns, until `seconds` have passed. Returns completed
    * operations per second: the median over `slices` equal slices of the
    * loop's time, so a stall of the host in one slice does not move it.
    */
  def closed(t: OpType, clients: Int, seconds: Double, slices: Int = 1)
      (body: (Int, Long) => Unit): Double = {
    val done = new ConcurrentLinkedQueue[java.lang.Long]()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var seq = 0L
        while (System.nanoTime() < end) {
          val s = System.nanoTime()
          t.run(s)(body(c, seq))
          done.add(System.nanoTime())
          seq += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val slice = (System.nanoTime() - t0).toDouble / slices
    val counts = new Array[Double](slices)
    done.forEach(at => counts(math.min(slices - 1, ((at - t0) / slice).toInt)) += 1)
    Stats.median(counts.toSeq) / (slice / 1e9)
  }
}
