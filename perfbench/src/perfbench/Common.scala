package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, data: Path, out: Path, scale: Double,
    corrupt: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", Paths.get(get("--work")),
      Paths.get(get("--data")), Paths.get(get("--out")),
      m.get("--scale").map(_.toDouble).getOrElse(1.0), m.get("--corrupt").contains("1"))
  }
}

/** A named end-to-end or layer metric with its sample count. */
final case class Metric(value: Double, unit: String, n: Long)

/** Latency samples of one operation type (nanoseconds). */
final class Samples {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  def add(ns: Long): Unit = buf.add(ns)
  def size: Int = buf.size
  def sortedMs: Array[Double] = {
    val a = buf.toArray(Array.empty[java.lang.Long]).map(_.longValue / 1e6)
    java.util.Arrays.sort(a)
    a
  }
}

object Stats {
  /** Nearest-rank percentile of sorted values. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = pct(xs.sorted.toArray, 50)

  /** A percentile is reported only when at least ten samples lie beyond it. */
  def validPct(n: Int, p: Double): Boolean = n * (100.0 - p) / 100.0 >= 10.0

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { s => md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Zipf(s) sampler over ranks 0 until n (rank 0 most popular). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Session {
  /** The benchmark's own session, configured as `graft.Bench` configures
    * its sessions (AQE on, 4 MiB max partition bytes, 256 KiB open cost),
    * at local[cores]. Scratch files stay under `work`.
    */
  def create(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Files2 {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(q => Files.delete(q))
    finally it.close()
  }

  def du(p: Path): Long = if (!Files.exists(p)) 0L else {
    val it = Files.walk(p)
    try it.filter(q => Files.isRegularFile(q)).mapToLong(q => Files.size(q)).sum
    finally it.close()
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
      .split("\n").find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
