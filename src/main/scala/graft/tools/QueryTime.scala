package graft.tools

import org.apache.spark.sql.SparkSession

/** Time a single SparkEntry contract query: `runMain graft.tools.QueryTime
  * <sfDir> <queryName> [trials]`. Prints per-trial wall seconds and row
  * count, then the median and minimum over trials 2..n, so per-query
  * optimizations can be measured without a full Bench or Verify pass.
  * Trial 1 is a warm-up (it pays seconds of class loading and JIT) and is
  * left out of the summary, so at least 2 trials are required. The
  * session uses Bench's settings (AQE on, 4 MiB max partition bytes,
  * 256 KiB open cost), so a query timed here runs the plan Bench runs.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val trials = args.lift(2).filter(_.forall(_.isDigit))
      .map(_.toInt).getOrElse(3)
    require(trials >= 2, s"trials must be >= 2 (trial 1 is a warm-up): $trials")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    if (args.length > 2 && args(2) == "explain") {
      // plan audit mode: formatted physical plan instead of timing —
      // check pushdown (PushedFilters/ReadSchema), codegen spans, and
      // exchange count the way the scale review expects
      fn(spark, sfDir).explain("formatted")
    } else {
      val secs = (1 to trials).map { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val warm = if (i == 1) " (warm-up)" else ""
        println(f"[querytime] $name trial $i$warm: $sec%.2f s ($n rows)")
        sec
      }.tail.sorted
      val mid = secs.length / 2
      val median =
        if (secs.length % 2 == 1) secs(mid) else (secs(mid - 1) + secs(mid)) / 2
      println(f"[querytime] $name median $median%.2f s min ${secs.head}%.2f s")
    }
    spark.stop()
  }
}
