package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Path-graph probe for Dedup.connectedComponents:
  * `runMain graft.tools.CcProbe [pathLen]` (default 200) runs CC on the
  * path 0-1-...-(n-1) and prints its distinct-label count (expect 1) and
  * wall time.
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 200
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("idA", "idB")
    val t0 = System.nanoTime()
    val labels = graft.ops.Dedup.connectedComponents(pairs, "idA", "idB")
    val distinctLabels = labels.select("label").distinct().count()
    println(f"[ccprobe] path n=$n distinctLabels=$distinctLabels " +
      f"(expect 1) wall ${(System.nanoTime() - t0) / 1e9}%.3f s")
    spark.stop()
  }
}
