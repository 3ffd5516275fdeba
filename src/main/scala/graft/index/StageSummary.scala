package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** The figures a build stage has in hand as it writes, kept beside its
  * output in `_GRAFT_SUMMARY` (parquet reads skip `_` files): one
  * tab-separated line per docShard (docs), hot term (dict; analyzed terms
  * hold no whitespace) or bucket (segments, lineage). `IndexBuilder` writes a summary just before the
  * stage's stamp, so a stamped stage always has one, and later stages and
  * later generations read the summary instead of the output.
  */
private[index] object StageSummary {

  def path(dir: String): Path = Paths.get(dir, "_GRAFT_SUMMARY")

  def write(dir: String, lines: Seq[String]): Unit =
    Files.write(path(dir), lines.mkString("\n").getBytes(UTF_8))

  def read(dir: String): Option[Seq[String]] =
    Some(path(dir)).filter(Files.exists(_)).map(p =>
      new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq.filter(_.nonEmpty))

  def parse(lines: Seq[String]): Seq[Array[Long]] = lines.map(_.split("\t").map(_.toLong))

  /** Rows of (key, figures ...) summed per key, as lines in key order. Long
    * sums wrap, so a fingerprint column stays its sum mod 2^64. */
  def fold(rows: Seq[Array[Long]]): Seq[String] =
    rows.groupMapReduce(_.head)(_.tail)((a, b) => a.zip(b).map(t => t._1 + t._2))
      .toSeq.sortBy(_._1).map { case (k, f) => (k +: f).mkString("\t") }

  /** One generation's (docShard, docs, doclen sum, xxhash64(sha256) sum mod
    * 2^64) rows: its stage-1 summary, or the same aggregate over its docs
    * for a generation written without one. */
  def docFigures(spark: SparkSession, docsDir: String): Seq[Array[Long]] =
    parse(read(docsDir).getOrElse(fold(
      spark.read.schema(IndexSchemas.docs).parquet(docsDir)
        .groupBy(shiftrightunsigned(col("docId"), 40))
        .agg(count(lit(1)), sum(col("doclen")),
          sum(xxhash64(col("sha256")).cast(DecimalType(38, 0))))
        .collect().toSeq.map(r => Array(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDecimal(3).toBigInteger.longValue)))))

  /** Writes stage 3's per-bucket figures as generation `version`'s
    * `lineage/` table (`IndexSchemas.lineage`): at most numBuckets rows, so
    * one parquet file written from the driver, where a Spark write of a
    * local table would cost a job and its commit protocol. */
  def writeLineage(dir: String, version: Int, lines: Seq[String]): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d))
      Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    Files.createDirectories(d)
    val schema = new SparkToParquetSchemaConverter().convert(IndexSchemas.lineage)
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(d.resolve("part-00000.snappy.parquet")))
      .withType(schema).withCompressionCodec(SNAPPY).build()
    try parse(lines).foreach { case Array(bucket, shards, postings, bytes) =>
      w.write(groups.newGroup().append("bucket", bucket.toInt).append("numShards", shards)
        .append("numPostings", postings).append("postingBytes", bytes)
        .append("snapshotVersion", version))
    } finally w.close()
    Files.createFile(d.resolve("_SUCCESS"))
  }

  /** One generation's (bucket, shards, postings, posting bytes) rows: its
    * stage-4 summary, or its lineage table for a generation written
    * without one. */
  def lineageFigures(spark: SparkSession, lineageDir: String): Seq[Array[Long]] =
    read(lineageDir).map(parse).getOrElse(
      spark.read.schema(IndexSchemas.lineage).parquet(lineageDir)
        .select(col("bucket").cast(LongType), col("numShards"), col("numPostings"),
          col("postingBytes"))
        .collect().toSeq.map(r => Array.tabulate(4)(r.getLong)))
}
