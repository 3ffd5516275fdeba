package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — one scan, expression-only math
  * (zip_with dot product inside whole-stage codegen), TakeOrderedAndProject
  * for the global top-k (no full sort shuffle).
  *
  * Scale path: LSH-bucketed ANN via signed random projections — queries probe
  * only their bucket (and optionally neighboring buckets), turning a 100 TB
  * scan into a partition-pruned point lookup when the bucket id is a
  * partition column of the stored table.
  */
object Similarity {

  /** round-half-away-from-zero on the DOUBLE product — exactly what Spark's
    * round(cast(x as double) * 1000) and DuckDB's round compute; Scala's
    * math.round(Float) rounds the float product half-toward-+infinity and
    * diverges on negative .5 boundaries.
    */
  private def q1000(x: Float): Long = {
    val v = x.toDouble * 1000
    if (v >= 0) math.floor(v + 0.5).toLong else math.ceil(v - 0.5).toLong
  }

  /** Elementwise dot product of two float-array columns, computed in double
    * in array order (deterministic summation).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n).otherwise(lit(0.0))
  }

  /** Compiled scoring twin of [[cosine]] for the scan-side ANN paths:
    * Spark evaluates higher-order-function expressions INTERPRETED per
    * array element, and the [[cosine]] expression additionally re-walks
    * each vector five times (dot + two norms, the norms twice through the
    * CASE guard) — the compiled one-pass fold is the [[Dedup]] dedup
    * kernel (`exactCosineUdf`), whose left-to-right double summation is
    * bit-identical to the expression's 0.0-seeded left fold (0.0 + x ≡ x
    * in IEEE), so every oracle replay is unchanged. The Column [[cosine]]
    * stays for expression-level callers.
    */
  private[ops] def cosineKernel: org.apache.spark.sql.expressions.UserDefinedFunction =
    Dedup.exactCosineUdf

  /** Brute-force cosine top-k against a literal query vector.
    * Returns (idCol, score) ordered (score desc, id asc).
    */
  def bruteKnn(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = typedLit(query.toSeq)
    df.select(col(idCol), cosineKernel(col(vecCol), q).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Signed-random-projection hyperplanes: nBits x dim components drawn from
    * a seeded splitmix-like hash → in [-1, 1). Pure function of (seed, b, i),
    * so build and query time agree at any parallelism. Materialized once as
    * a primitive matrix: the bucket UDF does ONE pass of dim x nBits fused
    * multiply-adds per row (a per-element expression chain would blow past
    * janino method limits at dim 768 and re-walk the array nBits times).
    */
  final case class SrpModel(dim: Int, nBits: Int, seed: Long) {
    require(nBits <= 62, "bucket id is a Long")
    private def comp(b: Int, i: Int): Double = {
      var z = seed + b.toLong * 0x9e3779b97f4a7c15L + i.toLong * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 52).toDouble - 1.0
    }
    /** hyperplanes(b)(i) — compact enough to ride the UDF closure. */
    val hyperplanes: Array[Array[Double]] =
      Array.tabulate(nBits, dim)((b, i) => comp(b, i))

    def bucketOf(vec: Array[Float]): Long = {
      var out = 0L
      var b = 0
      while (b < nBits) {
        val h = hyperplanes(b)
        var proj = 0.0
        var i = 0
        val n = math.min(dim, vec.length)
        while (i < n) { proj += vec(i).toDouble * h(i); i += 1 }
        if (proj >= 0) out |= (1L << b)
        b += 1
      }
      out
    }

    /** The query's bucket plus all buckets within `probeHamming` bit flips
      * (multi-probe LSH).
      */
    def probesFor(query: Array[Float], probeHamming: Int): Seq[Long] = {
      val qb = bucketOf(query)
      if (probeHamming <= 0) Seq(qb)
      else qb +: (0 until nBits).map(b => qb ^ (1L << b))
    }
  }

  /** Precompute SRP buckets for the corpus (write once, partition by bucket:
    * `df.write.partitionBy("srp_bucket")` — probes then partition-prune).
    */
  def withSrpBucket(df: DataFrame, vecCol: String, dim: Int,
      nBits: Int = 12, seed: Long = 42L): DataFrame = {
    val model = SrpModel(dim, nBits, seed)
    val bucketU = udf((v: Seq[Float]) =>
      if (v == null) 0L else model.bucketOf(v.toArray))
    df.withColumn("srp_bucket", bucketU(col(vecCol)))
  }

  /** ANN probe over a bucketed table: multi-probe bucket filter, then exact
    * cosine within candidates. When `bucketed` is read from a table written
    * `partitionBy("srp_bucket")`, the isin filter is a partition-pruned
    * point lookup — the 100 TB path (candidates shrink ~2^nBits-fold).
    */
  def lshKnn(bucketed: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, nBits: Int = 12, seed: Long = 42L,
      probeHamming: Int = 1): DataFrame = {
    val model = SrpModel(query.length, nBits, seed)
    val probes = model.probesFor(query, probeHamming)
    val q = typedLit(query.toSeq)
    bucketed.filter(col("srp_bucket").isin(probes: _*))
      .select(col(idCol), cosineKernel(col(vecCol), q).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Quantized cosine top-k: vectors quantized to round(x*1000); outputs the
    * exact integers (dot, na2) and orders by sign(dot)·dot²/na2 — monotone in
    * cosine because the query norm is a positive constant. Every emitted
    * value is an exact BIGINT and the ordering key is one double division of
    * two exact integers (IEEE-deterministic in any engine) — the
    * cross-engine SQL-checkable cosine variant.
    */
  def quantizedCosKnn(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val qInt = typedLit(query.map(q1000).toSeq)
    val vInt = transform(col(vecCol), x => round(x.cast(DoubleType) * 1000).cast(LongType))
    val sign = when(col("dot") < 0, lit(-1.0)).otherwise(lit(1.0))
    val key = when(col("na2") > 0,
      sign * ((col("dot").cast(DoubleType) * col("dot").cast(DoubleType)) /
        col("na2").cast(DoubleType))).otherwise(lit(0.0))
    df.select(col(idCol), vInt.as("v"))
      .select(col(idCol),
        aggregate(zip_with(col("v"), qInt, (x, y) => x * y), lit(0L),
          (a, v) => a + v).as("dot"),
        aggregate(col("v"), lit(0L), (a, x) => a + x * x).as("na2"))
      .orderBy(key.desc, col(idCol))
      .limit(k)
  }

  // ---- IVF (inverted-file) ANN: k-means coarse quantizer ----

  /** Trained IVF coarse quantizer: k centroids; vectors shard by nearest
    * centroid (write `partitionBy("ivf_cluster")` for partition-pruned
    * probes), queries scan only the `nprobe` nearest shards.
    */
  final case class IvfModel(centroids: Array[Array[Float]]) {
    private def dist2(v: Array[Float], c: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { val d = v(i) - c(i); acc += d.toDouble * d; i += 1 }
      acc
    }
    def assign(vec: Array[Float]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val d = dist2(vec, centroids(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    /** nprobe nearest centroid ids for a query (ties → smaller id). */
    def probes(query: Array[Float], nprobe: Int): Seq[Int] =
      centroids.indices
        .sortBy(c => (dist2(query, centroids(c)), c))
        .take(math.max(1, nprobe))
  }

  /** Deterministic Lloyd's k-means over an embedding column.
    *
    * Determinism at any parallelism (the engine invariant): centroid init is
    * the k vectors with the smallest xxhash64(id) — a seeded sample with no
    * RNG — and each update sums QUANTIZED coordinates (round(x * 2^20) as
    * long) so the aggregation is exact integer math in any order; float
    * averaging would drift with partitioning and flip assignments.
    *
    * Training is bounded: the iterations run over the `trainSample` vectors
    * with the smallest xxhash64(id) (the init sampler generalized — still a
    * pure function of ids, so parallelism-invariant), materialized ONCE.
    * A coarse quantizer needs a representative sample, not the corpus; at
    * 100 TB the per-iteration dim x N shuffle over the full table would
    * dominate the whole pipeline. `trainSample <= 0` disables the bound.
    */
  def trainIvf(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int = 8, seed: Long = 42L,
      trainSample: Long = 200000L): IvfModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df
      .select(col(idCol).cast(LongType).as("_id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
      .withColumn("h", xxhash64(col("_id"), lit(seed)))
    // Sample = the trainSample rows with the smallest (h, _id). A bare
    // orderBy+limit pre-trims per partition but still funnels P x n rows
    // through one merge task — at 100 TB (P ~ 1e5) that single-tasks the
    // gather. Guard: xxhash64 is uniform, so pre-filter to h below a
    // threshold sized for ~4x trainSample expected survivors (a pure
    // function of the corpus count — parallelism-invariant), then top-n
    // over that O(n) superset. The top-n RESULT is unchanged (the filter
    // keeps every true top-n row unless fewer than trainSample survive —
    // astronomically unlikely at 4x margin, and detected + fallen back on).
    // TakeOrdered top-n (no full sort), re-spread so the iteration scans
    // parallelize, then materialized so each iteration reads the sample —
    // not the corpus — and the lineage doesn't re-run the top-n per pass
    def sampleOf(src: org.apache.spark.sql.DataFrame) =
      src.orderBy("h", "_id").limit(trainSample.toInt)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(true)
    val train = {
      if (trainSample <= 0) keyed.localCheckpoint(true)
      else {
        val total = keyed.count()
        if (total <= 4L * trainSample) sampleOf(keyed)
        else {
          val frac = 4.0 * trainSample / total
          val thresh = (Long.MinValue.toDouble + frac * 1.8446744073709552E19).toLong
          val fromFiltered = sampleOf(keyed.filter(col("h") < thresh))
          // under-sampling guard folded into the materialized sample (one
          // filtered scan) instead of a separate candidates.count() full
          // pass: the filtered top-n equals the true top-n EXACTLY when
          // the filter kept >= trainSample rows, i.e. when the sample came
          // back full — so the fallback decision is a row count of the
          // checkpointed sample, not another corpus scan
          if (fromFiltered.count() >= trainSample) fromFiltered
          else sampleOf(keyed)
        }
      }
    }
    val init: Array[Array[Float]] = train
      .orderBy("h", "_id")
      .limit(k)
      .select("v").as[Seq[Float]].collect().map(_.toArray)
    var model = IvfModel(init)
    val Scale = 1L << 20
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(model)
      val assignU = udf((v: Seq[Float]) =>
        if (v == null) -1 else bc.value.assign(v.toArray))
      val qv = transform(col("v"), x => round(x.cast(DoubleType) * Scale).cast(LongType))
      val sums = train
        .select(assignU(col("v")).as("c"), qv.as("q"))
        .select(col("c"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy("c", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .as[(Int, Int, Long, Long)].collect()
      val dim = model.centroids.headOption.map(_.length).getOrElse(0)
      val next = model.centroids.map(_.clone())
      sums.groupBy(_._1).foreach { case (c, rows) =>
        if (c >= 0 && c < next.length) {
          val cent = new Array[Float](dim)
          rows.foreach { case (_, pos, sx, n) =>
            if (pos < dim) cent(pos) = (sx.toDouble / Scale / n).toFloat
          }
          next(c) = cent
        } // empty clusters keep their previous centroid
      }
      model = IvfModel(next)
    }
    model
  }

  /** Cluster assignment column for the corpus (write once,
    * `partitionBy("ivf_cluster")`).
    */
  def withIvfCluster(df: DataFrame, vecCol: String, model: IvfModel): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val assignU = udf((v: Seq[Float]) =>
      if (v == null) -1 else bc.value.assign(v.toArray))
    df.withColumn("ivf_cluster", assignU(col(vecCol)))
  }

  /** IVF probe: scan only the nprobe nearest clusters, exact cosine within.
    * Partition-pruned when `clustered` is read from a table written
    * `partitionBy("ivf_cluster")`.
    */
  def ivfKnn(clustered: DataFrame, vecCol: String, idCol: String,
      model: IvfModel, query: Array[Float], k: Int,
      nprobe: Int = 2): DataFrame = {
    val probeIds = model.probes(query, nprobe)
    val q = typedLit(query.toSeq)
    clustered.filter(col("ivf_cluster").isin(probeIds: _*))
      .select(col(idCol), cosineKernel(col(vecCol), q).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Batched IVF ANN — the vector msearch: score MANY queries in one
    * job instead of one driver round-trip each. `queries` is a
    * (qid, vector) table, definitionally small next to the corpus: each
    * query row expands to its `nprobe` probe clusters through the frozen
    * model (a broadcast UDF — no driver loop), the probe table
    * BROADCAST-joins the clustered corpus on ivf_cluster (the corpus
    * never shuffles; a partitionBy("ivf_cluster") source admits dynamic
    * partition pruning), exact cosine per (query, candidate), and the
    * per-query top-k is a window partitioned by query id — bounded
    * groups, never a global sort. Output (qidCol, idCol, score, rank),
    * rank 1-based per query.
    */
  def ivfKnnBatch(clustered: DataFrame, vecCol: String, idCol: String,
      model: IvfModel, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bc = clustered.sparkSession.sparkContext.broadcast(model)
    val probesU = udf((v: Seq[Float]) =>
      if (v == null) Seq.empty[Int]
      else bc.value.probes(v.toArray, nprobe))
    val probeTbl = broadcast(queries
      .select(col(qidCol).as("_qid"), col(qvecCol).as("_qv"))
      .withColumn("ivf_cluster", explode(probesU(col("_qv")))))
    val w = Window.partitionBy("_qid").orderBy(desc("score"), col(idCol))
    clustered.join(probeTbl, Seq("ivf_cluster"))
      .select(col("_qid"), col(idCol),
        cosineKernel(col(vecCol), col("_qv")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("_qid").as(qidCol), col(idCol), col("score"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** Quantized dot-product top-k: vectors quantized to round(x*1000) —
    * exact integer math, used as the cross-engine SQL-checkable variant
    * (float summation order can differ between engines; ints cannot).
    */
  def quantizedDotKnn(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val qInt = typedLit(query.map(q1000).toSeq)
    val vInt = transform(col(vecCol), x => round(x.cast(DoubleType) * 1000).cast(LongType))
    df.select(col(idCol),
        aggregate(zip_with(vInt, qInt, (x, y) => x * y), lit(0L), (a, v) => a + v)
          .as("dot"))
      .orderBy(desc("dot"), col(idCol))
      .limit(k)
  }
}
