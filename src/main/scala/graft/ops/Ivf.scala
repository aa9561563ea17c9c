package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

/** The one IVF serving core behind the five disk-index serves
  * ([[Similarity.ivfTopKFromIndex]], [[Quantization.quantizedIvfTopKFromIndex]],
  * [[Quantization.hashIvfTopKFromIndex]], [[Pq.pqIvfTopKFromIndex]] and
  * [[Pq.residualPqIvfTopKFromIndex]]). A serve is a probe expansion plus
  * a scorer; everything else lives here:
  *   - the index layout: `vectors/` PARTITIONED BY `cluster`, plus the
  *     constant-size `centroids/` and `codebooks/` metadata tables, each
  *     with one writer and one reader;
  *   - the pruning contract ([[scan]]): the probe set is collected
  *     driver-side (bounded) and lands in the scan's PartitionFilters, so
  *     only the probed cluster directories are listed and opened;
  *   - the broadcast probe join and the integer-score rank tail;
  *   - the driver-side math the fits share: one bounded corpus sample,
  *     one unit-normalize, one L2 argmin.
  */
object Ivf {

  private def vectorsDir(path: String) = s"$path/vectors"

  /** Write index rows (carrying `cluster`) as the index's vectors dir. */
  private[ops] def writeVectors(rows: DataFrame, path: String,
      mode: String = "overwrite"): Unit =
    rows.write.mode(mode).partitionBy("cluster").parquet(vectorsDir(path))

  /** Every row of the index, unpruned (compaction's input). */
  private[ops] def readVectors(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(vectorsDir(path))

  /** The metadata tables' schemas: [[writeCentroids]] and
    * [[writeCodebooks]] write them, so their readers infer nothing.
    */
  private val centroidSchema = StructType(Seq(StructField("cluster", IntegerType),
    StructField("centroid", ArrayType(DoubleType))))
  private val codebookSchema = StructType(Seq(StructField("s", IntegerType),
    StructField("c", IntegerType), StructField("w", ArrayType(DoubleType))))

  /** The centroid metadata table (nlist rows — constant size). */
  private[ops] def writeCentroids(spark: SparkSession,
      centroids: Array[Array[Double]], path: String): Unit = {
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      centroids.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }: _*)
    spark.createDataFrame(rows, centroidSchema).repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** BOUNDED collect: the centroid table has exactly `nlist` rows (k-means
    * cluster count, typically 100s-1000s) — constant in corpus size, so
    * this is index-metadata loading, not a collect-in-the-hot-path.
    */
  private[ops] def readCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.schema(centroidSchema).parquet(s"$path/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1).toArray)

  /** The PQ codebook table: one (s, c, w) row per subspace codeword. */
  private[ops] def writeCodebooks(spark: SparkSession,
      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (w, c) => (s, c, w.toSeq) }
    }.toSeq.toDF("s", "c", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Codebooks[m][k][d/m] back from [[writeCodebooks]] (m·k rows). */
  private[ops] def readCodebooks(spark: SparkSession,
      path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.schema(codebookSchema).parquet(s"$path/codebooks").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val codebooks = Array.ofDim[Array[Double]](m, k)
    rows.foreach(r => codebooks(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    codebooks
  }

  /** The k-means probe expansion: one row per (query, probe), the
    * `nProbe` centroids nearest to `vec` ([[Similarity.probeIds]]).
    */
  private[ops] def probe(centroids: Array[Array[Double]], nProbe: Int)(vec: Column): Column =
    explode(Similarity.probeIds(centroids, nProbe)(vec))

  /** Candidate pairs: corpus rows (`id`, `cluster`, scorer columns) of
    * each query's probed clusters, against the broadcast query frame
    * (`qid`, `probe`, scorer columns). A query never pairs with itself.
    */
  private[ops] def probeJoin(corpus: DataFrame, q: DataFrame): DataFrame =
    corpus.join(broadcast(q), col("cluster") === col("probe") && col("id") =!= col("qid"))

  /** The disk-index probe step every serve shares: `q` holds one row per
    * (qid, probe) plus the scorer's query-side columns; `cols` picks the
    * corpus-side ones (`id` among them) and `live` filters the pruned
    * scan before the pick (hash-IVF's tombstone anti-join).
    */
  private[ops] def scan(indexPath: String, q: DataFrame, cols: Seq[Column],
      live: DataFrame => DataFrame = identity): DataFrame = {
    // BOUNDED collect: at most min(nlist, |queries|·nProbe) distinct probe
    // ids — needed driver-side so the isin() lands in PartitionFilters
    val probed = q.select("probe").distinct().collect().map(_.getInt(0))
    val pruned = live(readVectors(q.sparkSession, indexPath)
      .filter(col("cluster").isin(probed.toIndexedSeq.map(Integer.valueOf): _*)))
    probeJoin(pruned.select(cols :+ col("cluster"): _*), q)
  }

  /** The integer-score rank tail: rank candidates per query by `score`
    * desc, id asc (exact integers: no float ties, no cross-engine ulp
    * drift) and keep k, as (qid, rnk long, neighbor, score). The filter
    * reads the bare row_number, so Spark plans a WindowGroupLimit that
    * keeps ≤ k rows per query per partition ahead of the rank shuffle.
    */
  private[ops] def rank(cands: DataFrame, score: Column, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    cands.withColumn("score", score)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"),
        col("id").as("neighbor"), col("score"))
  }

  /** A bounded, corpus-wide sample of `vecCol`, unit-normalized. A
    * random sample, NOT limit(): limit takes the first partitions in
    * order, so at scale a fit would only ever see the leading shard of
    * the corpus (first-partitions bias). The fraction overshoots by 10%
    * then trims, keeping the collect bounded by `sampleSize`.
    */
  private[ops] def sample(vectors: DataFrame, vecCol: String, sampleSize: Int,
      seed: Long): Array[Array[Double]] = {
    val total = vectors.count()
    val base = vectors.select(col(vecCol).cast("array<double>"))
    val sampled =
      if (total <= sampleSize) base
      else base.sample(withReplacement = false,
        math.min(1.0, 1.1 * sampleSize / total), seed)
    sampled.limit(sampleSize).collect().map(r => unit(r.getSeq[Double](0).toArray))
  }

  /** Unit-normalize in place (zero vectors stay zero). The IVF index
    * serves COSINE queries, so clustering must happen on the unit
    * sphere: L2 k-means on raw vectors partitions by magnitude as much
    * as by direction, and a query's nearest-centroid probe then misses
    * the clusters holding its true cosine neighbors. On the sphere,
    * L2-nearest ≡ cosine-nearest (|a-b|² = 2 - 2·cos for unit a, b).
    * Same op order as the native `nearest_centroid` expression.
    */
  private[ops] def unit(x: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    val n = math.sqrt(s)
    if (n > 0) { i = 0; while (i < x.length) { x(i) /= n; i += 1 } }
    x
  }

  /** Squared L2 distance over `x`'s length. */
  private[ops] def distL2(c: Array[Double], x: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < x.length) { val t = c(i) - x(i); d += t * t; i += 1 }
    d
  }

  /** L2 argmin over `cs`; ties keep the lower index. */
  private[ops] def nearest(cs: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = distL2(cs(c), x)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
}
