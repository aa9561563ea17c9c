package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Tables

/** Scale-curve experiment for the ANN family: replicate the sf0.1
  * embedding corpus m× (each replica deterministically rotated by a
  * per-replica sign flip + coordinate roll so replicas are NEW
  * vectors, not duplicates) and measure, per engine and scale: corpus
  * rows, rows actually SCANNED by the serving path, and seconds.
  *
  * The claims this demonstrates:
  *   - brute force (float or int8) scans the whole corpus per batch —
  *     scanned rows grow linearly with corpus size;
  *   - IVF probing scans ~nProbe/nlist of the corpus — the scanned
  *     fraction stays constant as the corpus grows, and with the
  *     partitioned disk index those are the only directories READ;
  *   - IVF-PQ reads the same pruned fraction but ~40× fewer bytes per
  *     row (8 six-bit codes vs 64 float64s after cast).
  *
  * Usage: runMain graft.tools.AnnScaleBench [sfDir] [scales]
  * (defaults: /root/testdata/sf0.1 and 1,2,5,10). Output: one JSON
  * line per measurement; paste the table into COVERAGE.md.
  */
object AnnScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).getOrElse("1,2,5,10").split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.LocalSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.read(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

    def corpusAt(m: Int): DataFrame =
      (0 until m).map { r =>
        if (r == 0) base
        else base.select(
          (col("vec_id") + lit(r.toLong * 1000000L)).as("vec_id"),
          // deterministic decorrelation: flip sign of every odd index,
          // then roll coordinates by r — orthogonal transforms, so the
          // replica cloud has the same geometry but new directions
          transform(sequence(lit(0), size(col("embedding")) - 1), i =>
            element_at(col("embedding"),
              (i + lit(r)) % size(col("embedding")) + 1) *
              when(i % 2 === 1, lit(-1d)).otherwise(lit(1d))).as("embedding"))
      }.reduce(_ unionByName _)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    scales.foreach { m =>
      val corpus = corpusAt(m).persist()
      val n = corpus.count()
      val queries = base.filter(col("vec_id") % 100 === 0)
      val nlist = 64
      val nProbe = 4

      // float brute force: scans every row per query batch
      val (_, tBrute) = time {
        graft.ops.Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 10)
          .write.format("noop").mode("overwrite").save()
      }

      // quantized IVF disk index: only probed directories are opened
      val dirQ = graft.runtime.Staging.dir(s"annq_$m").toString
      val centroids = graft.ops.Similarity.fitCentroids(corpus, "embedding", nlist)
      val (_, tQBuild) = time {
        graft.ops.Quantization.writeQuantizedIvfIndex(
          corpus, "vec_id", "embedding", dirQ, centroids)
      }
      val ivfq = graft.ops.Quantization.quantizedIvfTopKFromIndex(
        dirQ, queries, "vec_id", "embedding", 10, nProbe)
      val (_, tQServe) = time {
        ivfq.write.format("noop").mode("overwrite").save()
      }
      // the honest pruning metric is PER QUERY: each query's serving
      // touches only its nProbe clusters' rows. The batch-union count
      // rises with the number of concurrent queries by design.
      val clusterSizes = spark.read.parquet(s"$dirQ/vectors")
        .groupBy("cluster").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val perQueryProbes = queries
        .select(col("vec_id"),
          explode(graft.ops.Similarity.probeIds(centroids, nProbe)(
            col("embedding").cast("array<double>"))).as("p"))
        .collect().map(r => r.getLong(0) -> r.getInt(1))
      val perQueryScanned = perQueryProbes.groupBy(_._1)
        .map { case (_, ps) => ps.map(p => clusterSizes.getOrElse(p._2, 0L)).sum }
      val avgScanned = perQueryScanned.sum.toDouble / perQueryScanned.size
      val scannedQ = spark.read.parquet(s"$dirQ/vectors")
        .filter(col("cluster").isin(
          perQueryProbes.map(p => Integer.valueOf(p._2)).distinct.toSeq: _*))
        .count()

      // IVF-PQ: same pruning, ~40x smaller rows
      val dirP = graft.runtime.Staging.dir(s"annpq_$m").toString
      val cbs = graft.ops.Pq.fitCodebooks(corpus, "embedding", 8, 64)
      val (_, tPBuild) = time {
        graft.ops.Pq.writePqIvfIndex(corpus, "vec_id", "embedding", dirP, centroids, cbs)
      }
      val (_, tPServe) = time {
        graft.ops.Pq.pqIvfTopKFromIndex(dirP, queries, "vec_id", "embedding", 10, nProbe)
          .write.format("noop").mode("overwrite").save()
      }
      val bytesFloat = dirBytes(new java.io.File(dirQ, "vectors"))
      val bytesPq = dirBytes(new java.io.File(dirP, "vectors"))

      println(
        s"""{"scale":$m,"rows":$n,"brute_s":${f"$tBrute%.2f"},""" +
          s""""ivfq_build_s":${f"$tQBuild%.2f"},"ivfq_serve_s":${f"$tQServe%.2f"},""" +
          s""""per_query_scanned_rows":${f"$avgScanned%.0f"},""" +
          s""""per_query_frac":${f"${avgScanned / n}%.3f"},""" +
          s""""batch_union_rows":$scannedQ,""" +
          s""""pq_build_s":${f"$tPBuild%.2f"},"pq_serve_s":${f"$tPServe%.2f"},""" +
          s""""int8_index_bytes":$bytesFloat,"pq_index_bytes":$bytesPq}""")
      corpus.unpersist()
      graft.runtime.Staging.release(Set(s"annq_$m", s"annpq_$m"))
    }
    spark.stop()
  }

  private def dirBytes(d: java.io.File): Long =
    if (d.isFile) d.length()
    else Option(d.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
