package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (Array[Float]).
  *
  * Scale design: the query set is always the small side — broadcast it.
  * The brute-force path scans every vector once (embarrassingly
  * parallel); the IVF path prunes the scan to the probed clusters, which
  * is the standard way to keep ANN sub-linear at 100 TB (cluster
  * assignment is a partition-prunable column in a real deployment:
  * write the table partitioned by cluster id).
  */
object Similarity {

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0d), (acc, z) => acc + z)
  private def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0d), (acc, x) => acc + x * x))

  /** Cosine between two array<double> columns: uses the native codegen'd
    * `cosine_sim` expression when the session registered GraftExtensions
    * (one fused loop), else the portable higher-order-function
    * composition. Same accumulation order → bit-identical results.
    */
  def cosine(df: DataFrame, a: Column, b: Column): Column = {
    val raw =
      if (df.sparkSession.catalog.functionExists("cosine_sim"))
        call_function("cosine_sim", a, b)
      else dot(a, b) / (norm(a) * norm(b))
    // zero-norm vectors give 0/0 = NaN, and NaN sorts ABOVE every real in
    // a descending rank — a single all-zero embedding would become the
    // top neighbor of every query. Map NaN to -1 (worst similarity).
    nanvl(raw, lit(-1d))
  }

  /** Exact cosine top-k per query. `queries` must be broadcast-sized. */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val q = broadcast(queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv")))
    rankCosine(v.join(q, col("id") =!= col("qid")), k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most cosine-similar vectors carrying a DIFFERENT
    * label — the "close but wrong" examples a contrastive or reranker
    * objective needs (easy negatives are random pairs; hard ones are
    * the near-misses). Same scale shape as [[bruteForceTopK]]: queries
    * broadcast, one scan over the corpus, label predicate applied
    * scan-side BEFORE scoring (a vector sharing the query's label never
    * enters the rank), bounded-heap top-k tail.
    */
  def hardNegatives(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val v = vectors.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), col(labelCol).as("lbl"))
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"), col(labelCol).as("qlbl")))
    rankCosine(v.join(q, col("id") =!= col("qid") && col("lbl") =!= col("qlbl")), k)
  }

  /** Score (v, qv) candidate pairs by [[cosine]] and rank them. */
  private def rankCosine(joined: DataFrame, k: Int): DataFrame =
    rankTopK(joined.withColumn("cosine", cosine(joined, col("v"), col("qv"))), k)

  /** Rank the k best candidates per query from (qid, id, cosine) rows,
    * emitting (qid, rnk, neighbor, cosine) in rank order.
    *
    * Scale path: the native bounded-heap `topk_agg` — per-group state is
    * k entries, map-side combine sends ≤ k rows per query per map task
    * into the shuffle, O(log k) per candidate. The window fallback
    * computes the IDENTICAL result (same total order: cosine desc, id
    * asc — equality pinned in ScaleOpsSpec) but shuffles and SORTS
    * every candidate row per query — correctness stand-in, not the
    * 100 TB shape. The two forms differ ONLY on NaN ord (the window
    * sorts NaN first, the heap deliberately last); [[cosine]] maps NaN
    * to −1 upstream, so no NaN reaches this rank.
    */
  private def rankTopK(cands: DataFrame, k: Int): DataFrame =
    if (cands.sparkSession.catalog.functionExists("topk_agg"))
      cands.groupBy("qid")
        .agg(call_function("topk_agg", col("cosine"), col("id"), lit(k)).as("__tk"))
        .select(col("qid"), posexplode(col("__tk")).as(Seq("__p", "__e")))
        .select(col("qid"), (col("__p") + 1).cast("int").as("rnk"),
          col("__e")("id").as("neighbor"), col("__e")("ord").as("cosine"))
    else {
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
      cands.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("rnk"), col("id").as("neighbor"), col("cosine"))
    }

  /** Spherical k-means on a driver-side sample — centroids are a tiny
    * broadcastable table (nCentroids × dim doubles), fit and kept on
    * the unit sphere. Good enough to build an IVF index; a production
    * fit would use sampled minibatch refinement, same output shape.
    */
  def fitCentroids(vectors: DataFrame, vecCol: String, nCentroids: Int,
      iters: Int = 8, sampleSize: Int = 10000, seed: Long = 42L): Array[Array[Double]] = {
    val sample = Ivf.sample(vectors, vecCol, sampleSize, seed)
    require(sample.length >= nCentroids, "need at least nCentroids sample vectors")
    val rng = graft.runtime.Rng.forKey(seed, sample.length.toLong)
    var centroids = rng.ints(0, sample.length).distinct().limit(nCentroids)
      .toArray.map(sample(_).clone)
    (0 until iters).foreach { _ =>
      val sums = Array.fill(nCentroids)(new Array[Double](sample.head.length))
      val counts = new Array[Int](nCentroids)
      sample.foreach { x =>
        val c = Ivf.nearest(centroids, x)
        counts(c) += 1
        var i = 0
        while (i < x.length) { sums(c)(i) += x(i); i += 1 }
      }
      // re-normalize the mean: spherical k-means keeps centroids unit so
      // the assignment metric stays cosine-equivalent
      centroids = sums.zip(counts).zipWithIndex.map { case ((s, n), i) =>
        if (n == 0) centroids(i) else Ivf.unit(s.map(_ / n))
      }
    }
    centroids
  }

  /** The centroid matrix as a plan-time literal — dimension-sized
    * (nCentroids × dim doubles), folded once and shipped with the plan.
    */
  private def centroidsLit(centroids: Array[Array[Double]]): Column =
    array(centroids.map(c => array(c.map(lit).toSeq: _*)).toSeq: _*)

  /** Assign each vector its IVF cluster id (the partition-pruning
    * column): argmin-L2 over the unit-normalized vector. The native
    * codegen'd `nearest_centroid` expression when GraftExtensions is
    * registered (one fused loop per row — the former Seq[Double] UDF
    * deserialized every corpus row); otherwise a STAGED higher-order-
    * function lowering with the identical IEEE op order (norm, then
    * per-centroid Σ(c−x)² in index order, first-wins argmin via
    * array_position-of-min), so the two paths are bit-identical. The
    * fallback stages norm/unit/distances as their own projections —
    * Catalyst does not CSE inside lambda bodies (see
    * Quantization.quantizeStaged), so the composed form would
    * re-evaluate the norm aggregate per element.
    */
  def assignClusters(vectors: DataFrame, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    // uniform non-empty centroids are the domain on which the native and
    // HOF paths are bit-identical (ragged sets would diverge: the native
    // expression nulls the whole row, array_min skips the null distance)
    // — reject the malformed input at driver time instead
    require(centroids.nonEmpty, "assignClusters: empty centroid set")
    require(centroids.forall(_.length == centroids.head.length),
      s"assignClusters: ragged centroid dims ${centroids.map(_.length).distinct.toSeq}")
    val v = col(vecCol).cast("array<double>")
    if (vectors.sparkSession.catalog.functionExists("nearest_centroid"))
      vectors.withColumn("cluster",
        call_function("nearest_centroid", v, centroidsLit(centroids)))
    else
      vectors
        .withColumn("__nrm", sqrt(aggregate(v, lit(0d), (acc, x) => acc + x * x)))
        .withColumn("__u", transform(v, x =>
          when(col("__nrm") > 0d, x / col("__nrm")).otherwise(x)))
        .withColumn("__d", transform(centroidsLit(centroids), c =>
          aggregate(zip_with(c, col("__u"), (ci, xi) => (ci - xi) * (ci - xi)),
            lit(0d), (acc, z) => acc + z)))
        .withColumn("cluster",
          (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
        .drop("__nrm", "__u", "__d")
  }

  /** The nProbe-nearest-centroid expansion of a query vector, as a pure
    * Column function (array<int> of probe ids, nearest first). UDF-free:
    * distances come from the same unit-normalize + Σ(c−x)² op order as
    * [[assignClusters]]; ranking sorts (distance, centroid-id) structs —
    * array_sort's struct ordering is (d asc, c asc), identical to the
    * former stable sortBy. Query-side only (broadcast-sized input), so
    * the HOF composition is not on the corpus hot path.
    */
  private[graft] def probeIds(centroids: Array[Array[Double]],
      nProbe: Int): Column => Column = { vIn =>
    val v = vIn.cast("array<double>")
    val nrm = sqrt(aggregate(v, lit(0d), (acc, x) => acc + x * x))
    val u = transform(v, x => when(nrm > 0d, x / nrm).otherwise(x))
    val dists = transform(centroidsLit(centroids), c =>
      aggregate(zip_with(c, u, (ci, xi) => (ci - xi) * (ci - xi)),
        lit(0d), (acc, z) => acc + z))
    val ranked = array_sort(zip_with(dists,
      sequence(lit(0), lit(centroids.length - 1)),
      (d, i) => struct(d.as("d"), i.as("c"))))
    transform(slice(ranked, 1, nProbe), s => s.getField("c"))
  }

  /** IVF top-k: probe only the `nProbe` clusters nearest to each query —
    * the scan shrinks by ~nCentroids/nProbe. Exactness is traded for
    * recall, the standard IVF contract.
    */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      nProbe: Int = 2): DataFrame = {
    val assigned = assignClusters(vectors, vecCol, centroids)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"),
        col("cluster"))
    rankCosine(Ivf.probeJoin(assigned, probedQueries(queries, idCol, vecCol,
      centroids, nProbe)), k)
  }

  /** (qid, qv, probe): one row per query and probed centroid. */
  private def probedQueries(queries: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], nProbe: Int): DataFrame =
    queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("probe", Ivf.probe(centroids, nProbe)(col("qv")))

  /** Persist the IVF index: the corpus written PARTITIONED BY cluster id
    * plus the centroid table. This turns probing into a storage-layout
    * guarantee — at 100 TB a query reads only the probed cluster
    * directories (parquet partition pruning), ~nProbe/nCentroids of the
    * data, instead of scanning everything and filtering. Size nCentroids
    * so each cluster directory is a few files of healthy size (hundreds
    * of MB): too many clusters → small-file problem, too few → weak
    * pruning.
    */
  def writeIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Array[Array[Double]]): Unit = {
    Ivf.writeVectors(assignClusters(vectors, vecCol, centroids), path)
    Ivf.writeCentroids(vectors.sparkSession, centroids, path)
  }

  /** IVF top-k against a disk index written by [[writeIvfIndex]]: the
    * [[Ivf]] probe step (only the probed cluster directories are
    * opened) with the float cosine scorer.
    */
  def ivfTopKFromIndex(indexPath: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val centroids = Ivf.readCentroids(queries.sparkSession, indexPath)
    val q = probedQueries(queries, idCol, vecCol, centroids, nProbe)
    rankCosine(Ivf.scan(indexPath, q,
      Seq(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))), k)
  }
}
