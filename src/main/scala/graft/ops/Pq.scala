package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., TPAMI 2011) — the third ANN
  * memory lever, beyond IVF partition pruning (ops/Similarity) and
  * scalar int8 (ops/Quantization): split each unit-normalized vector
  * into `m` subvectors, k-means each subspace into `k` codewords, and
  * store only the m codeword ids — at m=8, k=16 a 64-dim float32
  * vector becomes 8 nibbles, a 64× compression, scored without ever
  * reconstructing the vector.
  *
  * Scale shape mirrors the rest of the ANN family: codebooks are
  * m·k·(d/m) doubles (a few KB) fit on a bounded driver-side sample and
  * broadcast; encoding is a scan-side lookup; asymmetric-distance
  * scoring (ADC) precomputes each query's m×k dot-product table ONCE,
  * broadcasts it, and scores a candidate with m array lookups + adds —
  * no per-candidate float dot products, no shuffle of the corpus.
  */
object Pq {

  /** Plain (non-spherical) L2 k-means on a driver-side sample of each
    * subspace, over [[Ivf.sample]]'s bounded corpus-wide sample. Empty
    * clusters respawn on the farthest point, ties break deterministically
    * by index. Returns codebooks[m][k][d/m].
    */
  def fitCodebooks(vectors: DataFrame, vecCol: String, m: Int, k: Int,
      iters: Int = 10, sampleSize: Int = 10000, seed: Long = 42L): Array[Array[Array[Double]]] = {
    require(m >= 1 && k >= 2, s"need m >= 1 subspaces and k >= 2 codewords: $m, $k")
    fitSubspaces(Ivf.sample(vectors, vecCol, sampleSize, seed), m, k, iters, seed)
  }

  /** One [[kmeans]] per subspace of `pts` (subspace s seeded seed + s). */
  private def fitSubspaces(pts: Array[Array[Double]], m: Int, k: Int, iters: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    require(pts.nonEmpty, "empty corpus")
    val d = pts.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val sub = d / m
    Array.tabulate(m)(s => kmeans(pts.map(_.slice(s * sub, (s + 1) * sub)), k, iters, seed + s))
  }

  private def kmeans(pts: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = pts.length
    var centers = Array.tabulate(k)(i => pts(if (n >= k) i * (n / k) else rnd.nextInt(n)).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](pts.head.length))
      val counts = new Array[Long](k)
      val dists = new Array[Double](n)
      var j = 0
      while (j < n) {
        val p = pts(j)
        val c = Ivf.nearest(centers, p)
        dists(j) = Ivf.distL2(centers(c), p)
        counts(c) += 1
        var i = 0
        while (i < p.length) { sums(c)(i) += p(i); i += 1 }
        j += 1
      }
      // empty clusters respawn on the farthest points: the e-th empty
      // cluster (ascending cluster id) takes the point with the e-th
      // largest distance to its assigned center, ties broken by lowest
      // point index — fully deterministic, no RNG draw
      val byFarthest = Array.tabulate(n)(identity)
        .sortBy(i => (-dists(i), i))
      var nextFar = 0
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0L) {
          val p = pts(byFarthest(math.min(nextFar, n - 1))).clone()
          nextFar += 1
          p
        } else sums(c).map(_ / counts(c))
      }
    }
    centers
  }

  /** Encode the corpus: (idCol, codes array<int> of length m) — per
    * subspace, the nearest codeword id. Broadcast-codebook scan-side
    * map; the encoded table is the thing you keep hot at 100 TB.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val cb = df.sparkSession.sparkContext.broadcast(codebooks)
    val enc = udf((v: Seq[Double]) => codesOf(cb.value, Ivf.unit(v.toArray)))
    df.select(col(idCol), enc(col(vecCol).cast("array<double>")).as("codes"))
  }

  /** Per subspace of `x`, the nearest codeword id. */
  private def codesOf(codebooks: Array[Array[Array[Double]]], x: Array[Double]): Array[Int] = {
    val sub = x.length / codebooks.length
    Array.tabulate(codebooks.length)(s =>
      Ivf.nearest(codebooks(s), x.slice(s * sub, (s + 1) * sub)))
  }

  /** ADC top-k: each query's m×k inner-product table is flattened to a
    * single broadcast array (tab[s·k + c] = ⟨q_s, codebook_s[c]⟩ in
    * integer micros for an exact, tie-stable ranking); a candidate's
    * score is m lookups summed — pure HOF arithmetic inside codegen,
    * one corpus scan, no reconstruction.
    */
  def adcTopK(encoded: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebooks: Array[Array[Array[Double]]], topK: Int): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("qid"),
        adcTable(codebooks)(col(vecCol).cast("array<double>")).as("tab")))
    Ivf.rank(encoded.select(col(idCol).as("id"), col("codes"))
      .join(q, col("id") =!= col("qid")), adcScore(codebooks), topK)
  }

  /** The ADC scorer: m lookups of a candidate's `codes` into the
    * query's `tab`, summed as integer micros.
    */
  private def adcScore(codebooks: Array[Array[Array[Double]]]): Column = {
    val k = codebooks.head.length
    aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(codebooks.length - 1)),
        (c, s) => element_at(col("tab"), s * k + c + 1)),
      lit(0L), (acc, x) => acc + x)
  }

  // ------------------------------------------------------ IVF-PQ index

  /** Persist an IVF-PQ index — the faiss-style recipe with ALL THREE
    * 100 TB ANN levers stacked: coarse clusters become parquet
    * PARTITIONS (probing prunes whole directories, the [[Ivf]] layout),
    * rows inside hold only the m PQ codes (~40× smaller than float64),
    * and serving scores by table lookup. Codebooks and centroids
    * persist as constant-size metadata tables beside the codes.
    */
  def writePqIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Unit = {
    val assigned = Similarity.assignClusters(vectors, vecCol, centroids)
    writeIndex(encode(assigned, idCol, vecCol, codebooks)
      .join(assigned.select(col(idCol), col("cluster")), idCol), path, centroids, codebooks)
  }

  /** The IVF-PQ layout: code rows plus both metadata tables. */
  private def writeIndex(rows: DataFrame, path: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Unit = {
    Ivf.writeVectors(rows, path)
    Ivf.writeCentroids(rows.sparkSession, centroids, path)
    Ivf.writeCodebooks(rows.sparkSession, codebooks, path)
  }

  /** Top-k from an IVF-PQ disk index: the [[Ivf]] probe step (only the
    * probed code directories are opened) with the ADC scorer against
    * broadcast per-query tables. Same scorer as [[adcTopK]], so the two
    * paths agree exactly on shared candidates.
    */
  def pqIvfTopKFromIndex(indexPath: String, queries: DataFrame,
      idCol: String, vecCol: String, topK: Int, nProbe: Int = 2): DataFrame =
    serveAdc(indexPath, queries, idCol, vecCol, topK, nProbe, residual = false)

  // ------------------------------------- residual IVF-PQ (faiss proper)

  /** Fit codebooks on RESIDUALS to the coarse centroids — the actual
    * faiss IVF-PQ recipe. The coarse quantizer already explains most of
    * each vector's energy; PQ-ing what REMAINS (unit(v) − centroid)
    * spends the same code bits on a much smaller-variance signal, so
    * reconstruction error (and therefore ranking error) drops at
    * identical (m, k). Same bounded-sample contract as [[fitCodebooks]].
    */
  def fitResidualCodebooks(vectors: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], m: Int, k: Int, iters: Int = 10,
      sampleSize: Int = 10000, seed: Long = 42L): Array[Array[Array[Double]]] = {
    require(m >= 1 && k >= 2, s"need m >= 1 subspaces and k >= 2 codewords: $m, $k")
    fitSubspaces(Ivf.sample(vectors, vecCol, sampleSize, seed).map(residualOf(centroids, _)._2),
      m, k, iters, seed)
  }

  /** unit(v) − its nearest centroid, with that centroid's id. */
  private def residualOf(centroids: Array[Array[Double]],
      u: Array[Double]): (Int, Array[Double]) = {
    val c = Ivf.nearest(centroids, u)
    (c, Array.tabulate(u.length)(i => u(i) - centroids(c)(i)))
  }

  /** Persist a RESIDUAL IVF-PQ index: same layout as
    * [[writePqIvfIndex]] (cluster partitions, code rows, metadata
    * tables) but codes quantize the residual to the assigned centroid.
    */
  def writeResidualPqIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Unit = {
    val sc = vectors.sparkSession.sparkContext
    val cs = sc.broadcast(centroids)
    val cb = sc.broadcast(codebooks)
    val enc = udf { (v: Seq[Double]) =>
      val (c, r) = residualOf(cs.value, Ivf.unit(v.toArray))
      (c, codesOf(cb.value, r))
    }
    writeIndex(vectors.select(col(idCol), enc(col(vecCol).cast("array<double>")).as("e"))
      .select(col(idCol), col("e._1").as("cluster"), col("e._2").as("codes")),
      path, centroids, codebooks)
  }

  /** Top-k from a residual IVF-PQ index: per (query, probed cluster)
    * the score decomposes as ⟨q, v⟩ ≈ ⟨q, centroid⟩ + ⟨q, residual⟩ —
    * a per-probe integer BIAS plus the same m ADC table lookups, so
    * serving stays table-lookup-only and the probed directories remain
    * the only ones opened.
    */
  def residualPqIvfTopKFromIndex(indexPath: String, queries: DataFrame,
      idCol: String, vecCol: String, topK: Int, nProbe: Int = 2): DataFrame =
    serveAdc(indexPath, queries, idCol, vecCol, topK, nProbe, residual = true)

  /** Both IVF-PQ serves: the [[Ivf]] probe step, then the ADC scorer,
    * plus bias = ⟨unit(q), centroid_probe⟩ micros when `residual`.
    */
  private def serveAdc(indexPath: String, queries: DataFrame, idCol: String,
      vecCol: String, topK: Int, nProbe: Int, residual: Boolean): DataFrame = {
    val spark = queries.sparkSession
    val centroids = Ivf.readCentroids(spark, indexPath)
    val codebooks = Ivf.readCodebooks(spark, indexPath)
    val qv = col(vecCol).cast("array<double>")
    val probed = queries.select(col(idCol).as("qid"), adcTable(codebooks)(qv).as("tab"),
      Ivf.probe(centroids, nProbe)(qv).as("probe"), qv.as("qv"))
    val q =
      if (!residual) probed.drop("qv")
      else {
        val cs = spark.sparkContext.broadcast(centroids)
        val bias = udf((v: Seq[Double], c: Int) => dotMicros(Ivf.unit(v.toArray), 0, cs.value(c)))
        probed.select(col("qid"), col("tab"), col("probe"),
          bias(col("qv"), col("probe")).as("bias"))
      }
    val score = if (residual) col("bias") + adcScore(codebooks) else adcScore(codebooks)
    Ivf.rank(Ivf.scan(indexPath, q, Seq(col(idCol).as("id"), col("codes"))), score, topK)
  }

  /** The per-query ADC table as a UDF: tab[s·k + c] = ⟨q_s, cb_s[c]⟩ in
    * integer micros (shared by [[adcTopK]] and the IVF-PQ serving path
    * so their scores are identical by construction).
    */
  private def adcTable(codebooks: Array[Array[Array[Double]]]) = {
    val k = codebooks.head.length
    udf { (v: Seq[Double]) =>
      val u = Ivf.unit(v.toArray)
      val sub = u.length / codebooks.length
      (for (s <- codebooks.indices; c <- 0 until k)
        yield dotMicros(u, s * sub, codebooks(s)(c))).toArray
    }
  }

  /** ⟨x[off, off + |w|), w⟩ as integer micros, floor(dot·10⁶ + 0.5). */
  private def dotMicros(x: Array[Double], off: Int, w: Array[Double]): Long = {
    var (dot, i) = (0d, 0)
    while (i < w.length) { dot += x(off + i) * w(i); i += 1 }
    math.floor(dot * 1e6 + 0.5).toLong
  }
}
