package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Principal component analysis over an embedding column, built the way
  * it scales to 100 TB: the fit's distributed passes are aggregations
  * (the d×d Gram matrix, the column sums) whose map-side combinable sums
  * shuffle partitions × d rows regardless of corpus size; the Gram pass
  * first spreads the input over `defaultParallelism` partitions with one
  * round-robin exchange, which moves each vector once. The O(d³)
  * eigensolve runs driver-side on the d×d result (d = 64 here; bounded
  * by the embedding width, never the corpus), and the projection is a
  * scan-side broadcast dot product.
  *
  * The Gram pass is micro-quantized integer arithmetic
  * (q_i = round(x_i·1e6), the q54/q74 convention), so the matrix the
  * eigensolver consumes is EXACT and engine-reproducible — the g87
  * DuckDB oracle hash-matches every entry. Everything downstream of
  * the eigensolve (components, projections) is transcendental and is
  * verified by ScalaTest properties instead (orthonormality, residual
  * ‖Av−λv‖, planted-subspace recovery).
  */
object Pca {

  /** Integer Gram matrix of the micro-quantized embeddings: one row per
    * (i, j) with s = Σ_vec q_i·q_j (NOT mean-centered — centering is a
    * rank-one driver-side correction, see [[fitComponents]]), plus the
    * component sums and count needed for it.
    *
    * Shape: posexplode to d rows per vector, each carrying the product
    * vector for its row index; groupBy(i) with d element sums. Partial
    * aggregation combines map-side, so the shuffle carries
    * partitions × d rows of d+1 longs — constant in the corpus size.
    *
    * Overflow bound: each term |q_i·q_j| ≤ 1e12 for unit-scale
    * embeddings, so the long sums demand n ≪ 9e6 rows. Callers above
    * that feed a deterministic hash-sample (ops/Sampling) — a Gram
    * matrix is a second-moment estimate and a few million rows pin it
    * to far beyond eigensolver precision; the oracle corpus is 5e3.
    */
  def gramMicro(df: DataFrame, vecCol: String): DataFrame = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    // stage the quantized vector as an attribute: lambdas reference it
    // twice and Catalyst does not CSE inside lambda bodies — inline, the
    // cast+round tree would re-run per product row (the q68 lesson)
    // the repartition spreads the O(d²) per-row outer products over the
    // cluster even when the input is one small file (single-file scan =
    // ONE partition; the Dedup.minHashSignatures spread, same rationale
    // — 4096 multiplies/row dwarf the vector-bytes exchange, and the
    // partial aggregation still combines map-side after it)
    val rows = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(transform(col(vecCol).cast("array<double>"),
        x => round(x * 1000000d).cast("long")).as("__qv"))
      .select(posexplode(transform(col("__qv"),
        qi => transform(col("__qv"), qj => qi * qj))).as(Seq("i0", "prods")))
    rows.groupBy((col("i0") + 1).as("i"))
      .agg(sum(element_at(col("prods"), 1)).as("s1"),
        (2 to dim).map(j => sum(element_at(col("prods"), j)).as(s"s$j")): _*)
      .select(col("i").cast("long").as("i"),
        posexplode(array((1 to dim).map(j => col(s"s$j")): _*)).as(Seq("j0", "s")))
      .select(col("i"), (col("j0") + 1).cast("long").as("j"), col("s"))
  }

  /** Column sums and count of the micro-quantized embeddings — the
    * rank-one pieces that turn the raw Gram matrix into a covariance
    * matrix driver-side: cov = S/n − mean·meanᵀ.
    */
  def momentsMicro(df: DataFrame, vecCol: String): (Array[Long], Long) = {
    val qv = transform(col(vecCol).cast("array<double>"),
      x => round(x * 1000000d).cast("long"))
    val r = df.select(posexplode(qv).as(Seq("i0", "q")))
      .groupBy("i0").agg(sum("q").as("s"), count(lit(1)).as("n"))
      .orderBy("i0").collect()
    (r.map(_.getLong(1)), r.head.getLong(2))
  }

  /** Fit the top-k principal components from the integer Gram matrix +
    * moments: center, eigensolve (cyclic Jacobi — d ≤ 64, driver-side,
    * microseconds), return (components[k][d], eigenvalues[k]) in
    * descending eigenvalue order, in the original (un-quantized) units.
    */
  def fitComponents(gram: DataFrame, colSums: Array[Long], n: Long,
      k: Int): (Array[Array[Double]], Array[Double]) = {
    val entries = gram.collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(2))).toMap
    val d = colSums.length
    require(k >= 1 && k <= d, s"k must be in [1, $d]: $k")
    val cov = Array.tabulate(d, d) { (a, b) =>
      val s = entries((a + 1, b + 1)).toDouble
      val (ma, mb) = (colSums(a).toDouble / n, colSums(b).toDouble / n)
      (s / n - ma * mb) / 1e12 // micro² → original units²
    }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(i => -values(i)).take(k)
    (order.map(i => vectors.map(_(i))).toArray, order.map(values).toArray)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: rotate away the
    * largest off-diagonal entries until convergence. O(d³) per sweep,
    * ~8 sweeps at d=64 — driver-side cost is microseconds and has no
    * distributed footprint at all.
    */
  private[ops] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1d else 0d)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-12 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1 / math.sqrt(t * t + 1)
            val s = t * c
            var i = 0
            while (i < d) {
              val (aip, aiq) = (a(i)(p), a(i)(q))
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val (api, aqi) = (a(p)(i), a(q)(i))
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val (vip, viq) = (v(i)(p), v(i)(q))
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0d
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    math.sqrt(s)
  }

  /** Project the corpus onto fitted components: scan-side broadcast dot
    * products (components are k×d doubles — a few KB), output
    * (idCol, p0..p{k−1}). Mean-centering uses the same moments the fit
    * used. No shuffle.
    */
  def project(df: DataFrame, idCol: String, vecCol: String,
      components: Array[Array[Double]], colSums: Array[Long], n: Long): DataFrame = {
    val mean = colSums.map(_.toDouble / n / 1e6)
    val cols = components.zipWithIndex.map { case (comp, ci) =>
      aggregate(
        zip_with(col(vecCol).cast("array<double>"),
          array(comp.indices.map(i => struct(lit(comp(i)).as("w"), lit(mean(i)).as("m"))): _*),
          (x, wm) => (x - wm("m")) * wm("w")),
        lit(0d), (acc, z) => acc + z).as(s"p$ci")
    }
    df.select(col(idCol) +: cols.toSeq: _*)
  }
}
