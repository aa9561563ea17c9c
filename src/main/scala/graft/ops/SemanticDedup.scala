package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Semantic (embedding-space) deduplication, SemDeDup-style (Abbas et
  * al. 2023, arXiv:2303.09540): cluster the corpus, then look for
  * near-duplicate pairs only WITHIN a cluster — the cluster assignment
  * is the candidate-pruning lever that keeps the pair join far from
  * quadratic at 100 TB (cross-cluster pairs are never materialized; the
  * join shuffles on the cluster id).
  *
  * Every step here is exact integer arithmetic: assignment scores are
  * BIGINT dots against hash-derived pseudo-centroids, pair scores are
  * int8-quantized integer dots ([[Quantization]]), so the whole decision
  * — which pairs are duplicates, which member survives — is bit-exactly
  * replayable by another engine (the q70 oracle). For a real corpus the
  * pseudo-centroids would be replaced by k-means centroids
  * ([[Similarity.fitCentroids]]); the pipeline shape is identical.
  */
object SemanticDedup {

  /** Deterministic pseudo-centroid assignment: centroid component
    * (c, i) = pmod(xxhash64(c, i), 2001) − 1000, score = exact BIGINT
    * dot against the micro-quantized vector, winner = argmax (ties by
    * lower cluster id). One scan, no fitted state — the assignment is a
    * pure function of (vector, k), which is what makes cross-engine
    * replay possible.
    */
  def hashClusterAssign(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    // CORPUS-side assignment: spread the k-centroid scoring (k × dim
    // multiply-adds per row). hashClusterProbes stays unspread: its
    // caller, the hash-IVF serve on the Ivf core, passes
    // dimension-sized QUERY batches where an extra exchange (per serve
    // micro-batch) would cost more than it parallelizes.
    scoredTopN(Barrier.spread(vectors), idCol, vecCol, k, 1)
      .select(col(idCol), col("c").as("cluster"), col("score"))

  /** The nProbe best pseudo-centroids per vector — the deterministic
    * probe expansion of the hash-IVF serve on the [[Ivf]] core
    * ([[Quantization.hashIvfTopKFromIndex]]): same exact-integer scores
    * as [[hashClusterAssign]] (rank 1 IS the assigned cluster), so the
    * probe choice replays bit-for-bit cross-engine.
    */
  def hashClusterProbes(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame =
    scoredTopN(vectors, idCol, vecCol, k, nProbe)
      .select(col(idCol), col("c").as("probe"), col("rn"))

  /** Shared top-N of the exact-integer pseudo-centroid scores, ranked
    * (score desc, c asc) — one scan, k score rows per vector, pruned to
    * N before the [[Barrier.cut]].
    */
  private def scoredTopN(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, topN: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(topN >= 1 && topN <= k, s"topN must be in [1, $k]: $topN")
    Barrier.scoped { scope =>
      // barrier: keep vq an attribute (no per-cluster re-transform)
      val vq = scope.persist(vectors
        .select(col(idCol), transform(col(vecCol).cast("array<double>"),
          x => round(x * 1000000).cast("long")).as("vq")))
      val scored = vq
        .select(col(idCol), col("vq"),
          explode(sequence(lit(0L), lit(k - 1L))).as("c"))
        .withColumn("score",
          aggregate(sequence(lit(1), size(col("vq"))), lit(0L),
            (acc, i) => acc + element_at(col("vq"), i) *
              (pmod(xxhash64(col("c"), i.cast("long")), lit(2001L)) - 1000L)))
      val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("c"))
      Barrier.cut(scored
        .select(col(idCol), col("c"), col("score"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= topN))
    }
  }

  /** Integer pair score with cosine ≈ score / (127² · 10¹²): the int8
    * code dot rescaled by both vectors' micro-scales (see
    * [[Quantization.int8TopK]] for why the rescale is required). Max
    * |score| ≈ 1.03e18 at dim 64 — inside Long.
    */
  def pairScore(dotCol: Column, smA: Column, smB: Column): Column =
    dotCol * smA * smB

  /** The integer score threshold equivalent to a cosine threshold. */
  def scoreThreshold(cosine: Double): Long =
    math.floor(cosine * 127L * 127L * 1e12).toLong

  /** Near-duplicate pairs within clusters: quantize (unit-normalized
    * int8), assign clusters, self-join on the cluster id with a < b,
    * keep pairs whose integer score ≥ minScore. Returns
    * (cluster, a, b, score). The survivor policy downstream is keep-min-
    * id (compose with [[Clusters.connectedComponents]] for transitive
    * sets). Cluster count should scale ~√n so per-cluster pair counts
    * stay bounded; the join shuffles both sides once, on the cluster id.
    */
  def semanticPairs(
      vectors: DataFrame, idCol: String, vecCol: String,
      numClusters: Int, minScore: Long): DataFrame = {
    val q = Quantization.quantizeUnit(vectors, idCol, vecCol)
    val assigned = q.join(
      hashClusterAssign(vectors, idCol, vecCol, numClusters)
        .select(col(idCol), col("cluster")),
      idCol)
    val a = assigned.select(col("cluster"), col(idCol).as("a"),
      col("codes").as("ca"), col("scale_micro").as("sma"))
    val b = assigned.select(col("cluster"), col(idCol).as("b"),
      col("codes").as("cb"), col("scale_micro").as("smb"))
    // per-PAIR integer dot: native fused loop when registered (the HOF
    // form was the q70 bench bottleneck — see Quantization.intDot)
    val dot = Quantization.intDot(vectors.sparkSession, col("ca"), col("cb"))
    a.join(b, Seq("cluster")).filter(col("a") < col("b"))
      .withColumn("score", pairScore(dot, col("sma"), col("smb")))
      .filter(col("score") >= minScore)
      .select(col("cluster"), col("a"), col("b"), col("score"))
  }
}
