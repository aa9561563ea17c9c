package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.runtime.Barrier

/** Iterative link analysis over an edge list — the graph-analytics
  * complement to the connected-components labeler (ops/Clusters): where
  * CC answers "which rows belong together", PageRank answers "which
  * nodes matter", the signal crawl pipelines use for frontier
  * prioritization and domain-quality weighting (CommonCrawl publishes
  * exactly this kind of centrality for its host graph).
  *
  * Scale shape: the classic Pregel-on-DataFrames loop. Edges are
  * augmented with their source's out-weight ONCE and persisted (the
  * table is reused every iteration); each iteration is one
  * co-partitioned equi-join (ranks onto edge sources) plus one keyed
  * aggregation (contributions onto destinations) — exactly 2 bounded
  * shuffles per iteration, no driver-side graph state, no collect. A
  * fixed iteration count keeps the plan finite and the result
  * deterministic; production PageRank at 100 TB runs 10-20 iterations
  * of precisely this shape.
  */
object Graph {

  private val Ppm = 1000000L

  /** Synchronous label propagation community detection (Raghavan et
    * al. 2007), made deterministic: every node starts labeled with its
    * own id, and each iteration every node adopts its neighbors'
    * majority label with the total tie-break (count desc, label asc) —
    * no RNG, no asynchronous order dependence, so the result replays
    * exactly in SQL and is partitioning-invariant.
    *
    * `edges` is an undirected edge list as (a: long, b: long) — each
    * edge listed ONCE; the loop messages both directions. Scale shape
    * mirrors [[pageRank]]: per iteration one equi-join (labels onto
    * edge endpoints) + one keyed count + one per-node argmax window
    * over the (node, label) counts — bounded shuffles, no driver graph.
    * Returns (node_id, community) after `iters` rounds.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    import org.apache.spark.sql.expressions.Window
    Barrier.scoped { scope =>
      val und = scope.persist(edges.select(col("a"), col("b"))
        .union(edges.select(col("b").as("a"), col("a").as("b"))),
        StorageLevel.MEMORY_AND_DISK)
      var labels = und.select(col("a").as("id")).distinct()
        .select(col("id"), col("id").as("label"))
      val w = Window.partitionBy("id").orderBy(col("c").desc, col("label"))
      for (_ <- 1 to iters) {
        labels = und
          .join(labels.select(col("id").as("b"), col("label")), "b")
          .select(col("a").as("id"), col("label"))
          .groupBy("id", "label").agg(count(lit(1)).as("c"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("id"), col("label"))
      }
      Barrier.cut(labels.select(col("id").as("node_id"), col("label").as("community")))
    }
  }

  /** Deterministic integer PageRank. `edges` must have (src: long,
    * dst: long, w: long) with positive weights; ranks are parts-per-
    * million (every node starts at 1 000 000) and ALL arithmetic is
    * 64-bit integer — contribution = (rank·w) div out_weight, update =
    * (1M − d) + (d·Σcontrib) div 1M — so the result is a pure function
    * of the edge multiset: partitioning-invariant, reproducible, and
    * exactly replayable in SQL (the q88 oracle unrolls the iterations
    * as CTEs with the same integer division). Rank mass entering a
    * dangling node (no out-edges) vanishes, the documented behavior of
    * the simple power iteration; add reverse edges or a sink loop if
    * conservation matters.
    *
    * Overflow bound: rank ≤ N·1M and rank·w must stay below 2^63 —
    * holds whenever N·maxW < 9·10^12, far past any per-group graph this
    * engine materializes (the caller re-scales weights otherwise).
    */
  def pageRank(edges: DataFrame, iters: Int, dampingPpm: Long = 850000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50]: $iters")
    require(dampingPpm >= 0 && dampingPpm <= Ppm, s"dampingPpm: $dampingPpm")
    // the edge input is scanned exactly twice (out-weight agg + join),
    // both against the cached projection; everything downstream — node
    // set included — derives from the cached ew (the inner join keeps
    // every edge, since every src has an out-weight by construction)
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("long")).persist(StorageLevel.MEMORY_AND_DISK)
    val outW = e.groupBy("src").agg(sum("w").as("ow"))
    val ew = e.join(outW, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = ew.select(col("src").as("node"))
      .union(ew.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = nodes.withColumn("rank", lit(Ppm))
    for (_ <- 1 to iters) {
      val contribs = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst"), expr("(rank * w) div ow").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("c"))
      ranks = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (lit(Ppm - dampingPpm) +
            expr(s"($dampingPpm * coalesce(c, 0L)) div ${Ppm}")).as("rank"))
    }
    ranks
  }
}
