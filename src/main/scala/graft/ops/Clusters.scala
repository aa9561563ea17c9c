package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Connected components over a near-duplicate pair list — the step that
  * turns (a, b) similarity edges into dedup decisions: every document
  * gets a cluster id (the minimum doc id reachable through edges), and
  * the cluster id holder is the canonical survivor.
  *
  * Algorithm: iterative min-label propagation (each node adopts the
  * smallest label among itself and its neighbors) with POINTER JUMPING
  * — after the neighbor step each node also adopts its label's label
  * (label(id) := label(label(id))), halving remaining chain lengths, so
  * convergence is O(log diameter) rounds instead of O(diameter). Near-
  * dup graphs have tiny diameters (dup clusters are near-cliques), but
  * the log bound is what protects the pathological long-chain case at
  * 100 TB (boilerplate families chaining A~B~C~...). Each round is a
  * bounded number of keyed shuffles; no driver-side graph state, so it
  * scales to billions of edges. Convergence is checked with a count of
  * changed labels per round.
  */
object Clusters {

  /** pairs: DataFrame with long columns `a`, `b` (undirected edges).
    * Returns (id, cluster) for every id that appears in any edge;
    * cluster = min id of its connected component.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    Barrier.scoped { scope =>
      val edges = scope.persist(pairs.select(col("a").cast("long"), col("b").cast("long"))
        .union(pairs.select(col("b").cast("long").as("a"), col("a").cast("long").as("b")))
        .distinct())
      // each round references `labels` three times (neighbor join, the
      // left join, and the pointer-jump self-join), so lineage would grow
      // EXPONENTIALLY in round count without truncation — the cut resets
      // the plan to a leaf every round
      var labels = Barrier.cut(edges.select(col("a").as("id"))
        .distinct()
        .withColumn("cluster", col("id")))
      var iter = 0
      var converged = false
      while (iter < maxIters && !converged) {
        // each node's new label = min(own, min over neighbors' labels).
        // The joined frame carries both old and new labels, so the
        // convergence count comes from the SAME materialized frame as the
        // label update — one aggregate action per round, not an extra
        // next-vs-labels join re-shuffling the full label table.
        val neighborMin = edges
          .join(labels.withColumnRenamed("id", "b").withColumnRenamed("cluster", "nc"), "b")
          .groupBy(col("a").as("id"))
          .agg(min("nc").as("neighbor_min"))
        val stepped = labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"), col("cluster").as("old"),
            least(col("cluster"), coalesce(col("neighbor_min"), col("cluster")))
              .as("cluster"))
        // pointer jump: follow the adopted label one hop (labels are node
        // ids, so every label resolves in `stepped` itself). The left join
        // always matches; coalesce only guards the self-label row shape.
        val joined = Barrier.cut(stepped
          .join(stepped.select(col("id").as("__pid"), col("cluster").as("__pc")),
            stepped("cluster") === col("__pid"), "left")
          .select(col("id"), col("old"),
            least(col("cluster"), coalesce(col("__pc"), col("cluster"))).as("cluster")))
        val changed = joined.filter(col("cluster") < col("old")).count()
        labels = joined.select(col("id"), col("cluster"))
        converged = changed == 0
        iter += 1
      }
      // silent non-convergence would return SPLIT clusters (multiple
      // "canonical" survivors per true duplicate class) — fail loudly
      if (!converged) {
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds " +
            "(graph diameter too large — raise maxIters)")
      }
      labels
    }

  /** Full near-dup dedup decision: run LSH, cluster the verified pairs,
    * and return every doc with its cluster and a keep flag (the minimum
    * id in each cluster survives; singletons always survive).
    */
  def dedupDecision(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // ids must be integral: edges are cast to long, and under ANSI a
    // string id would crash mid-job (with ANSI off it would silently
    // null the edges and disable dedup entirely)
    require(Seq("long", "integer", "short", "byte")
      .contains(df.schema(idCol).dataType.typeName),
      s"dedupDecision needs an integral id column, got ${df.schema(idCol).dataType}")
    val pairs = Dedup.minHashLsh(df, idCol, textCol, threshold)
    val comps = connectedComponents(pairs)
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"))
      .withColumn("keep", (col("id") === col("cluster")).cast("boolean"))
  }
}
