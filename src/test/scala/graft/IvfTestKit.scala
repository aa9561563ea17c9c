package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, IsNotNull}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.Assertions._

/** Shared checks for the IVF disk-index specs. */
object IvfTestKit extends AdaptiveSparkPlanHelper {

  /** Asserts that the probe restriction reaches the scan of
    * `<indexDir>/vectors` in `served`'s executed plan (through AQE): the
    * scan's partition filters hold a static predicate on `cluster`.
    * Neither the `isnotnull(cluster)` that Spark infers from the probe
    * join nor a dynamic-pruning filter counts: the serve contract is the
    * driver-collected `isin`, which prunes whatever the query side looks
    * like.
    */
  def assertPrunedScan(served: DataFrame, indexDir: String): Unit = {
    val plan = served.queryExecution.executedPlan
    val vectors = new org.apache.hadoop.fs.Path(indexDir, "vectors").toUri.getPath
    val scans = collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath == vectors) => s
    }
    assert(scans.nonEmpty, s"no scan over $vectors in plan:\n$plan")
    scans.foreach { s =>
      val probeFilters = s.partitionFilters.filter(f =>
        !f.isInstanceOf[IsNotNull] && !f.exists(_.isInstanceOf[DynamicPruning]) &&
          f.references.exists(_.name == "cluster"))
      assert(probeFilters.nonEmpty,
        s"scan over $vectors is not pruned by cluster " +
          s"(partitionFilters ${s.partitionFilters.mkString("[", ", ", "]")}):\n$plan")
    }
  }
}
