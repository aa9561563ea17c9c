package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, IsNotNull}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.Assertions._

import graft.runtime.Staging

/** Shared checks for the IVF disk-index specs. */
object IvfTestKit extends AdaptiveSparkPlanHelper {

  /** Runs `body` with a temp-dir factory (prefix => dir) and deletes every
    * dir it made when `body` returns or throws.
    */
  def withTempDirs[A](body: (String => String) => A): A = {
    val made = ArrayBuffer[Path]()
    try body { prefix =>
      val d = Files.createTempDirectory(prefix)
      made += d
      d.toString
    } finally made.foreach(Staging.deleteTree)
  }

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
