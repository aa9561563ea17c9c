package graft.tools

/** Configuration-invariance parity proof — the sibling of
  * [[ClusterParityCheck]] for the knobs a cluster admin tunes freely.
  *
  * A result that silently depends on `spark.sql.shuffle.partitions`,
  * AQE, or the scan split size is not reproducible at 100 TB: the same
  * job re-run after an ops-side tuning change would produce different
  * data. Hidden dependences of exactly this kind are easy to introduce
  * (`spark_partition_id()` leaking into output, `first()` /
  * `collect_list()` without an explicit sort, per-partition RNG keyed
  * off the SHUFFLE layout instead of the data, float folds whose
  * rounding depends on combine-tree shape) and no single-config test
  * can catch them.
  *
  * This main runs the registered suite under a baseline session (the
  * repo's standard local[32], shuffle=32, AQE on) and then under
  * deliberately hostile perturbations, comparing the order-independent
  * exact digest of every query against baseline:
  *
  *   - `shuffle7`: `spark.sql.shuffle.partitions=7` (prime, divides
  *     nothing) with AQE OFF — raw shuffle layouts differ from baseline
  *     in every exchange;
  *   - `smallsplits`: `spark.sql.files.maxPartitionBytes=1m` and
  *     `openCostInBytes=0` — parquet scans split into many more input
  *     partitions, stressing every mapPartitions seam and scan-order
  *     assumption;
  *   - `slots3`: `local[3]`, no conf changes — a streaming rig's scope
  *     sizes its state stores to the session's task slots, and pins that
  *     width over any shuffle count (`shuffle7`'s included), so this is
  *     the pass that varies a rig's state partitioning: 3 here against
  *     the baseline's 8 (4 for the crawl loops g133 and g135).
  *
  * Usage: `graft.tools.ConfParityCheck [sfDir] [q1,q2,...|all]`
  * Prints one JSON line; exits 1 on any digest mismatch.
  */
object ConfParityCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = ParityHarness.resolveNames(
      args.lift(1).orElse(Some("all")), Seq.empty)
    val passes = Seq(
      ("baseline", "local[32]", Map.empty[String, String]),
      ("shuffle7", "local[32]", Map(
        "spark.sql.shuffle.partitions" -> "7",
        "spark.sql.adaptive.enabled" -> "false")),
      ("smallsplits", "local[32]", Map(
        "spark.sql.files.maxPartitionBytes" -> "1m",
        "spark.sql.files.openCostInBytes" -> "0")),
      ("slots3", "local[3]", Map.empty[String, String]))
      .map { case (label, master, confs) =>
        label -> ParityHarness.runPass(master, confs, sfDir, names)
      }
    if (ParityHarness.report("conf_parity", sfDir, names, passes) > 0)
      sys.exit(1)
  }
}
