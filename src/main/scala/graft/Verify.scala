package graft
import java.nio.file.{Files, Paths}
import graft.tools.ParityHarness.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name subset (local
    // iteration aid; the driver always runs the full suite)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.runtime.LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST: if the process is killed mid-suite (driver
    // timeout), the compare still sees every finished query instead of
    // zeroing the whole round (CORRECTNESS_r07 was {} for exactly this
    // class of failure while the suite itself was 202/202 green)
    writeOracleJson(outDir, only)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    // Explicit success: a lingering non-daemon thread or a native-lib
    // shutdown-hook crash must not turn a fully-written dump into a
    // nonzero exit the driver reads as total failure.
    sys.exit(0)
  }

  private def writeOracleJson(outDir: String, only: Option[Set[String]]): Unit = {
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
