package graft.runtime

import org.apache.spark.sql.SparkSession

/** The one place graft builds a local SparkSession: every main, tool and
  * test fixture gets the settings that results and timings depend on
  * from here, so they cannot drift apart.
  *
  *   - [[graft.expr.GraftExtensions]] (the native expressions and rules);
  *   - session time zone UTC (timestamp rendering in every oracle);
  *   - UI off;
  *   - shuffle partitions = the caller's core count, not Spark's 200;
  *   - a [[CodegenCacheEntries]]-entry codegen cache.
  */
object LocalSession {

  /** Static conf: the janino codegen cache defaults to 100 compiled
    * classes, and a suite of 291 distinct plans evicts constantly —
    * even pass-2 "min" reps recompiled stages pass 1 had already
    * compiled (measured ~4% on a mixed subset). Keyed on plan count, not
    * data, so it is scale-independent; results are unaffected.
    */
  val CodegenCacheEntries = 4096

  /** The shared settings on a builder, for callers that add their own
    * conf (AQE off, local-cluster executors) before `getOrCreate()`.
    */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.expr.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** A `local[cpus]` session with `cpus` shuffle partitions, logging at
    * WARN.
    */
  def apply(cpus: Int): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
