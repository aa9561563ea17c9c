package graftbench

/** Class-loading training run for the build's class-data-sharing archive:
  * starts the benchmark's session and runs one small job through each
  * Spark path the workloads share (aggregation, parquet and JSON I/O, the
  * noop sink), so later runs map those classes instead of loading them.
  *
  * Usage: graftbench.Train DIR
  */
object Train {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0))
    val df = spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count()
    df.write.mode("overwrite").parquet(s"${args(0)}/p")
    spark.read.parquet(s"${args(0)}/p").write.mode("overwrite").json(s"${args(0)}/j")
    Workload.noop(spark.read.json(s"${args(0)}/j"))
    spark.stop()
  }
}
