package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The honest-cost measurement for the streaming near-dup indexes —
  * [[graft.streaming.BandedIndexProcessor]] (unbounded, recall 1.0,
  * g124) and [[graft.streaming.BandedWindowIndexProcessor]] (bounded
  * event-ordinal window, g128): stream n random 64-bit signatures
  * through each and report
  *
  *   - final state KEYS (the store's numRowsTotal counts grouping
  *     keys, i.e. occupied band buckets): saturates at
  *     (k+1) x 2^(64/(k+1)) — 262,144 for k=3;
  *   - state ENTRIES: exactly (k+1) x distinct signatures for the
  *     unbounded index (linear growth is the price of BEING an index —
  *     the recall side is tools/BandedRecallBench), vs AT MOST
  *     (k+1) x windowOrd for the windowed one — the curve that shows
  *     the window is what makes an unbounded crawl feasible;
  *   - wall time and arrivals/s: per-arrival cost grows with bucket
  *     occupancy (each arrival scans its bucket's list) — n/2^16 for
  *     unbounded, min(n, windowOrd)/2^16 for windowed.
  *
  * Usage: runMain graft.tools.BandedIndexScaleBench [sizes] [windowOrd]
  * (defaults 65536,262144,1048576 and 65536). Two JSON lines per size
  * (unbounded + windowed); paste into COVERAGE.md.
  */
object BandedIndexScaleBench {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("65536,262144,1048576")
      .split(",").map(_.trim.toLong).toSeq
    val windowOrd = args.lift(1).map(_.toLong).getOrElse(65536L)
    val maxHamming = 3
    val spark = graft.runtime.LocalSession.builder("local[32]", 8)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (n <- sizes; windowed <- Seq(false, true)) {
      runOnce(spark, n, maxHamming, if (windowed) Some(windowOrd) else None)
    }
    spark.stop()
  }

  private def runOnce(spark: SparkSession, n: Long, maxHamming: Int,
      window: Option[Long]): Unit = {
    import spark.implicits._
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val all = spark.range(0, n).select(col("id"),
      (col("id") * 1000L).as("ts"), xxhash64(lit("sig"), col("id")).as("sig"))
    val streamDir = graft.runtime.Staging.dir(s"bisb_$n")
    // batches must be ordinal-monotone for the windowed processor's
    // physical eviction contract: split by id RANGE, not residue
    Seq(0, 1, 2).foreach { i =>
      graft.streaming.StreamFiles.writeOne(
        all.filter(col("id") >= n * i / 3 && col("id") < n * (i + 1) / 3),
        streamDir, s"r$i")
    }
    val name = s"bisb_sink_${n}_${window.isDefined}"
    val t0 = System.nanoTime()
    val banded = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .select(col("id"), col("ts"), col("sig"),
        explode(graft.ops.Dedup.streamBandKeys(col("sig"), maxHamming))
          .as("bkey"))
      .select(col("bkey"), col("ts"), col("id"), col("sig"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3, r._4))
    val decided = window match {
      case Some(w) => banded.transformWithState(
        new graft.streaming.BandedWindowIndexProcessor(maxHamming, w * 1000L),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[(Long, Long)]])
      case None => banded.transformWithState(
        new graft.streaming.BandedIndexProcessor(maxHamming),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[(Long, Long)]])
    }
    val q = decided.toDF("id", "cand")
      .groupBy(lit(1)).agg(count(lit(1)).as("rows"),
        sum(when(col("cand") >= 0, 1L).otherwise(0L)).as("matched"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .lastOption.map(_.numRowsTotal).getOrElse(-1L)
    spark.catalog.dropTempView(name)
    val occupancy = n.toDouble / (1L << bandBits)
    val entriesBound = window match {
      case Some(w) => (maxHamming + 1) * math.min(n, w)
      case None    => (maxHamming + 1) * n
    }
    val mode = window.map(w => s""""window":$w""").getOrElse(""""window":null""")
    println(f"""{"tool":"BandedIndexScaleBench","n":$n,$mode,""" +
      f""""band_occupancy":$occupancy%.2f,"state_keys":$stateRows,""" +
      f""""state_entries_bound":$entriesBound,""" +
      f""""wall_s":$wall%.2f,"arrivals_per_s":${n / wall}%.0f}""")
    graft.runtime.Staging.release(_ == s"bisb_$n")
  }
}
