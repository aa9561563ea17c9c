package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.runtime.Rng
import graft.synth.{Compiler, GenContext, Synth}

/** Structured Streaming face of the generator (§2.1's event-stream
  * samplers produce late/out-of-order-able data; the reference has no
  * streaming consumer — SURVEY §2.2). The `rate` source drives row ids;
  * every record carries `event_time` so watermarked windowed aggregations
  * compose directly.
  */
object SynthStream {

  /** Unbounded synthetic stream of `schemaJson` records at
    * `rowsPerSecond`. Per-row RNG is keyed by the rate source's row value
    * — deterministic replay within a run, independent of micro-batch
    * boundaries. NOTE: cross-row sampler state (event clocks, random
    * walks, CRPs) is therefore per-ROW here, not per-partition: those
    * samplers yield valid values but no cross-row progression — use the
    * stream's own `event_time` for time semantics.
    */
  def stream(spark: SparkSession, schemaJson: String, rowsPerSecond: Int,
      seed: Long = 42L): DataFrame = {
    val outSchema = StructType(
      StructField("event_time", TimestampType) +:
        Compiler.structType(Compiler.compileSchema(schemaJson)).fields)
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    implicit val enc = Encoders.row(outSchema)
    rate.mapPartitions { rows =>
      val entries = Compiler.compileSchema(schemaJson)
      rows.flatMap { r =>
        val ts = r.getTimestamp(0)
        val id = r.getLong(1)
        val ctx = new GenContext(Rng.forKey(seed, id), id)
        Synth.emitRows(entries, ctx, id).map(out => Row.fromSeq(ts +: out.toSeq))
      }
    }
  }

  /** Streaming exact dedup: drop re-occurrences of a content
    * fingerprint within the watermark horizon — the streaming face of
    * the batch dedup pass. `dropDuplicatesWithinWatermark` is the
    * state-bounded variant: plain `dropDuplicates("__fp")` would keep
    * every fingerprint forever (the event-time column isn't in the
    * subset, so the watermark never evicts) — OOM on a long stream.
    * With the *WithinWatermark* form each fingerprint's state row is
    * dropped once the watermark passes its expiry, so state size tracks
    * the distinct-fingerprint rate times the horizon, not stream length.
    */
  def dedupStream(stream: DataFrame, textCol: String,
      watermark: String = "10 minutes"): DataFrame =
    stream
      .withColumn("__fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Watermarked windowed rollup over a generated stream — the demo
    * composition of SURVEY §7.4(6): bursty generator → event-time window
    * counts with late-data tolerance.
    */
  def windowedCounts(stream: DataFrame, keyCol: String,
      watermark: String = "30 seconds", window_ : String = "1 minute"): DataFrame =
    stream
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col(keyCol))
      .agg(count(lit(1)).as("n"))
}
