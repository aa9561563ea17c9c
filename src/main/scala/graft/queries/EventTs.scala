package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Normalizes `events.ts` to BIGINT nanoseconds since the epoch no matter
  * which physical type the driver's generator wrote:
  *
  *  - `TIMESTAMP(NANOS)` parquet (rounds 1-5): Spark 4 cannot represent
  *    nanosecond timestamps, so [[graft.runtime.Tables]] sets
  *    `spark.sql.legacy.parquet.nanosAsLong=true` and the column arrives
  *    as LongType nanos already — pass through.
  *  - `timestamp[us] isAdjustedToUTC=false` (round 6 regeneration):
  *    Spark reads TIMESTAMP_NTZ. Every entry point pins
  *    `spark.sql.session.timeZone=UTC`, so the NTZ → TIMESTAMP cast is a
  *    pure reinterpretation and `unix_micros * 1000` equals DuckDB's
  *    `epoch_ns(ts)` on the same file bit-for-bit.
  *  - `timestamp[us] isAdjustedToUTC=true`: plain TimestampType, same
  *    `unix_micros * 1000`.
  *
  * Works on batch AND streaming DataFrames (it is only a projection), so
  * the file-stream replays in SparkEntry share it. All downstream query
  * code keeps its integer-nanos arithmetic (`ts div 1000`, gap compares
  * in ns) — integer `div`/`-` on bigint is exact where a double path
  * would lose micros above 2^53.
  */
object EventTs {
  def toNanos(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df
    case TimestampType =>
      df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    case TimestampNTZType =>
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    case other =>
      throw new IllegalStateException(s"events.ts has unsupported type $other")
  }
}
