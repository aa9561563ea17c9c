package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prints Spark `xxhash64(string)` reference values for the DuckDB
  * string-hash replay's calibration corpus (every XXH64 code path:
  * empty, <4, 4-7, exactly 8, 9-31, exactly 32, >32, multi-stripe,
  * multibyte UTF-8). Used while validating DuckXxHash.hashStringSteps.
  */
object XxhStringRef {
  def main(args: Array[String]): Unit = {
    // Plain Spark on purpose, not graft.runtime.LocalSession: this is the
    // reference DuckXxHash replays, so no graft extension or setting may
    // touch the hashes it prints.
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val tests = Seq("", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
      "abcdefghi", "abcdefghijkl", "abcdefghijklmnop", "the quick brown fox",
      "the quick brown fox jumps over",
      "the quick brown fox jumps over!!",
      "the quick brown fox jumps over the lazy dog",
      "0123456789012345678901234567890123456789012345678901234567890123",
      "01234567890123456789012345678901234567890123456789012345678901234567890",
      "héllo wörld ünïcode tëst strïng with ûtf8 bytes that are multibyte")
    tests.toDF("s")
      .select(regexp_replace(base64(col("s").cast("binary")), "\\n", "").as("b"), xxhash64(col("s")).as("h"))
      .collect().foreach(r => println(s"REF\t${r.getString(0)}\t${r.getLong(1)}"))
    spark.stop()
  }
}
