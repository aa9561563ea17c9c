package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Broadcast Bloom-filter pruning — the constant-memory form of the
  * broadcast-set semi-join used by [[Contamination]] and
  * [[Dedup.incrementalDecision]]. When the build side outgrows a
  * broadcastable exact set (a billion-key dedup index, a full benchmark
  * fingerprint census), an m-bit filter keeps the probe side's
  * scan-side, shuffle-free pruning at a FIXED memory cost (m/64 longs;
  * m = 2^20 is 128 KB) in exchange for a quantified false-positive
  * rate — and Bloom false positives are SAFE here because every
  * downstream consumer (the exact dedup join, the contamination
  * verifier) re-checks survivors exactly; the filter only widens the
  * candidate set, never drops a true match.
  *
  * Determinism is the point of this implementation: positions derive
  * from `xxhash64` double hashing (Kirsch–Mitzenmacher: pos_i =
  * (h1 + i·h2) mod m with h1 = xxhash64(key), h2 = xxhash64(h1)), so
  * the entire decision surface — INCLUDING which keys false-positive —
  * is a pure function of the key set and (m, k), replayed bit-for-bit
  * by the q78 DuckDB oracle through the XXH64-in-SQL chain. No RNG
  * state, no partitioning dependence.
  *
  * Scale shape at 100 TB:
  *   - build: one map-side-combinable `bit_or` aggregation over word
  *     index — the shuffle carries at most m/64 rows TOTAL (not per
  *     key), and the driver collect is bounded by m/64 regardless of
  *     build cardinality;
  *   - probe: the bit array rides into the plan as a literal (Spark
  *     broadcasts task binaries once per executor); membership is k
  *     array lookups per row inside whole-stage codegen — no join, no
  *     shuffle, nothing exchanged.
  *
  * Reference scope: the reference engine has no Bloom operator; this is
  * part of the training-data-pipeline layer (pruning a 100 TB probe
  * against a too-big-to-broadcast key census).
  */
object Bloom {

  /** Append `__h1m`/`__h2m`/`__pos` (array of k bit positions) for
    * `keyCol`. The two hash residues are staged as attributes so the
    * position lambda references attributes, not nested hash trees (the
    * repo's lambda-CSE rule; here re-evaluation would only cost k cheap
    * long hashes, but the convention is load-bearing elsewhere).
    */
  private def withPositions(df: DataFrame, keyCol: String, m: Int, k: Int): DataFrame =
    df.withColumn("__h1m", pmod(xxhash64(col(keyCol)), lit(m.toLong)))
      .withColumn("__h2m", pmod(xxhash64(xxhash64(col(keyCol))), lit(m.toLong)))
      // i·__h2m <= k·m << 2^63: overflow-free under ANSI arithmetic
      .withColumn("__pos", transform(sequence(lit(0), lit(k - 1)),
        i => pmod(col("__h1m") + i.cast("long") * col("__h2m"), lit(m.toLong))))

  private def validate(m: Int, k: Int): Unit = {
    require(m >= 64 && m % 64 == 0, s"m must be a positive multiple of 64: $m")
    require(k >= 1 && k <= 16, s"k must be in [1, 16]: $k")
  }

  /** Build the m-bit filter over the distinct values of `keyCol`
    * (LongType). Returns the packed bit words (little-endian within
    * each word: bit b of word w is position w*64+b).
    *
    * The collect is bounded by m/64 rows BY CONSTRUCTION (group key is
    * the word index), independent of build-side cardinality — the
    * legitimate-collect contract of the IVF probe step (Ivf.scan).
    */
  def buildBits(build: DataFrame, keyCol: String, m: Int, k: Int): Array[Long] = {
    validate(m, k)
    val words = withPositions(build.select(col(keyCol)).distinct(), keyCol, m, k)
      .select(explode(col("__pos")).as("pos"))
      .select((col("pos") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("b"))
      .groupBy("w").agg(bit_or(col("b")).as("bits"))
      .collect()
    val arr = new Array[Long](m / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** One row per input row with a `bloom_hit` boolean: true iff all k
    * positions of `keyCol` are set in `bits`. Pure scan-side column
    * arithmetic against an array literal — codegen'd, no join.
    */
  def decisions(probe: DataFrame, keyCol: String, bits: Array[Long],
      m: Int, k: Int): DataFrame = {
    validate(m, k)
    require(bits.length == m / 64, s"bits length ${bits.length} != m/64 = ${m / 64}")
    val bitsLit = typedLit(bits.toSeq)
    withPositions(probe, keyCol, m, k)
      .withColumn("bloom_hit", forall(col("__pos"), p =>
        call_function("shiftright",
          element_at(bitsLit, (p / 64).cast("int") + 1),
          (p % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)))
      .drop("__h1m", "__h2m", "__pos")
  }

  /** Keep only the probe rows the filter admits (true matches plus the
    * false-positive fraction ~(1 - e^(-k·n/m))^k, which the exact
    * downstream consumer re-verifies).
    */
  def prune(probe: DataFrame, keyCol: String, bits: Array[Long],
      m: Int, k: Int): DataFrame =
    decisions(probe, keyCol, bits, m, k).filter(col("bloom_hit")).drop("bloom_hit")
}
