package graft.tools

import org.apache.spark.sql.functions._

/** Empirical recall measurement for the banded streaming near-dup
  * index ([[graft.streaming.BandedFirstSeenProcessor]]) — VERDICT r9
  * item 5. Plants near-dups at hamming 1-3 into growing random-
  * signature corpora and replays the processor's EXACT semantics
  * (bucket survivor = first arriver = min id per 16-bit band key; a
  * later near-dup is found iff at least one of its k+1 bucket
  * survivors verifies within maxHamming bits), then reports the
  * observed miss rate per corpus size.
  *
  * What the curve shows: a planted pair always shares >= 1 band
  * (pigeonhole), but the shared bucket only registers the pair while
  * the EARLIER member is that bucket's survivor. The probability an
  * unrelated earlier signature owns the bucket grows with bucket
  * occupancy ~ n/2^16 per band, so the per-pair miss rate is
  * ~ c * n / 2^16 for small occupancy and saturates toward
  * 1 - (survivor-verifies rate) as buckets crowd. The 2^-16 figure in
  * the processor doc is the per-unrelated-ROW collision rate; this
  * tool measures the resulting end-to-end miss law so COVERAGE carries
  * the honest numbers (and the batch bandedHammingPairs pass remains
  * the recall-1.0 backstop).
  *
  * Usage: runMain graft.tools.BandedRecallBench [sizes] [maxHamming]
  * (defaults: 16384,65536,262144,1048576,4194304 and 3).
  * One JSON line per size; paste into COVERAGE.md.
  */
object BandedRecallBench {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("16384,65536,262144,1048576,4194304")
      .split(",").map(_.trim.toLong).toSeq
    val maxHamming = args.lift(1).map(_.toInt).getOrElse(3)
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.LocalSession(cpus)

    for (n <- sizes) {
      val planted = math.min(20000L, n / 8)
      val stride = n / planted
      // base corpus: ids 0..n-1, uniform 64-bit signatures
      val base = spark.range(0, n)
        .select(col("id"), xxhash64(lit("sig"), col("id")).as("sig"))
      // planted twins: twin j pairs with base id j*stride, flipping
      // h = 1 + j%3 bits at spread positions (a, a+21, a+43 mod 64 are
      // pairwise distinct and usually land in different bands — the
      // adversarially-hard placement is irrelevant to the bucket race
      // being measured, which happens in the UNFLIPPED band)
      val twins = spark.range(n, n + planted)
        .select(col("id"), (col("id") - n).as("j"))
        .withColumn("h", (pmod(col("j"), lit(3L)) + 1L).cast("int"))
        .withColumn("a", pmod(xxhash64(lit("flip"), col("j")), lit(64L)))
        .withColumn("fl", expr("shiftleft(1L, CAST(a AS INT))")
          .bitwiseOR(when(col("h") >= 2,
            expr("shiftleft(1L, CAST((a + 21) % 64 AS INT))")).otherwise(lit(0L)))
          .bitwiseOR(when(col("h") >= 3,
            expr("shiftleft(1L, CAST((a + 43) % 64 AS INT))")).otherwise(lit(0L))))
        .select(col("id"), col("h"),
          xxhash64(lit("sig"), (col("j") * stride))
            .bitwiseXOR(col("fl")).as("sig"))
      val all = base.unionByName(twins.select(col("id"), col("sig")))
      // the processor's banding + survivor rule
      val banded = all.select(col("id"), col("sig"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask)).as("key"))): _*))
          .as("bk"))
        .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))
      val survivors = banded.groupBy("band", "key")
        .agg(min(struct(col("id"), col("sig"))).as("s"))
        .select(col("band"), col("key"),
          col("s.id").as("sid"), col("s.sig").as("ssig"))
      val twinBanded = twins.select(col("id"), col("h"), col("sig"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask)).as("key"))): _*))
          .as("bk"))
        .select(col("id"), col("h"), col("sig"), col("bk.band"), col("bk.key"))
      val verdicts = twinBanded.join(survivors, Seq("band", "key"))
        .groupBy("id", "h")
        .agg(max(when(col("sid") < col("id") &&
          bit_count(col("ssig").bitwiseXOR(col("sig"))) <= maxHamming, 1)
          .otherwise(0)).as("hit"))
      val byH = verdicts.groupBy("h")
        .agg(count(lit(1)).as("n"), sum(lit(1) - col("hit")).as("miss"))
        .collect().sortBy(_.getInt(0))
      val totMiss = byH.map(_.getLong(2)).sum
      // the BandedIndexProcessor semantics (every distinct signature
      // kept per bucket): a twin is found iff ANY earlier member of a
      // shared bucket verifies — recall 1.0 by pigeonhole, measured
      // here as the empirical control
      val idxMiss = planted - twinBanded
        .join(banded.select(col("band"), col("key"),
          col("id").as("mid"), col("sig").as("msig")), Seq("band", "key"))
        .filter(col("mid") < col("id") &&
          bit_count(col("msig").bitwiseXOR(col("sig"))) <= maxHamming)
        .select(col("id")).distinct().count()
      val occupancy = n.toDouble / (1L << bandBits)
      val perH = byH.map(r =>
        s""""miss_h${r.getInt(0)}":${"%.4f".format(
          r.getLong(2).toDouble / r.getLong(1))}""").mkString(",")
      println(f"""{"tool":"BandedRecallBench","n":$n,"planted":$planted,""" +
        f""""band_occupancy":$occupancy%.3f,""" +
        f""""miss_rate_first_seen":${totMiss.toDouble / planted}%.4f,$perH,""" +
        f""""miss_rate_index":${idxMiss.toDouble / planted}%.4f}""")
    }
    spark.stop()
  }
}
