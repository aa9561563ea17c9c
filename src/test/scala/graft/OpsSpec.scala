package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-pipeline operator tests: planted-duplicate detection, recall
  * bounds for the approximate (LSH/IVF) paths against exact ground
  * truth, and determinism of the stubbed multimodal decode.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("exact dedup keeps lowest id per normalized content") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 3L)) // 2 is a case/whitespace dup of 1
  }

  test("best-survivor dedup: longest capture wins its class, unique docs survive themselves") {
    val df = Seq(
      (1L, "Hello  World", 12L),   // same class as 2/3 after normalization
      (2L, "hello world", 11L),
      (3L, "HELLO   world", 13L),  // longest -> survivor of the class
      (4L, "unique text", 11L),
    ).toDF("doc_id", "text", "n_chars")
    val got = Dedup.exactBestSurvivor(df, "text", "doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      1L -> ((3L, false)), 2L -> ((3L, false)), 3L -> ((3L, true)),
      4L -> ((4L, true))))
  }

  test("incremental dedup: history dups flagged, within-batch keep-first, novel docs kept") {
    // history indexed with the SAME shared fingerprint exact() uses —
    // the cross-API contract the round-5 advice flagged
    val history = Seq("seen before", "also   SEEN before", "  padded doc  ")
      .toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val batch = Seq(
      (10L, "seen  Before"),        // normalizes into history -> dup_history
      (11L, "fresh content"),       // novel -> keep
      (12L, "Fresh   content"),     // dup of 11 within batch -> dup_batch
      (13L, "another new one"),     // novel -> keep
      (14L, "padded doc"),          // trim-normalizes into history -> dup_history
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDecision(batch, "doc_id", "text", history)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(10L -> "dup_history", 11L -> "keep",
      12L -> "dup_batch", 13L -> "keep", 14L -> "dup_history"))
  }

  test("bpe trainer matches an independent reference, invariant under partitioning") {
    import graft.ops.BpeTrainer
    // the classic Sennrich corpus
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val merges = BpeTrainer.learnMerges(df, "text", nMerges = 8, minCount = 2)

    // independent single-machine reference with the same total order
    def refMergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    def ref(words0: Map[String, Long], n: Int): Seq[(Int, String, String, Long)] = {
      var words: Seq[(Seq[String], Long)] =
        words0.toSeq.map { case (w, c) => (w.map(_.toString).toSeq :+ "</w>", c) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var rank = 0
      var stop = false
      while (rank < n && !stop) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (syms, c) =>
          syms.zip(syms.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c) }
        val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
        best match {
          case Some(((l, r), c)) if c >= 2 =>
            out += ((rank, l, r, c))
            words = words.map { case (syms, cc) => (refMergeOnce(syms, l, r), cc) }
            rank += 1
          case _ => stop = true
        }
      }
      out.toSeq
    }
    val expected = ref(Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 8)
    assert(merges == expected)
    // hand-checked head: (e,s) at count 9 wins the 3-way tie lexicographically
    assert(merges.head == ((0, "e", "s", 9L)), merges.head)
    // deterministic under partitioning
    assert(BpeTrainer.learnMerges(df.repartition(7), "text", 8, 2) == merges)
    // application compresses a known word: after es/est/est</w> merges,
    // "newest" tokenizes as [n, e, w, est</w>]
    val applied = BpeTrainer.applyMerges(
      Seq((1L, "newest")).toDF("id", "text"), "text", merges.take(3))
      .collect().head
    assert(applied.getSeq[String](2) == Seq("n", "e", "w", "est</w>"), applied)
    assert(applied.getLong(3) == 4L)
  }

  test("snapshot diff: added/removed/changed/unchanged, whitespace-only rewrites are unchanged") {
    import graft.ops.SnapshotDiff
    val oldSnap = Seq((1L, "same text"), (2L, "will change"), (3L, "goes away"),
      (4L, "spacing   test")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "same text"), (2L, "has changed"), (5L, "brand new"),
      (4L, "  spacing test ")).toDF("doc_id", "text")
    val got = SnapshotDiff.diff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"))
  }

  test("incremental dedup with bloom prefilter: decisions identical to the exact form") {
    // deliberately TINY filter (1024 bits, 200 history fps ~ 0.63 load)
    // so the false-positive band is fat — equality must hold anyway
    // because the exact history join re-checks every admitted row
    val history = (1 to 200).map(i => s"historic document number $i")
      .toDF("text").select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val batch = ((1 to 150).map(i => (i.toLong, s"historic document number ${i * 2}")) ++
      (1 to 300).map(i => (1000L + i, s"fresh batch text ${i % 140}")))
      .toDF("doc_id", "text")
    val exact = Dedup.incrementalDecision(batch, "doc_id", "text", history)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val bloomed = Dedup.incrementalDecisionBloom(batch, "doc_id", "text", history,
      mBits = 1024, kHashes = 3)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(bloomed == exact)
    assert(exact.values.toSet == Set("dup_history", "dup_batch", "keep"))
  }

  test("bloom filter: no false negatives, bounded false positives, prune is a superset") {
    import graft.ops.Bloom
    val build = spark.range(0, 500).select(col("id").as("key"))
    val probe = spark.range(0, 5000).select(col("id").as("key"))
    val bits = Bloom.buildBits(build, "key", m = 8192, k = 4)
    assert(bits.length == 8192 / 64)
    val dec = Bloom.decisions(probe, "key", bits, m = 8192, k = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(dec.size == 5000)
    // a Bloom filter NEVER misses a member
    (0L until 500L).foreach(i => assert(dec(i), s"member $i missed"))
    // non-members false-positive at ~(1-e^(-k n/m))^k ~= 0.2% here; 5% is
    // a loose determinism-safe ceiling (the exact count is seed-fixed)
    val fp = (500L until 5000L).count(dec(_))
    assert(fp <= (4500 * 0.05).toInt, s"false-positive count too high: $fp")
    val kept = Bloom.prune(probe, "key", bits, m = 8192, k = 4)
      .collect().map(_.getLong(0)).toSet
    assert((0L until 500L).forall(kept), "prune dropped a member")
    assert(kept == dec.filter(_._2).keySet)
  }

  test("kmv_sketch / freq_sketch reject wrong-typed arguments at analysis time") {
    Seq((1L, "a")).toDF("n", "s").createOrReplaceTempView("__typecheck")
    val kmvErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT kmv_sketch(s, 32) FROM __typecheck").collect()
    }
    assert(kmvErr.getMessage.contains("BIGINT"), kmvErr.getMessage)
    val freqErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT freq_sketch(n, 32) FROM __typecheck").collect()
    }
    assert(freqErr.getMessage.contains("STRING"), freqErr.getMessage)
  }

  test("minhash-lsh finds planted near-duplicates with exact jaccard verification") {
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3).trim
    val nearDup = base + " omega extra" // jaccard ≈ 0.85: well inside LSH recall
    val planted = Seq((9001L, base), (9002L, nearDup), (9003L, base))
      .toDF("doc_id", "text")
    val df = docs.select($"doc_id", $"text").union(planted)
    val pairs = Dedup.minHashLsh(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((9001L, 9003L))) // identical docs always pair
    assert(pairs.contains((9001L, 9002L)) || pairs.contains((9002L, 9003L)),
      s"near-dup not found in $pairs")
  }

  test("exactShinglePairs: df cap bounds stop-shingle fan-out, keeps real near-dups") {
    // 100 docs sharing ONLY two boilerplate trigrams (df = 100 > cap):
    // uncapped they'd emit C(100,2) = 4950 pairs with common = 2
    val boiler = (1 to 100).map(i =>
      (1000L + i, s"common stop shingle filler u${i}a u${i}b u${i}c"))
    // 5 genuinely near-dup docs: every trigram has df = 5 <= cap
    val dups = (1 to 5).map(i =>
      (2000L + i, "alpha beta gamma delta epsilon zeta"))
    val df = (boiler ++ dups).toDF("doc_id", "text")
    val capped = Dedup.exactShinglePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate family contributes NOTHING; dup clique fully paired
    assert(capped == (for {
      a <- 1 to 5; b <- (a + 1) to 5
    } yield (2000L + a, 2000L + b)).toSet, s"got $capped")
    // sanity: without the cap the stop-shingles explode into 4950 pairs
    val uncapped = Dedup.exactShinglePairs(df, "doc_id", "text", maxDf = 1000)
    assert(uncapped.count() == 4950 + 10)
  }

  test("spanDedup: keep-first tile removal, tail preserved, short docs intact") {
    import graft.ops.SpanDedup
    val tile = (1 to 10).map(i => s"w$i").mkString(" ") // one exact 10-word tile
    val df = Seq(
      (1L, tile + " " + (1 to 10).map(i => s"a$i").mkString(" ") + " tail1 tail2"),
      (2L, tile + " " + (1 to 10).map(i => s"b$i").mkString(" ")), // shares tile with 1
      (3L, "short doc under ten words"),
    ).toDF("doc_id", "text")
    val rep = SpanDedup.spanDedupReport(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rep(1L)._1 == 2 && rep(1L)._2 == 1) // 2 tiles, 1 duplicated
    assert(rep(2L)._1 == 2 && rep(2L)._2 == 1)
    assert(rep(3L)._1 == 0 && rep(3L)._2 == 0)
    // doc 1 keeps everything (first occurrence + tail); doc 2 loses the tile
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rep(1L)._3 == md5s(tile + " " + (1 to 10).map(i => s"a$i").mkString(" ") + " tail1 tail2"))
    assert(rep(2L)._3 == md5s((1 to 10).map(i => s"b$i").mkString(" ")))
    assert(rep(3L)._3 == md5s("short doc under ten words"))
  }

  test("budget mix: exact thresholds, kept cost tracks shares, cheap source caps at 1") {
    import graft.ops.Sampling
    // srcA: 1000 docs x 100 (oversubscribed), srcB: 500 x 40 (half),
    // srcC: 20 x 10 (whole source fits under its share -> rate caps at 1)
    val rows = (1 to 1000).map(i => (i.toLong, "srcA", 100L)) ++
      (1 to 500).map(i => (10000L + i, "srcB", 40L)) ++
      (1 to 20).map(i => (20000L + i, "srcC", 10L))
    val df = rows.toDF("doc_id", "source", "cost")
    val out = Sampling.budgetMix(df, "doc_id", "source", "cost",
      Map("srcA" -> 1L, "srcB" -> 1L, "srcC" -> 1L), budget = 30000L).persist()
    val thr = out.select(col("source"), col("thr_ppm")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // integer-exact: 30000*1M div (3*total_cost), capped at 1M
    assert(thr == Map("srcA" -> 100000L, "srcB" -> 500000L, "srcC" -> 1000000L))
    val keptCost = out.filter(col("keep")).groupBy("source")
      .agg(sum("cost").as("c")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keptCost("srcC") == 200L, "capped source must pass whole")
    // uniform costs within a source: kept cost ~ thr * total within hash jitter
    assert(math.abs(keptCost("srcA") - 10000L) < 3000, s"srcA: $keptCost")
    assert(math.abs(keptCost("srcB") - 10000L) < 3000, s"srcB: $keptCost")
    // partitioning-invariant kept set
    val kept1 = out.filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val kept2 = Sampling.budgetMix(df.repartition(17, col("source")), "doc_id",
      "source", "cost", Map("srcA" -> 1L, "srcB" -> 1L, "srcC" -> 1L), 30000L)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == kept2)
    out.unpersist()
    ()
  }

  test("qualityBucketSample: tercile bands, per-bucket keep rates, determinism") {
    import graft.ops.Sampling
    val df = (1L to 3000L).map(i => (i, (i % 300))).toDF("doc_id", "s")
    val out = Sampling.qualityBucketSample(df, "doc_id", "s",
      keepPerMille = Seq(100L, 500L, 1000L)).persist()
    val byBucket = out.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("kept").as("k"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // uniform scores: buckets are exact thirds
    assert(byBucket(0)._1 == 1000 && byBucket(1)._1 == 1000 && byBucket(2)._1 == 1000)
    // keep rates near 10% / 50% / 100% (hash cell is uniform)
    assert(byBucket(0)._2 > 50 && byBucket(0)._2 < 180, s"b0 ${byBucket(0)._2}")
    assert(byBucket(1)._2 > 400 && byBucket(1)._2 < 600, s"b1 ${byBucket(1)._2}")
    assert(byBucket(2)._2 == 1000)
    // deterministic: a second run keeps exactly the same rows
    val again = Sampling.qualityBucketSample(df, "doc_id", "s",
      keepPerMille = Seq(100L, 500L, 1000L))
    assert(out.select("doc_id", "kept").except(again.select("doc_id", "kept")).count() == 0)
    out.unpersist()
  }

  test("deterministicShuffle: dense per-shard positions, partitioning-invariant") {
    import graft.ops.Sampling
    val df = (1L to 2000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val out = Sampling.deterministicShuffle(df, "doc_id", nShards = 8).persist()
    // every shard's positions are exactly 1..count (dense ranks, no gaps)
    val shards = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .collect()
    assert(shards.length == 8)
    shards.foreach { r =>
      assert(r.getLong(3) == 1L && r.getLong(2) == r.getLong(1),
        s"shard ${r.getInt(0)}: pos not dense 1..n")
    }
    // pure function of (id, seed): identical under a different physical layout
    val again = Sampling.deterministicShuffle(df.repartition(17), "doc_id", nShards = 8)
    assert(out.select("doc_id", "shard", "pos")
      .except(again.select("doc_id", "shard", "pos")).count() == 0)
    out.unpersist()
  }

  test("byteBalancedShards: every shard within one document of the byte target") {
    import graft.ops.Sampling
    // doc sizes vary 1..400 bytes — count-balanced sharding would skew
    val df = (1L to 2000L).map(i => (i, "x" * (1 + (i * 7919 % 400)).toInt))
      .toDF("doc_id", "text")
    val target = 10000L
    val out = Sampling.byteBalancedShards(df, "doc_id",
      octet_length(col("text")), target, nBuckets = 16).persist()
    val perShard = out.groupBy("shard").agg(sum("bytes").as("b"),
      max("bytes").as("mx")).collect()
    val maxDoc = out.agg(max("bytes")).collect()(0).getLong(0)
    val last = perShard.map(_.getLong(0)).max
    perShard.foreach { r =>
      val (shard, b) = (r.getLong(0), r.getLong(1))
      // greedy prefix cut: a shard exceeds target only by its boundary doc
      assert(b <= target + maxDoc, s"shard $shard overflows: $b")
      // all but the final shard reach the target (no premature cuts)
      if (shard != last) assert(b + maxDoc >= target, s"shard $shard underfull: $b")
    }
    // partitioning-invariant (pure integer function of ids and sizes)
    val again = Sampling.byteBalancedShards(df.repartition(13), "doc_id",
      octet_length(col("text")), target, nBuckets = 16)
    assert(out.except(again).count() == 0)
    out.unpersist()
  }

  test("byteBalancedShards: a null-bytes row fails and leaves nothing cached") {
    import graft.ops.Sampling
    val df = Seq((1L, Some("abc")), (2L, None)).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Sampling.byteBalancedShards(df, "doc_id", octet_length(col("text")), 10L)
    }
    assert(e.getMessage.contains("1 rows with null bytes"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cached RDDs left behind: $leaked")
  }

  test("winnowing: identical docs share sketches, shared runs guarantee a common fp") {
    import graft.ops.Winnowing
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = (1 to 30).map(i => if (i == 15) "EDIT" else s"w$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, b), (4L, "tiny doc here"), (5L, "x y"))
      .toDF("doc_id", "text")
    val fps = Winnowing.fingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(fps(1L) == fps(2L)) // identical text, identical sketch
    // the paper's guarantee: docs 1 and 3 share runs of >= 6 words on
    // both sides of the edit, so at least one fp is common; the edit
    // makes the sketches differ
    assert((fps(1L) & fps(3L)).nonEmpty && fps(1L) != fps(3L))
    assert(fps(4L).size == 1) // 3 words -> 1 gram -> 1 clipped window
    assert(!fps.contains(5L)) // under k words -> no fingerprints
  }

  test("simhash: identical text pairs at hamming 0, disjoint text far apart") {
    val df = Seq((1L, "the quick brown fox jumps over dogs"),
      (2L, "the quick brown fox jumps over dogs"),
      (3L, "zq xw vv uu tt ss rr qq pp oo")).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getLong(2) == 0L))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("native sketch expressions are bit-identical to their HOF column forms") {
    // the documented swap guarantee: installing GraftExtensions changes
    // the lowering of the sketch loops, never the sketches
    val df = docs.limit(64)
      .select($"doc_id", split(lower(trim($"text")), "\\s+").as("w"))
      .withColumn("hs_hof", transform($"w", t => xxhash64(t)))
      .withColumn("hs_nat", call_function("hash64_array", $"w"))
      .persist()
    assert(df.filter(expr("hs_hof != hs_nat")).count() == 0)
    val k = 8
    val mh = df.withColumn("ms", call_function("minhash_sigs", $"hs_hof", lit(k)))
    (0 until k).foreach { j =>
      val bad = mh.filter(
        element_at($"ms", j + 1) =!= array_min(transform($"hs_hof", h => xxhash64(h, lit(j)))))
      assert(bad.count() == 0, s"minhash_sigs bit drift at j=$j")
    }
    // simhashCol splits from a named text column — compare on a text df
    val tdf = docs.limit(64).persist()
    val both = tdf.select(
      Dedup.simhashCol("text", native = false).as("hof"),
      Dedup.simhashCol("text", native = true).as("nat"))
    assert(both.filter($"hof" =!= $"nat").count() == 0)
    // srp_sig vs the per-bit aggregate/zip_with chain (the Column spec)
    val seed = 42L; val nBits = 12; val t = 1
    val v = $"v"
    val hofSig = (0 until nBits).map { j =>
      val dot = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
          when(xxhash64(lit(seed), lit(t), lit(j), i).bitwiseAND(lit(1L)) === 1L, x)
            .otherwise(-x)),
        lit(0d), (a, x) => a + x)
      when(dot >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val edf = embs.limit(64)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val srpBoth = edf.select(hofSig.as("hof"),
      call_function("srp_sig", v, lit(seed), lit(t), lit(nBits)).as("nat"))
    assert(srpBoth.filter($"hof" =!= $"nat").count() == 0)
    // int_dot vs the aggregate/zip_with integer dot (the quantized ANN
    // kernel), including the null-on-length-mismatch contract
    val qdf = edf.select(
      transform(v, x => round(x * lit(1000d)).cast("long")).as("qa"),
      transform(reverse(v), x => round(x * lit(500d)).cast("long")).as("qb"))
    val dotBoth = qdf.select(
      aggregate(zip_with($"qa", $"qb", (x, y) => x * y), lit(0L), (a, x) => a + x).as("hof"),
      call_function("int_dot", $"qa", $"qb").as("nat"))
    assert(dotBoth.filter($"hof" =!= $"nat").count() == 0)
    val mm = qdf.select(call_function("int_dot", $"qa", slice($"qb", 1, 3)).as("d"))
    assert(mm.filter($"d".isNotNull).count() == 0, "length mismatch must be NULL")
    df.unpersist(); tdf.unpersist()
  }

  test("bucket self-joins plan as equi-joins, never nested-loop") {
    // the audit can't see inside g46/g48 (their results are
    // checkpointed); pin the join shape here on the same (key, sig)
    // bucket self-join structure all three LSH families use
    val buckets = docs.select($"doc_id".as("__id"),
      (xxhash64($"text") % 8).as("__band"), xxhash64($"text", lit(1)).as("__sig"))
    val joined = buckets.as("x").join(buckets.as("y"),
      col("x.__band") === col("y.__band") && col("x.__sig") === col("y.__sig") &&
        col("x.__id") < col("y.__id"))
    val plan = joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bucket self-join regressed to a non-equi join:\n$plan")
    assert(plan.contains("Join") || plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin"))
  }

  test("chooseBanding follows the threshold (s-curve), rejects uncapturable thresholds") {
    // high threshold -> few long bands (selective); low -> many short bands
    val (b08, r08) = Dedup.chooseBanding(64, 0.8)
    assert(Dedup.lshCaptureProb(0.8, b08, r08) >= 0.9)
    val (b05, r05) = Dedup.chooseBanding(64, 0.5)
    assert(Dedup.lshCaptureProb(0.5, b05, r05) >= 0.9)
    assert(r08 >= r05, s"higher threshold must get an equal-or-steeper curve: $r08 vs $r05")
    // every returned banding is exact
    assert(b08 * r08 == 64 && b05 * r05 == 64)
    // the most selective viable banding is returned: the next-fewer-bands
    // divisor pair must fall below the capture floor
    val tighter = (1 until b08).filter(64 % _ == 0)
    assert(tighter.forall(b => Dedup.lshCaptureProb(0.8, b, 64 / b) < 0.9))
    // a threshold no 64-hash banding can capture is rejected loudly
    val e = intercept[IllegalArgumentException](Dedup.chooseBanding(64, 0.001))
    assert(e.getMessage.contains("capture floor"))
  }

  test("multi-table SRP: planted near-dups recovered, candidate set stays sparse") {
    import org.apache.spark.sql.functions.{lit, pmod, transform, xxhash64}
    val base = embs
    // perturbed copy: per-element noise in ±10% -> cosine ~0.998 pairs
    val perturbed = base
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
      .withColumn("embedding", transform(col("embedding"), (x, i) =>
        (x.cast("double") *
          (lit(1.0) + (pmod(xxhash64(col("vec_id"), i), lit(2001L)) - 1000L)
            .cast("double") / lit(10000.0))).cast("float")))
    val n = base.count()
    val pairs = Dedup.embeddingNearDup(base.unionByName(perturbed),
      "vec_id", "embedding", threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall: each planted (v, v*(1+eps)) pair is a bucket collision in
    // >= 1 of the 4 tables with p ~0.99
    val found = (0L until n).count(i => pairs.contains((i, i + 1000000L)))
    assert(found >= (n * 0.9).toInt, s"recall too low: $found / $n")
    // pruning: random pairs (p_bit ~0.5) almost never collide in a
    // 16-bit table; threshold -1 admits EVERY candidate, so the result
    // size is the candidate-set size — must be far below all-pairs
    val candidates = Dedup.embeddingNearDup(base, "vec_id", "embedding",
      threshold = -1.0).count()
    val allPairs = n * (n - 1) / 2
    assert(candidates < allPairs / 20,
      s"candidate set $candidates not sparse vs all-pairs $allPairs")
  }

  test("embedding near-dup finds planted identical vectors") {
    val v = (1 to 64).map(_.toFloat / 64)
    val planted = Seq((8001L, v, 0), (8002L, v, 0))
      .toDF("vec_id", "embedding", "label")
    val df = embs.union(planted)
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((8001L, 8002L)))
  }

  test("hard negatives: top-k similar with a different label, never the query's own label") {
    val queries = embs.filter($"vec_id" % 100 === 0)
    val got = Similarity.hardNegatives(embs, queries, "vec_id", "embedding", "label", 5)
    val labels = embs.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.select("qid", "rnk", "neighbor").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // no negative shares its query's label, and every query got k
    rows.foreach { case (qid, _, nb) =>
      assert(labels(nb) != labels(qid), s"$nb shares label with query $qid")
    }
    assert(rows.groupBy(_._1).values.forall(_.length == 5))
    // the mined set is exactly bruteForceTopK restricted to other-label
    // candidates: per query, ranks agree with a label-filtered rerank
    val full = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 200)
      .select("qid", "rnk", "neighbor").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val expected = full.groupBy(_._1).map { case (qid, ns) =>
      qid -> ns.sortBy(_._2).map(_._3).filter(nb => labels(nb) != labels(qid)).take(5).toSeq
    }
    val gotPerQ = rows.groupBy(_._1).map { case (qid, ns) =>
      qid -> ns.sortBy(_._2).map(_._3).toSeq
    }
    assert(gotPerQ == expected)
  }

  test("ivf top-k recall >= 0.55 vs brute force at nProbe=4/16 (spherical fit)") {
    val queries = embs.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 10)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val centroids = Similarity.fitCentroids(embs, "embedding", 16)
    val approx = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 10,
      centroids, nProbe = 4)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 0.6 measured with the spherical fit on this (clusterless, random)
    // corpus; the bound keeps head-room for centroid-sample jitter. L2
    // k-means on raw vectors sat at the 0.5 floor.
    assert(recall >= 0.55, s"IVF recall $recall")
  }

  test("disk IVF index: partition-pruned probes match the in-memory path") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("ivf_index")
      val centroids = Similarity.fitCentroids(embs, "embedding", 16)
      Similarity.writeIvfIndex(embs, "vec_id", "embedding", dir, centroids)
      val queries = embs.filter($"vec_id" % 100 === 0)
      val mem = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 10,
        centroids, nProbe = 4)
        .collect().map(_.toString).sorted
      val disk = Similarity.ivfTopKFromIndex(dir, queries, "vec_id", "embedding", 10,
        nProbe = 4)
      assert(disk.collect().map(_.toString).sorted.toSeq == mem.toSeq)
      // the probe restriction must reach the scan as a PartitionFilter —
      // at scale this is what keeps unprobed cluster directories unread
      IvfTestKit.assertPrunedScan(disk, dir)
    }
  }


  test("connected components assigns min-id cluster across chained pairs") {
    // 1-2, 2-3 chain plus isolated pair 10-11: clusters {1,2,3}->1, {10,11}->10
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = graft.ops.Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components converges in O(log d) rounds on a long chain") {
    // a 64-node path has diameter 63: plain min-label propagation needs
    // ~63 rounds, pointer jumping ~log2(63)+2. maxIters=12 only passes
    // with the jump in place.
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = graft.ops.Clusters.connectedComponents(pairs, maxIters = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 64 && comps.values.forall(_ == 1L))
  }

  test("dedupDecision keeps one canonical doc per near-dup cluster") {
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3).trim
    val planted = Seq((9001L, base), (9002L, base + " omega"), (9003L, base))
      .toDF("doc_id", "text")
    val df = docs.select($"doc_id", $"text").union(planted)
    val decision = graft.ops.Clusters.dedupDecision(df, "doc_id", "text", threshold = 0.5)
    val cluster = decision.filter($"id" >= 9001L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // all three planted docs land in one cluster; only 9001 survives
    assert(cluster.forall(_._2 == 9001L), cluster.mkString(","))
    assert(cluster.map(c => c._1 -> c._3).toMap ==
      Map(9001L -> true, 9002L -> false, 9003L -> false))
    // every input doc appears exactly once in the decision
    assert(decision.count() == df.count())
  }

  test("bpe token count on known strings") {
    // single digits tokenize individually: "42" -> "4","2"
    val df = Seq(("a1b2!", 5), ("hello, world 42", 5), ("", 0)).toDF("text", "want")
    df.select(TextAnalysis.bpeTokenCount($"text").as("got"), $"want").collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("langid guess: stopword-dense english vs non-ascii vs other") {
    val df = Seq(
      ("the cat sat on the mat and the dog in a house of cards", "en-ish"),
      ("世界 你好 世界 你好 世界 你好 世界 你好", "cjk-ish"),
      ("zxcv qwer asdf poiu lkjh mnbv", "latin-other")).toDF("text", "want")
    df.select(TextAnalysis.langIdGuess($"text").as("got"), $"want").collect()
      .foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("unigram LM score ranks common English above gibberish") {
    val df = Seq(
      ("good", "the of and to a in the of and to"),
      ("bad", "zxqj wvvk pllm qqrs ttnb mmzx yyab ccdd eeff gghh"))
      .toDF("tag", "text")
    val scores = df.select($"tag", TextAnalysis.unigramScore($"text").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scores("good") > scores("bad"))
    assert(scores("bad") == 10 * TextAnalysis.oovPenaltyMilli) // all OOV
  }

  test("rolling hash is order-sensitive; md5 fingerprint is not case-sensitive") {
    val df = Seq(("a b c", "c b a", "A  b C")).toDF("x", "y", "z")
    val r = df.select(
      TextAnalysis.rollingHash($"x").as("hx"), TextAnalysis.rollingHash($"y").as("hy"),
      TextAnalysis.fingerprint($"x").as("fx"), TextAnalysis.fingerprint($"z").as("fz"))
      .collect()(0)
    assert(r.getAs[Long]("hx") != r.getAs[Long]("hy"))
    assert(r.getAs[String]("fx") == r.getAs[String]("fz"))
  }

  test("multimodal decode reads real PNG dimensions through ImageIO") {
    // render a real 6x4 PNG in memory: red left half, blue right half
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6)
      img.setRGB(x, y, if (x < 3) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val df = Seq((1L, png), (2L, "not an image".getBytes)).toDF("id", "payload")
    val out = Multimodal.decodeFeatures(df, "payload")
      .select($"id", $"payload_decoded.*").collect().sortBy(_.getLong(0))
    val real = out(0)
    assert(real.getInt(1) == 6 && real.getInt(2) == 4, s"decoded ${real}")
    val feats = real.getSeq[Float](4)
    // left quadrants are pure red (luma 0.299), right pure blue (0.114)
    assert(math.abs(feats(0) - 0.299f) < 0.02, s"NW luma ${feats(0)}")
    assert(math.abs(feats(1) - 0.114f) < 0.02, s"NE luma ${feats(1)}")
    assert(math.abs(feats(7) - 1.5f) < 1e-6, "aspect ratio")
    // non-image payload falls back to the deterministic stub (not a crash)
    val stub = out(1)
    assert(stub.getInt(1) >= 64 && stub.getInt(2) >= 64)
  }

  test("multimodal resize rewrites pixels: target dims, color preserved, corrupt payloads null out") {
    // 8x6 PNG, red left half / blue right half
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq((1L, bos.toByteArray), (2L, "not an image".getBytes))
      .toDF("id", "payload")
    val out = Multimodal.resizeImages(df, "payload", 4, 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload_resized")).toMap
    assert(out(2L) == null, "corrupt payload must null out, not crash")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out(1L)))
    assert(back.getWidth == 4 && back.getHeight == 3)
    // halves survive the bilinear downscale: left pixel red, right blue
    assert((back.getRGB(0, 1) & 0xff0000) != 0 && (back.getRGB(0, 1) & 0xff) == 0)
    assert((back.getRGB(3, 1) & 0xff) != 0 && (back.getRGB(3, 1) & 0xff0000) == 0)
  }

  test("multimodal decode stub is deterministic and frame sampling fans out") {
    val assets = Multimodal.asAsset(
      docs.limit(20).select($"doc_id", $"text".cast("binary").as("payload")),
      "payload", "image", "png")
    val d1 = Multimodal.decodeFeatures(assets, "payload")
      .select($"doc_id", $"payload_decoded.width").collect().map(_.toString).sorted
    val d2 = Multimodal.decodeFeatures(assets, "payload")
      .select($"doc_id", $"payload_decoded.width").collect().map(_.toString).sorted
    assert(d1.toSeq == d2.toSeq)
    val frames = Multimodal.sampleFrames(assets, "payload", 4)
    assert(frames.count() == 80) // 20 assets x 4 frames
    assert(frames.columns.contains("frame_offset_bytes"))
  }

  test("normalizeText: NFC composes, controls strip, whitespace collapses; ascii fast path is identity") {
    import graft.ops.TextAnalysis
    val rows = Seq(
      ("cafe\u0301", "caf\u00e9"), // decomposed -> precomposed
      ("\ufb01le", "\ufb01le"), // ligature is NFC-invariant
      ("a\u0002b", "ab"), // C0 control stripped
      ("  a \t b\n c  ", "a b c"), // collapse + trim
      ("plain ascii!", "plain ascii!"))
      .toDF("s", "want")
    rows.select(TextAnalysis.normalizeText($"s").as("got"), $"want").collect()
      .foreach(r => assert(r.getString(0) == r.getString(1),
        s"'${r.getString(0)}' != '${r.getString(1)}'"))
    // the registered SQL function evaluates through the same static entry
    rows.createOrReplaceTempView("__nfc_t")
    val viaSql = spark.sql(
      "SELECT nfc_normalize(s) FROM __nfc_t WHERE s = 'cafe\u0301'")
      .collect()(0).getString(0)
    assert(viaSql == "caf\u00e9")
    val e = intercept[Exception] {
      spark.sql("SELECT nfc_normalize(1)").collect()
    }
    assert(e.getMessage.contains("STRING"))
  }

  test("featureHash: signed bucket sums match a local replay; map-side-combinable plan") {
    import graft.ops.TextAnalysis
    val df = Seq((1L, "the quick brown fox the quick"), (2L, ""), (3L, "one"))
      .toDF("doc_id", "text")
    val n = 16
    val got = TextAnalysis.featureHash(df, "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    def local(text: String): Seq[Long] = {
      val acc = Array.fill(n)(0L)
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(md5.take(15), 16)
        val b = ((h >>> 1) % n).toInt
        acc(b) += (if (h % 2 == 0) 1L else -1L)
      }
      acc.toSeq
    }
    assert(got(1L) == local("the quick brown fox the quick"))
    assert(got(2L) == Seq.fill(n)(0L)) // empty text -> all-zero vector
    assert(got(3L) == local("one"))
    // total mass: sum of |signs| bounded by token count, sum of signs
    // equals the local replay's total
    assert(got(1L).sum == local("the quick brown fox the quick").sum)
    // the hash chain runs in a codegen'd projection (the interpreted
    // HOF formulation measured 7.6x slower) and the (id, bucket)
    // aggregation is map-side combinable — a partial HashAggregate
    // below the exchange
    val plan = TextAnalysis.featureHash(df, "doc_id", "text", n)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("partial_sum"), plan)
    // wide vectors compute the same values — n=512 against the local
    // replay, including the empty document's zero vector
    val wide = TextAnalysis.featureHash(df, "doc_id", "text", 512)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    def local512(text: String): Seq[Long] = {
      val acc = Array.fill(512)(0L)
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(md5.take(15), 16)
        acc(((h >>> 1) % 512).toInt) += (if (h % 2 == 0) 1L else -1L)
      }
      acc.toSeq
    }
    assert(wide(1L) == local512("the quick brown fox the quick"))
    assert(wide(2L) == Seq.fill(512)(0L))
  }

  test("invertedIndex: maxDf caps stop-term postings; uncapped terms unchanged") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "the apple"), (2L, "the banana"), (3L, "the cherry"), (4L, "the date"))
      .toDF("doc_id", "text")
    val full = TextAnalysis.invertedIndex(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full("the") == 4L && full("apple") == 1L)
    val capped = TextAnalysis.invertedIndex(df, "doc_id", "text", maxDf = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!capped.contains("the")) // stop term dropped by the cap
    assert(capped("apple") == 1L && capped.size == 4)
  }

  test("linear model: normal equations partitioning-invariant; ridge fit recovers a planted lexical rule") {
    import graft.ops.{LinearModel, TextAnalysis}
    val rnd = new scala.util.Random(5)
    val fillers = Array("lorem", "ipsum", "dolor", "sit", "amet", "sed", "eiusmod")
    def sentence() = Seq.fill(6)(fillers(rnd.nextInt(fillers.length))).mkString(" ")
    // planted rule: documents containing "qualitymarker" are positive
    val rows = (1 to 400).map { i =>
      val pos = i % 2 == 0
      val text = if (pos) sentence() + " qualitymarker " + sentence()
                 else sentence() + " " + sentence()
      (i.toLong, text, if (pos) 1L else 0L)
    }
    val df = rows.toDF("doc_id", "text", "y")
    val feats = TextAnalysis.featureHash(df, "doc_id", "text", 32)
      .join(df.select("doc_id", "y"), "doc_id")
    // the distributed sums are a pure function of the data
    val ne = LinearModel.normalEquations(feats, "features", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ne2 = LinearModel.normalEquations(feats.repartition(13), "features", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ne == ne2)
    // G is symmetric
    ne.foreach { case ((i, j), s) => if (j >= 0) assert(ne((j, i)) == s) }
    // the ridge fit separates the planted classes. The model has no
    // intercept (hashed features only), so threshold at the midpoint of
    // the class score means rather than 0.5
    val w = LinearModel.fitRidge(feats, "features", "y")
    assert(w.length == 32)
    val scored = feats.select(col("y"),
      LinearModel.score(col("features"), w).as("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val posMean = scored.filter(_._1 == 1L).map(_._2).sum / scored.count(_._1 == 1L)
    val negMean = scored.filter(_._1 == 0L).map(_._2).sum / scored.count(_._1 == 0L)
    assert(posMean > negMean, s"no separation: $posMean vs $negMean")
    val thr = (posMean + negMean) / 2
    val acc = scored.count { case (y, s) => (s > thr) == (y == 1L) }.toDouble / scored.length
    assert(acc > 0.95, s"accuracy $acc (threshold $thr)")
  }

  test("chunkDocuments: overlap boundaries exact, every token covered, short docs one chunk, empty dropped") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks, chunk 4 stride 2
      (2L, "a b"),                                    // shorter than one chunk
      (3L, "   ")).toDF("doc_id", "text")             // empty after filter
    val got = TextAnalysis.chunkDocuments(df, "doc_id", "text", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // starts 0,2,4,6,8; the last two truncate
    assert(d1.map(_._3).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L, 4L, 2L))
    assert(d1.head._5 == "t1 t2 t3 t4")
    assert(d1.last._5 == "t9 t10")
    // every token appears in at least one chunk
    val covered = d1.flatMap(c => c._5.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    val d2 = got.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._5 == "a b" && d2.head._4 == 2L)
    assert(!got.exists(_._1 == 3L))
  }

  test("encodeTokenIds: frequency-ranked vocab, lexicographic ties, OOV = -1, partitioning-invariant") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "b b b a a c"),
      (2L, "a a b rare")).toDF("doc_id", "text")
    // counts: a=4, b=4, c=1, rare=1 -> vocab(3): a=0, b=1, c=2; rare OOV
    val got = TextAnalysis.encodeTokenIds(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 0L)) == 1L && got((1L, 3L)) == 0L && got((1L, 5L)) == 2L)
    assert(got((2L, 3L)) == -1L) // "rare" is OOV
    val again = TextAnalysis.encodeTokenIds(df.repartition(7), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == got)
  }

  test("applyChanges: upserts replace or insert, deletes drop, untouched rows survive, delete-of-missing is a no-op") {
    import graft.ops.SnapshotDiff
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "payload", "v")
    val changes = Seq(
      (2L, "upsert", "b2", 21L),  // replace
      (4L, "upsert", "d", 40L),   // insert unseen id
      (3L, "delete", "", 0L),     // drop existing
      (9L, "delete", "", 0L))     // delete of missing id: no-op
      .toDF("id", "op", "payload", "v")
    val got = SnapshotDiff.applyChanges(base, changes, "id", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (2L, "b2", 21L), (4L, "d", 40L)))
    // idempotent re-apply of the same changeset
    val again = SnapshotDiff.applyChanges(
      SnapshotDiff.applyChanges(base, changes, "id", "op"), changes, "id", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(again == got)
  }

  test("pageRank: integer power iteration matches a local reference; partitioning-invariant; dangling mass vanishes") {
    import graft.ops.Graph
    // a small weighted digraph with a dangling node (4 has no out-edges)
    val edgeList = Seq(
      (1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L), (3L, 1L, 1L),
      (3L, 4L, 3L), (2L, 4L, 1L))
    val edges = edgeList.toDF("src", "dst", "w")
    val iters = 4
    val got = Graph.pageRank(edges, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local reference with the identical integer arithmetic
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    val outW = edgeList.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = edgeList
        .map { case (s, t, w) => t -> (rank(s) * w) / outW(s) }
        .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).sum }
      rank = nodes.map(n =>
        n -> (150000L + 850000L * contrib.getOrElse(n, 0L) / 1000000L)).toMap
    }
    assert(got == rank)
    // node 4 only absorbs: it must outrank its sources' floor but emit nothing
    assert(got(4L) > 150000L)
    // pure function of the edge multiset: partitioning changes nothing
    val again = Graph.pageRank(edges.repartition(7, col("dst")), iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("hash split: exhaustive, disjoint, partitioning-invariant, weight-proportional") {
    val n = docs.count()
    val split = graft.ops.Sampling.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == n) // every row in exactly one band
    assert(counts.keySet.subsetOf(Set(0, 1, 2)))
    assert(counts(0) > n * 6 / 10, s"train band too small: $counts")
    // membership is a pure function of the key: repartitioning changes nothing
    val a = split.select("doc_id", "split").collect().map(_.toString).sorted
    val b = graft.ops.Sampling.hashSplit(docs.repartition(13), "doc_id", Seq(0.8, 0.1, 0.1))
      .select("doc_id", "split").collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
    // deterministicSample(f) is exactly band [0, f) of the same hash cell
    val sampled = graft.ops.Sampling.deterministicSample(docs, "doc_id", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val band0 = split.filter($"split" === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sampled == band0)
  }

  test("priority sample: top-k by exact integer priorities, weight-sensitive, partitioning-invariant, bounded plan") {
    import graft.ops.Sampling
    val weighted = docs.select($"doc_id", greatest($"n_chars", lit(1L)).as("w"))
    val k = 20
    val got = Sampling.prioritySample(weighted, "doc_id", "w", k)
    // brute force the same integer arithmetic locally
    val expected = weighted.select($"doc_id", $"w",
      xxhash64($"doc_id", lit(42L)).as("h")).collect()
      .map { r =>
        val u = (r.getLong(2) >>> 24) + 1
        (r.getLong(0), (r.getLong(1) * (1L << 40)) / u)
      }
      .sortBy { case (id, p) => (-p, id) }.take(k).map(_._1).toSeq
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted ==
      expected.sorted)
    // deterministic under repartitioning
    val again = Sampling.prioritySample(weighted.repartition(13), "doc_id", "w", k)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(again == expected.sorted)
    // weights matter: the all-equal-weight sample differs (hash order only)
    val unweighted = Sampling.prioritySample(
      weighted.withColumn("w", lit(1L)), "doc_id", "w", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(unweighted != expected.toSet)
    // the global top-k is a bounded TakeOrderedAndProject, not a full sort
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("group hash split: every row of a group lands in one split; groups spread across splits") {
    import graft.ops.Sampling
    val withSrc = docs.withColumn("src_id", expr("CAST(substr(source, 4) AS BIGINT)"))
    val split = Sampling.groupHashSplit(withSrc, "src_id", Seq(0.8, 0.1, 0.1))
    // leakage-safety invariant: one distinct split per source
    val perGroup = split.groupBy("src_id")
      .agg(countDistinct("split").as("nsplits"))
      .collect().map(_.getLong(1))
    assert(perGroup.forall(_ == 1L))
    // and the assignment equals row-level hashSplit keyed on the group id
    val viaRow = Sampling.hashSplit(withSrc, "src_id", Seq(0.8, 0.1, 0.1))
      .select("doc_id", "split").collect().map(_.toString).sorted
    assert(split.select("doc_id", "split").collect().map(_.toString).sorted.toSeq
      == viaRow.toSeq)
  }

  test("stratified fixed-k: exactly k per stratum, partitioning-invariant") {
    val perLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = 7
    val sampled = graft.ops.Sampling.stratifiedFixedK(docs, "doc_id", "lang", k)
    val counts = sampled.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      assert(counts(lang) == math.min(k.toLong, n), s"$lang: ${counts.get(lang)}")
    }
    val a = sampled.select("doc_id").collect().map(_.getLong(0)).sorted
    val b = graft.ops.Sampling.stratifiedFixedK(docs.repartition(11), "doc_id", "lang", k)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("source remix hits the target mixture within hash jitter") {
    // 3 sources of different sizes; target 50/25/25. The binding sources
    // are b and c (500 rows each at 25% → T = 2000 total): b and c keep
    // everything (threshold 1e6), a keeps ~1000 of 4000 (threshold 250k)
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("src",
        when($"id" < 4000, "a").when($"id" < 4500, "b").otherwise("c"))
    val out = graft.ops.Sampling.remixSources(df, "id", "src",
      Map("a" -> 500000L, "b" -> 250000L, "c" -> 250000L))
    val counts = out.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // T = min(4000/0.5, 500/0.25, 500/0.25) = 2000 →
    // targets: a 1000, b 500 (all), c 500 (all)
    assert(counts("b") == 500 && counts("c") == 500, counts.toString)
    assert(math.abs(counts("a") - 1000L) < 100, counts.toString) // hash jitter
    // dropped sources vanish
    val dropped = graft.ops.Sampling.remixSources(df, "id", "src",
      Map("a" -> 1000000L))
    assert(dropped.select("src").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("sequence packing: per-bucket streams are contiguous and chunk math holds") {
    val withToks = docs.select($"doc_id",
      (length($"text") - length(regexp_replace($"text", " ", "")) + 1)
        .cast("long").as("n_tokens"))
    val packed = graft.ops.Packing.packSequences(withToks, "doc_id", "n_tokens",
      maxTokens = 512, nBuckets = 4)
    assert(packed.count() == docs.count())
    val rows = packed.collect()
    rows.groupBy(_.getAs[Long]("bucket")).foreach { case (_, rs) =>
      // within a bucket the cumsum is a contiguous token stream
      val sorted = rs.sortBy(_.getAs[Long]("cum"))
      var prev = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("cum") == prev + r.getAs[Long]("toks"))
        assert(r.getAs[Long]("bin") == (r.getAs[Long]("cum") - r.getAs[Long]("toks")) / 512)
        assert(r.getAs[Long]("offset") == (r.getAs[Long]("cum") - r.getAs[Long]("toks")) % 512)
        prev = r.getAs[Long]("cum")
      }
    }
    // layout is partitioning-invariant (hash order, not input order)
    val again = graft.ops.Packing.packSequences(withToks.repartition(7), "doc_id",
      "n_tokens", maxTokens = 512, nBuckets = 4).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("categorical drift: statuses, floor-ppm shares, TV distance") {
    val a = Seq("x", "x", "x", "y").toDF("c")       // x 750000ppm, y 250000ppm
    val b = Seq("x", "y", "y", "z").toDF("c")       // x 250000, y 500000, z 250000
    val rep = graft.ops.Drift.categoricalDrift(a, b, "c").collect()
      .map(r => r.getAs[String]("category") ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("ppm_a"),
          r.getAs[Long]("ppm_b"), r.getAs[Long]("delta_ppm"),
          r.getAs[String]("status"))).toMap
    assert(rep("x") == ((3L, 1L, 750000L, 250000L, 500000L, "present")))
    assert(rep("y") == ((1L, 2L, 250000L, 500000L, 250000L, "present")))
    assert(rep("z") == ((0L, 1L, 0L, 250000L, 250000L, "appeared")))
    val sum = graft.ops.Drift.driftSummary(
      graft.ops.Drift.categoricalDrift(a, b, "c")).collect()(0)
    assert(sum.getAs[Long]("n_categories") == 3L)
    assert(sum.getAs[Long]("n_appeared") == 1L)
    assert(sum.getAs[Long]("n_vanished") == 0L)
    assert(sum.getAs[Long]("tv_ppm") == 500000L)    // (500k+250k+250k)/2
    // null categories count as "" instead of dropping rows
    val withNull = graft.ops.Drift.categoricalDrift(
      Seq(Some("x"), None).toDF("c"), Seq(Some("x")).toDF("c"), "c").collect()
    assert(withNull.exists(r => r.getAs[String]("category") == "" &&
      r.getAs[String]("status") == "vanished"))
  }

  test("cusum changepoint finds a planted mean shift, partitioning-invariant") {
    // 40 points at 10 then 60 at 50: the true split is after index 40
    val rows = (1 to 40).map(i => ("k", i.toLong, i.toLong, 10L)) ++
      (41 to 100).map(i => ("k", i.toLong, i.toLong, 50L))
    val df = rows.toDF("k", "ts", "id", "v")
    def cp(d: org.apache.spark.sql.DataFrame) =
      graft.ops.TimeSeries.cusumChangepoint(d, "k", col("ts"), col("id"),
        col("v")).collect()(0)
    val out = cp(df)
    assert(out.getAs[Long]("n") == 100L)
    assert(out.getAs[Long]("cp_idx") == 40L) // last row of the left regime
    assert(out.getAs[Long]("cp_ts") == 40L)
    assert(cp(df.repartition(7)).toString == out.toString)
  }

  test("numeric drift: integer bucket edges, out-of-range clamps to edge buckets") {
    val a = Seq(0L, 5L, 10L, 99L, -7L).toDF("v")    // -7 clamps to bucket 0
    val b = Seq(0L, 250L).toDF("v")                 // 250 clamps to bucket 9
    val rep = graft.ops.Drift.numericDrift(a, b, col("v"), 0L, 100L, 10)
      .collect().map(r => r.getAs[String]("category") ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))).toMap
    assert(rep("0") == ((3L, 1L)))  // 0, 5, and clamped -7
    assert(rep("1") == ((1L, 0L)))  // 10 -> bucket 1
    assert(rep("9") == ((1L, 1L)))  // 99 exact edge; 250 clamped
  }
}
