package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The r10 streaming near-dup INDEX (BandedIndexProcessor) against its
  * batch ground truth, plus the PinOracles registry invariants.
  */
class BandedIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("BandedIndexProcessor matches the batch min-earlier-partner ground truth at occupancy > 1") {
    TempDirs.withTempDirs { tmp =>
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
      val maxHamming = 3
      // 4000 signatures squeezed into 9 bits of entropy per band-relevant
      // space: occupancy >> 1 so the one-survivor design WOULD miss, and
      // this processor must not. Every 5th row re-arrives later with 1-3
      // bits flipped.
      val n = 4000L
      val base = spark.range(0, n).select(col("id"),
        (xxhash64(col("id")).bitwiseAND(lit(0x01ff01ff01ff01ffL))).as("sig"))
      val twins = spark.range(0, n).filter(col("id") % 5 === 0)
        .withColumn("a", pmod(col("id") * 11, lit(64L)))
        .withColumn("fl", expr("shiftleft(1L, CAST(a AS INT))")
          .bitwiseOR(when(pmod(col("id"), lit(3L)) >= 1,
            expr("shiftleft(1L, CAST((a + 21) % 64 AS INT))")).otherwise(lit(0L)))
          .bitwiseOR(when(pmod(col("id"), lit(3L)) >= 2,
            expr("shiftleft(1L, CAST((a + 43) % 64 AS INT))")).otherwise(lit(0L))))
        .select((col("id") + n).as("id"),
          (xxhash64(col("id")).bitwiseAND(lit(0x01ff01ff01ff01ffL)))
            .bitwiseXOR(col("fl")).as("sig"))
      val all = base.unionByName(twins)
        .select(col("id"), (col("id") * 1000L).as("ts"), col("sig"))
      // batch ground truth: min earlier id sharing >= 1 band bucket
      // within maxHamming (bandedHammingPairs gives symmetric a<b pairs)
      val pairs = graft.ops.Dedup.bandedHammingPairs(
        all.select(col("id"), col("sig")), "id", "sig", maxHamming)
      val want = all.select(col("id"))
        .join(pairs.groupBy(col("b").as("id"))
          .agg(min(col("a")).as("dup_of")), Seq("id"), "left")
        .select(col("id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // stream the same rows through the processor in id order (2 files)
      val streamDir = java.nio.file.Paths.get(tmp("bidx_spec"))
      graft.streaming.StreamFiles.writeOne(
        all.filter(col("id") < n), streamDir, "a_base")
      graft.streaming.StreamFiles.writeOne(
        all.filter(col("id") >= n), streamDir, "b_twins")
      val name = "bidx_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
      // transformWithState needs the RocksDB provider (multiple column
      // families); scope it to this query and restore after
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProv = spark.conf.getOption(provKey)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      val banded = spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
        .select(col("id"), col("ts"), col("sig"),
          explode(graft.ops.Dedup.streamBandKeys(col("sig"), maxHamming))
            .as("bkey"))
        .select(col("bkey"), col("ts"), col("id"), col("sig"))
        .as[(Long, Long, Long, Long)]
      val q = banded.groupByKey(_._1)
        .mapValues(r => (r._2, r._3, r._4))
        .transformWithState(new graft.streaming.BandedIndexProcessor(maxHamming),
          TimeMode.None(), OutputMode.Append(),
          implicitly[org.apache.spark.sql.Encoder[(Long, Long)]])
        .toDF("id", "cand")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally {
        oldProv match {
          case Some(p) => spark.conf.set(provKey, p)
          case None    => spark.conf.unset(provKey)
        }
      }
      val got = spark.table(name).groupBy("id")
        .agg(coalesce(min(when(col("cand") >= 0, col("cand"))), lit(-1L))
          .as("dup_of"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.catalog.dropTempView(name)
      assert(got.size == want.size)
      val diffs = want.collect { case (k, v) if got(k) != v => (k, v, got(k)) }
      assert(diffs.isEmpty, s"${diffs.size} mismatches, e.g. ${diffs.take(5)}")
      // sanity: the rig really has matches (occupancy high, twins found)
      assert(want.values.count(_ >= 0) > 500)
    }
  }

  test("BandedWindowIndexProcessor: window-exact attribution, independent of batch layout") {
    TempDirs.withTempDirs { tmp =>
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
      val maxHamming = 3
      val n = 2000L
      val w = 1200L // ordinal window
      // squeezed-entropy sigs (occupancy > 1) + twins at varying ordinal
      // separations, some inside and some beyond the window
      val base = spark.range(0, n).select(col("id"), col("id").as("ord"),
        (xxhash64(col("id")).bitwiseAND(lit(0x01ff01ff01ff01ffL))).as("sig"))
      val twins = spark.range(0, n).filter(col("id") % 5 === 0)
        .withColumn("a", pmod(col("id") * 11, lit(64L)))
        .withColumn("fl", expr("shiftleft(1L, CAST(a AS INT))"))
        .select((col("id") + n).as("id"),
          (lit(n) + pmod(col("id"), lit(400L)) * 3L).as("ord"),
          (xxhash64(col("id")).bitwiseAND(lit(0x01ff01ff01ff01ffL)))
            .bitwiseXOR(col("fl")).as("sig"))
      val all = base.unionByName(twins).select(col("id"), col("ord"), col("sig"))
      val rows = all.collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
        .sortBy(r => (r._1, r._2))
      // brute-force windowed ground truth
      def bandKeys(sig: Long): Seq[Long] =
        (0 until 4).map(b => (b.toLong << 16) | ((sig >>> (16 * b)) & 0xffffL))
      val want = rows.map { case (ord, id, sig) =>
        val ks = bandKeys(sig).toSet
        var best = -1L
        rows.foreach { case (o2, i2, s2) =>
          if ((o2 < ord || (o2 == ord && i2 < id)) && o2 >= ord - w &&
            java.lang.Long.bitCount(sig ^ s2) <= maxHamming &&
            bandKeys(s2).exists(ks.contains) && (best < 0 || i2 < best)) best = i2
        }
        id -> best
      }.toMap
      assert(want.values.count(_ >= 0) > 50, "rig must plant matches")
      assert(twins.count() > want.keys.count(k => k >= n && want(k) >= 0),
        "rig must plant expiries (some twins beyond the window)")

      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProv = spark.conf.getOption(provKey)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      def run(splits: Seq[(String, Long, Long)]): Map[Long, Long] = {
        val streamDir = java.nio.file.Paths.get(tmp("bwidx_spec"))
        splits.foreach { case (sub, lo, hi) =>
          graft.streaming.StreamFiles.writeOne(
            all.filter(col("ord") >= lo && col("ord") < hi), streamDir, sub)
        }
        val name = "bwidx_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val banded = spark.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
          .select(col("id"), col("ord"), col("sig"),
            explode(graft.ops.Dedup.streamBandKeys(col("sig"), maxHamming))
              .as("bkey"))
          .select(col("bkey"), col("ord"), col("id"), col("sig"))
          .as[(Long, Long, Long, Long)]
        val q = banded.groupByKey(_._1)
          .mapValues(r => (r._2, r._3, r._4))
          .transformWithState(
            new graft.streaming.BandedWindowIndexProcessor(maxHamming, w),
            TimeMode.None(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long)]])
          .toDF("id", "cand")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val got = spark.table(name).groupBy("id")
          .agg(coalesce(min(when(col("cand") >= 0, col("cand"))), lit(-1L))
            .as("dup_of"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        spark.catalog.dropTempView(name)
        got
      }
      try {
        // two batches vs five: ordinal-monotone layouts must agree with
        // the ground truth AND each other (batch-boundary independence)
        val big = n + 1300L
        val got2 = run(Seq(("a", 0L, n), ("b", n, big)))
        val got5 = run(Seq(("a", 0L, 500L), ("b", 500L, 1200L),
          ("c", 1200L, n), ("d", n, n + 600L), ("e", n + 600L, big)))
        assert(got2.size == want.size)
        val diffs = want.collect { case (k, v) if got2(k) != v => (k, v, got2(k)) }
        assert(diffs.isEmpty, s"${diffs.size} mismatches, e.g. ${diffs.take(5)}")
        assert(got5 == got2, "output depended on batch layout")
      } finally {
        oldProv match {
          case Some(p) => spark.conf.set(provKey, p)
          case None    => spark.conf.unset(provKey)
        }
      }
    }
  }

  test("PinOracles registry and CapturePins stay in lockstep") {
    // every pinned name has a captured oracle and is a registered query
    val pinned = graft.tools.CapturePins.pinned.toSet
    assert(graft.queries.PinOracles.sql.keySet == pinned,
      "regenerate PinOracles with runMain graft.tools.CapturePins")
    val registered = SparkEntry.queries.keySet
    assert(pinned.subsetOf(registered))
    // and the pins ARE wired: each pinned query's oracle is the pin
    pinned.foreach { n =>
      assert(SparkEntry.oracleSql(n) == graft.queries.PinOracles.sql(n), n)
    }
  }
}
