package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Barrier

/** Deterministic corpus sampling for training-data curation.
  *
  * Both operators decide per row from `xxhash64(id, seed)` — no RNG
  * state, no shuffle, no driver coordination. At 100 TB that is the only
  * sampling that behaves: every executor decides its own rows from the
  * key alone, the result is reproducible under any partitioning or AQE
  * re-plan, rerunning with the same seed yields the same subset
  * (incremental pipelines can re-derive rather than store it), and
  * splits built from disjoint hash ranges are provably non-overlapping —
  * unlike `df.sample`, whose per-partition RNG streams reshuffle
  * membership whenever partitioning changes.
  */
object Sampling {

  private val Resolution = 1000000L

  private def cell(df: DataFrame, idCol: String, seed: Long): Column =
    pmod(xxhash64(df(idCol), lit(seed)), lit(Resolution))

  /** Keep ~`fraction` of rows: hash cell below the fraction threshold.
    * Complementary fractions partition the corpus exactly:
    * `deterministicSample(df, id, 0.9, s)` and the 0.9-to-1.0 band from
    * `hashSplit` never overlap and jointly cover.
    */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
      seed: Long = 42L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction")
    df.filter(cell(df, idCol, seed) < (fraction * Resolution).toLong)
  }

  /** Exactly-k-per-stratum deterministic sample (balanced class
    * sampling): rank rows within each stratum by their key hash and keep
    * the first k. Order is a pure function of (id, seed), so the sample
    * is reproducible and partitioning-invariant. The stratum shuffles
    * once (keyed window); when k is tiny against a massive stratum,
    * pre-filter with `deterministicSample` at a safe multiple of
    * k/|stratum| first so only a sliver reaches the sort.
    */
  def stratifiedFixedK(df: DataFrame, idCol: String, stratumCol: String,
      k: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** Rebalance a multi-source corpus to target mixture proportions (the
    * data-mixing step of a pretraining pipeline): downsample every
    * source so the kept rows follow `sharesPpm` (parts-per-million per
    * source), keeping as much data as the binding source allows.
    *
    * All arithmetic is integer (T = min over sources of cnt*1M div
    * share; per-source keep threshold = T*share div cnt), and membership
    * is the usual hash cell — deterministic, partitioning-invariant, and
    * reproducible in plain SQL. Fully distributed: one map-side
    * combinable count per source, a broadcast of the tiny threshold
    * table, and a partition-local filter; no driver-side loops. Sources
    * absent from `sharesPpm` are dropped.
    */
  def remixSources(df: DataFrame, idCol: String, sourceCol: String,
      sharesPpm: Map[String, Long], seed: Long = 42L): DataFrame = {
    require(sharesPpm.nonEmpty && sharesPpm.values.forall(_ > 0),
      "sharesPpm must be positive")
    val share = sharesPpm.foldLeft(lit(null).cast("long")) {
      case (acc, (s, ppm)) => when(col(sourceCol) === s, ppm).otherwise(acc)
    }
    val counts = df.groupBy(sourceCol)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("share_ppm", share)
      .filter(col("share_ppm").isNotNull)
    // the largest kept total T such that every source can still supply
    // its share: the binding source is the one that runs out first. T is
    // a global min over the per-source counts — an unpartitioned window
    // over a frame that is dimension-sized BY CONSTRUCTION (one row per
    // source), so the single-partition window is a non-issue and the
    // plan stays free of nested-loop joins
    val thr = counts
      .withColumn("t", min(expr(s"cnt * ${Resolution} div share_ppm"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("thr", expr(s"t * share_ppm div cnt"))
      .select(col(sourceCol), col("thr"))
    df.join(broadcast(thr), sourceCol)
      .filter(cell(df, idCol, seed) < col("thr"))
      .drop("thr")
  }

  /** Token-budget source mixing: the training-data composition step
    * that [[remixSources]]'s count-based form approximates — hit a
    * TOTAL cost budget (tokens, chars, bytes) with per-source shares
    * proportional to integer `weights`, by accepting each source's rows
    * at rate min(1, budget·w_s/(ΣW·cost_s)). Oversubscribed sources are
    * thinned; sources whose full cost fits under their share pass
    * whole (rate capped at 1). Expected kept cost per source is then
    * budget·w_s/ΣW, summing to ≤ budget with equality when every source
    * saturates.
    *
    * All threshold math is INTEGER (ppm, `div`), membership is the
    * deterministic hash cell — reproducible under any partitioning and
    * replayed exactly in SQL (q80), like the rest of this module. Scale
    * shape: one map-side-combinable per-source cost sum (dimension-
    * sized), a broadcast of the tiny threshold table, a partition-local
    * filter. Overflow envelope under ANSI arithmetic:
    * budget·max(w)·10⁶ must stay below 2⁶³ (≈ 9·10¹² budget units at
    * w = 1000) — rescale weights or budget units above that.
    *
    * Appends (`thr_ppm`, `u_ppm`, `keep`); rows from sources absent in
    * `weights` are dropped. Filter on `keep` for the mixed corpus; keep
    * the decision rows for audit.
    */
  def budgetMix(df: DataFrame, idCol: String, sourceCol: String,
      costCol: String, weights: Map[String, Long], budget: Long,
      seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    require(budget > 0, s"budget must be positive: $budget")
    val wSum = weights.values.sum
    val wCol = weights.foldLeft(lit(null).cast("long")) {
      case (acc, (s, w)) => when(col(sourceCol) === s, w).otherwise(acc)
    }
    val thr = df.groupBy(sourceCol)
      .agg(sum(col(costCol).cast("long")).as("toks"))
      .withColumn("w", wCol)
      .filter(col("w").isNotNull)
      .withColumn("thr_ppm", least(lit(Resolution),
        expr(s"$budget * w * $Resolution div ($wSum * toks)")))
      .select(col(sourceCol), col("thr_ppm"))
    df.join(broadcast(thr), sourceCol)
      .withColumn("u_ppm", cell(df, idCol, seed))
      .withColumn("keep", col("u_ppm") < col("thr_ppm"))
  }

  /** Quality-bucket downsampling (the CCNet move: bucket documents by a
    * quality score, keep low-quality buckets at a reduced rate). Buckets
    * are GLOBAL k-quantile bands of the integer score, computed WITHOUT
    * sorting the corpus: one map-side-combinable histogram over the
    * score (distinct integer scores are bounded — milli-nat sums of
    * bounded-length docs — so the cumulative window runs over a
    * dimension-sized table, not the data), cut j = smallest score whose
    * cumulative count reaches (j+1)/k of the corpus. Membership within a
    * bucket is the usual deterministic hash cell, so the kept set is
    * reproducible under any partitioning and exactly reproducible in
    * SQL.
    *
    * `keepPerMille(j)` is the keep rate of bucket j (0 = lowest
    * quality); its length fixes the bucket count. Appends `bucket` and
    * `kept` (int 0/1) columns.
    */
  def qualityBucketSample(df: DataFrame, idCol: String, scoreCol: String,
      keepPerMille: Seq[Long], seed: Long = 42L): DataFrame = {
    val nb = keepPerMille.length
    require(nb >= 1 && keepPerMille.forall(p => p >= 0 && p <= 1000),
      s"keepPerMille must be rates in [0, 1000]: $keepPerMille")
    val w = org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(col(scoreCol).as("__s")).agg(count(lit(1)).as("__c"))
    val cum = hist
      .withColumn("__cum", sum("__c").over(w.partitionBy().orderBy("__s")))
      .withColumn("__n", sum("__c").over(w.partitionBy()))
    val cutCols = (0 until nb - 1).map(j =>
      min(when(col("__cum") * nb >= col("__n") * (j + 1), col("__s"))).as(s"__t$j"))
    // BOUNDED collect: exactly one row of k-1 integers — quantile-cut
    // metadata, constant in corpus size (a constant-key broadcast join
    // would constant-fold into a nested loop; inlining the literals
    // keeps the main scan join-free entirely)
    val cuts: Seq[Long] =
      if (nb == 1) Seq.empty
      else {
        val r = cum.agg(cutCols.head, cutCols.tail: _*).collect()(0)
        if (r.anyNull) Seq.empty // empty input: no rows get tagged anyway
        else (0 until nb - 1).map(j => r.get(j).asInstanceOf[Number].longValue)
      }
    val bucket = cuts.zipWithIndex.reverse.foldLeft(lit(nb - 1): Column) {
      case (acc, (t, j)) => when(col(scoreCol) <= t, j).otherwise(acc)
    }
    val thr = keepPerMille.zipWithIndex.reverse
      .foldLeft(lit(keepPerMille.last * 1000): Column) {
        case (acc, (p, j)) => when(col("__bucket") === j, p * 1000).otherwise(acc)
      }
    df.withColumn("__bucket", bucket.cast("int"))
      .withColumn("kept",
        (pmod(xxhash64(col(idCol), lit(seed)), lit(Resolution)) < thr).cast("int"))
      .withColumnRenamed("__bucket", "bucket")
  }

  /** Deterministic global shuffle + sharding for training-data
    * serialization: shard = hash band, within-shard position = rank of
    * the key hash. The order is a pure function of (id, seed) — the
    * "shuffled" dataset is reproducible, resumable, and identical under
    * any partitioning, unlike an RNG orderBy(rand). Scale shape: NO
    * global sort — each shard sorts independently under a keyed window
    * (shards are the parallel unit; pick nShards >> executors).
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
      nShards: Int, seed: Long = 42L): DataFrame = {
    require(nShards >= 1, s"nShards must be positive: $nShards")
    val h = xxhash64(col(idCol), lit(seed))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(h, col(idCol))
    df.withColumn("shard", pmod(h, lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Assign every row a split index 0..k-1 by cumulative weight bands
    * over the same hash cell (train/val/test splits). Bands are
    * half-open and exhaustive, so each row lands in exactly one split.
    */
  def hashSplit(df: DataFrame, idCol: String, weights: Seq[Double],
      seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
    val total = weights.sum
    val cuts = weights.scanLeft(0.0)(_ + _).tail.init // k-1 upper bounds
      .map(c => (c / total * Resolution).toLong)
    val c = cell(df, idCol, seed)
    val split = cuts.zipWithIndex.reverse.foldLeft(lit(weights.length - 1): Column) {
      case (acc, (cut, i)) => when(c < cut, i).otherwise(acc)
    }
    df.withColumn("split", split.cast("int"))
  }

  /** [[hashSplit]] keyed on a GROUP column instead of the row id: every
    * row of a group lands in the same split. This is the leakage-safe
    * form — near-duplicate documents cluster within a crawl domain /
    * source, so row-level splitting puts one copy in train and its twin
    * in test; keying the hash on the group keeps whole sources together
    * (the standard contamination-prevention move for eval splits).
    * Same integer-cell arithmetic, so assignments are deterministic,
    * partitioning-invariant, and exactly replayable in SQL.
    */
  def groupHashSplit(df: DataFrame, groupCol: String, weights: Seq[Double],
      seed: Long = 42L): DataFrame =
    hashSplit(df, groupCol, weights, seed)

  /** Weighted sample of k rows without replacement — priority sampling
    * (Duffield–Lund–Thorup) with hash-derived randomness: row i draws
    * u_i = (unsigned64(xxhash64(id, seed)) >> 24) + 1  ∈ [1, 2^40]
    * (a fixed-point stand-in for uniform(0,1]) and gets priority
    * (w_i << 40) div u_i; the k highest priorities win, ties broken by
    * id. Heavier rows draw proportionally larger priorities, giving
    * inclusion probability ≈ min(1, w_i/τ) for the k-th priority
    * threshold τ — the property that makes priority samples usable for
    * downstream weighted estimates.
    *
    * All arithmetic is 64-bit integer (weights must be in [1, 2^23] so
    * the shifted product stays inside a signed long — callers clamp),
    * so the selection is deterministic, partitioning-invariant, and
    * bit-replayable in SQL (the q85 oracle). The global top-k compiles
    * to TakeOrderedAndProject: each partition keeps its own k rows and
    * the driver merges bounded lists — no full sort, no full shuffle,
    * the same plan shape at 100 TB.
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val h = xxhash64(col(idCol), lit(seed))
    val u = shiftrightunsigned(h, 24) + lit(1L) // [1, 2^40]
    val prio = expr(s"(CAST($weightCol AS BIGINT) * 1099511627776) div __u")
    df.withColumn("__u", u)
      .withColumn("priority", prio)
      .orderBy(col("priority").desc, col(idCol))
      .limit(k)
      .withColumnRenamed("__u", "u")
  }

  /** Byte-balanced shard assignment — equal-SIZE training shards from
    * wildly varying document lengths. [[deterministicShuffle]] balances
    * row COUNTS (equal expected bytes only by law of large numbers); a
    * training-data writer wants each output file within one document of
    * the byte target, which takes a greedy prefix-sum pack: lay the
    * corpus on a deterministic line (bucket = id mod nBuckets, ordered
    * by id within bucket), take the running byte total, and cut every
    * `targetBytes`. shard = exclusive-prefix-bytes div target, so a
    * shard's size is within max(doc bytes) of the target.
    *
    * Scale shape (the two-phase prefix sum): per-bucket byte totals to
    * the driver — nBuckets longs, dimension-sized — become literal
    * bucket offsets; the corpus-side cumsum is a window WITHIN each
    * bucket (parallel across buckets, one shuffle, no global sort).
    * All-integer arithmetic, partitioning-invariant, exactly replayable
    * in SQL. For randomized shard contents, compose with
    * [[deterministicShuffle]]'s hash as the id first.
    */
  def byteBalancedShards(df: DataFrame, idCol: String, bytesCol: Column,
      targetBytes: Long, nBuckets: Int = 256): DataFrame = {
    require(targetBytes >= 1, s"targetBytes must be positive: $targetBytes")
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    Barrier.scoped { scope =>
      // persist: phase 1 (totals collect) and phase 2 (the window plan)
      // both consume this frame — without the barrier an expensive
      // upstream lineage would be recomputed twice
      val bucketed = scope.persist(df
        .withColumn("__bytes", bytesCol.cast("long"))
        .withColumn("__b", pmod(col(idCol).cast("long"), lit(nBuckets.toLong)).cast("int")))
      // phase 1: BOUNDED collect — nBuckets totals, never corpus rows. The
      // same job counts null ids/bytes: a null id has no bucket and a null
      // size breaks the cumulative line, so both are hard errors HERE
      // rather than silent NULL shards downstream.
      val agg = bucketed.groupBy("__b").agg(sum("__bytes").as("t"),
        sum(when(col("__bytes").isNull, 1L).otherwise(0L)).as("nulls"))
        .collect()
      val badBytes = agg.map(_.getLong(2)).sum
      val nullIds = agg.filter(_.isNullAt(0))
      require(badBytes == 0, s"byteBalancedShards: $badBytes rows with null " +
        "bytes (coalesce the size column first)")
      require(nullIds.isEmpty, s"byteBalancedShards: rows with null $idCol")
      val totals = agg.map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets = (0 until nBuckets)
        .scanLeft(0L)((acc, b) => acc + totals.getOrElse(b, 0L)).init
      // phase 2: within-bucket exclusive prefix + the bucket's offset
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__b").orderBy(col(idCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Barrier.cut(bucketed
        .withColumn("__cum",
          sum(col("__bytes")).over(w) - col("__bytes") +
            element_at(array(offsets.map(lit): _*), col("__b") + 1))
        .withColumn("shard", expr(s"__cum div ${targetBytes}L"))
        .select(col(idCol), col("__bytes").as("bytes"), col("shard")))
    }
  }
}
