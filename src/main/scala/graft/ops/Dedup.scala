package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.runtime.Barrier

/** Deduplication operators for training-data pipelines, each written for
  * the 100 TB shape:
  *
  *   - exact dedup = one hash-shuffle with map-side combine;
  *   - MinHash-LSH = signatures computed scan-side in pure codegen'd
  *     column expressions (no UDF), then a band-bucket join — candidate
  *     pairs only materialize inside buckets, never all-pairs;
  *   - SimHash = 64-bit signatures + banded prefix buckets;
  *   - embedding near-dup = signed-random-projection buckets + cosine
  *     verification inside buckets.
  */
object Dedup {

  /** Exact dedup: keep the lowest `idCol` per normalized-content hash.
    * Equivalent reference-free SQL: row_number over fingerprint. The
    * shuffle key is the 128-bit md5, so skew is impossible unless the
    * corpus is one giant duplicate class.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // trim + collapse: leading/trailing whitespace (trailing newlines are
    // near-universal in text files) must not defeat exact dedup
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup with a QUALITY survivor policy: within each
    * normalized-content class keep the row maximizing `scoreCol`
    * (min-`idCol` tiebreak) instead of [[exact]]'s keep-lowest-id. The
    * standard curation refinement — when a document was crawled many
    * times, keep the longest / highest-quality capture, not the
    * earliest. Emits every row with its class survivor:
    * (idCol, survivor_id, is_survivor) — a decision table, so callers
    * can either filter survivors or audit what was dropped. Same
    * md5-keyed single shuffle as [[exact]].
    */
  def exactBestSurvivor(df: DataFrame, textCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(col("__fp"))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("__fp", fp)
      .withColumn("__surv", first(col(idCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(idCol), col("__surv").as("survivor_id"),
        (col(idCol) === col("__surv")).as("is_survivor"))
  }

  /** Incremental-ingest dedup: classify a NEW batch of documents
    * against the fingerprints of everything already ingested. Output is
    * one row per batch document with a decision:
    *   - `dup_history`  — fingerprint already in the historical index
    *   - `dup_batch`    — first seen in THIS batch under a lower id
    *   - `keep`         — novel; its fingerprint joins the index next
    *
    * This is the production crawl loop (CCNet-style): the corpus is
    * deduplicated batch-by-batch, never re-scanned. At 100 TB the
    * historical index dwarfs every batch, so the join must not
    * reshuffle history per batch — persist it bucketed by `fp`
    * ([[Bucketing.writeBucketed]]) and only the batch side exchanges;
    * the decision itself is one keyed window over the batch plus one
    * left-semi-shaped join against the index. History rows are never
    * projected beyond `fp` (column pruning reaches the index scan).
    */
  def incrementalDecision(batch: DataFrame, idCol: String, textCol: String,
      historyFps: DataFrame): DataFrame = {
    // shared normalized fingerprint (TextAnalysis.fingerprint) — MUST
    // match exact()/exactBestSurvivor so a history index built by either
    // classifies whitespace-padded re-crawls as dup_history, not keep
    val fp = TextAnalysis.fingerprint(col(textCol))
    val fps = batch.select(col(idCol), fp.as("fp"))
    val inHist = historyFps.select(col("fp"), lit(1).as("__h")).distinct()
    val w = Window.partitionBy("fp").orderBy(col(idCol))
    fps.join(inHist, Seq("fp"), "left")
      .withColumn("__rn", row_number().over(w))
      .select(col(idCol), col("fp"),
        when(col("__h").isNotNull, lit("dup_history"))
          .when(col("__rn") > 1, lit("dup_batch"))
          .otherwise(lit("keep")).as("decision"))
  }

  /** [[incrementalDecision]] with a broadcast Bloom prefilter over the
    * historical index — the composition that keeps the crawl loop
    * scan-side at 100 TB history: the m-bit filter ([[Bloom]]) rides to
    * every executor at FIXED size, and only batch rows whose
    * fingerprint the filter admits (true history dups plus the ~FP%
    * band) reach the history equi-join at all. Bloom false positives
    * are re-checked by that exact join, so the decisions are IDENTICAL
    * to the unfiltered form (OpsSpec pins the equality); false
    * negatives cannot exist, so no history dup is ever missed. The
    * history side still builds its filter in one m/64-word bit_or
    * aggregation — the batch is never shuffled for rows the filter
    * rejects, which at steady state is almost all of them.
    */
  def incrementalDecisionBloom(batch: DataFrame, idCol: String, textCol: String,
      historyFps: DataFrame, mBits: Int = 1 << 20, kHashes: Int = 5): DataFrame = {
    val bits = Bloom.buildBits(
      historyFps.withColumn("__fph", xxhash64(col("fp"))), "__fph", mBits, kHashes)
    val fps = batch.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .withColumn("__fph", xxhash64(col("fp")))
    val screened = Bloom.decisions(fps, "__fph", bits, mBits, kHashes)
    // rows the filter rejects are PROVABLY not in history: they only
    // need the within-batch keep-first window, not the history join
    val maybe = screened.filter(col("bloom_hit"))
    val inHist = historyFps.select(col("fp"), lit(1).as("__h")).distinct()
    val confirmed = maybe.join(inHist, Seq("fp"), "left")
    val rest = screened.filter(!col("bloom_hit")).withColumn("__h", lit(null).cast("int"))
    val w = Window.partitionBy("fp").orderBy(col(idCol))
    confirmed.select(col(idCol), col("fp"), col("__h"))
      .unionByName(rest.select(col(idCol), col("fp"), col("__h")))
      .withColumn("__rn", row_number().over(w))
      .select(col(idCol), col("fp"),
        when(col("__h").isNotNull, lit("dup_history"))
          .when(col("__rn") > 1, lit("dup_batch"))
          .otherwise(lit("keep")).as("decision"))
  }

  /** Word n-gram shingle set over an ALREADY-MATERIALIZED token-array
    * column. The tokens must be an attribute (not an inline split):
    * Catalyst does not common-subexpression-eliminate inside lambda
    * bodies, so an inline `split()` would be re-evaluated for every
    * `element_at` — n+1 regex splits of the whole text per shingle, a
    * quadratic blowup measured at ~90 ms/doc before the fix.
    */
  def shinglesFromTokens(tokens: Column, n: Int): Column =
    // guard < n tokens: sequence(1, 0) is DESCENDING [1, 0] in Spark, and
    // element_at past the end throws under ANSI mode
    when(size(tokens) >= n,
      array_distinct(transform(
        sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(tokens, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingle set as an array column (distinct). Only safe
    * for one-shot use — see shinglesFromTokens for the hot path.
    */
  def shingles(textCol: Column, n: Int): Column =
    shinglesFromTokens(split(lower(textCol), "\\s+"), n)

  /** Estimated LSH capture probability for a pair at similarity `j`
    * under (bands, rowsPerBand) banding: 1 - (1 - j^r)^b.
    */
  def lshCaptureProb(j: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), bands)

  /** Derive (bands, rowsPerBand) from the Jaccard threshold: among the
    * divisor pairs of `numHashes`, take the MOST SELECTIVE banding (the
    * steepest s-curve / largest midpoint) that still captures pairs AT
    * the threshold with probability >= `captureFloor`. A fixed banding
    * ignores the threshold: 16 bands x 4 rows has its s-curve midpoint at
    * j ~= 0.5, so it captures ~50% of barely-qualifying pairs at
    * threshold 0.5 and nearly none at 0.2 — silently wrong results, and
    * at low thresholds the opposite failure (a too-permissive banding
    * admits close to all pairs, the candidate-set scale-killer at 100 TB).
    * Thresholds so low that even single-row bands can't reach the floor
    * are rejected loudly rather than returning a recall the caller didn't
    * ask for.
    */
  def chooseBanding(numHashes: Int, threshold: Double,
      captureFloor: Double = 0.9): (Int, Int) = {
    require(threshold > 0 && threshold <= 1, s"threshold $threshold not in (0, 1]")
    val divisorPairs = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b)) // (bands, rowsPerBand)
    val viable = divisorPairs.filter { case (b, r) =>
      lshCaptureProb(threshold, b, r) >= captureFloor
    }
    require(viable.nonEmpty,
      f"threshold $threshold%.3f is below the capture floor of $numHashes-hash " +
        f"LSH (best capture ${divisorPairs.map { case (b, r) => lshCaptureProb(threshold, b, r) }.max}%.3f " +
        f"< $captureFloor%.2f) — raise the threshold, add hashes, or lower captureFloor")
    // most selective viable banding = fewest bands (longest rows-per-band)
    viable.minBy(_._1)
  }

  /** LSH candidate pairs at `numHashes` permutations: docs sharing any
    * band bucket become candidates; candidates are then verified with
    * exact shingle-set Jaccard. Never compares documents that share no
    * bucket. Banding follows the threshold via [[chooseBanding]] unless
    * `bands` is given explicitly (0 = auto).
    *
    * Performance shape (it matters at 100 TB):
    *   - each shingle string is hashed ONCE; the `numHashes`
    *     permutations are derived by re-mixing the 64-bit hash with a
    *     salt (long→long, cheap) instead of re-hashing strings;
    *   - the band-bucket explode and self-join carry only (id, band,
    *     sig) — the shingle arrays stay out of the 16× fan-out and the
    *     shuffle, and are joined back only for DISTINCT candidate pairs;
    *   - the bucketed signature table is persisted across the self-join
    *     (the same materialization an index build would write out).
    *
    * Returns (a, b, jaccard) for verified pairs with jaccard >= threshold.
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 0,
      shingleWords: Int = 3): DataFrame = {
    val (nBands, rowsPerBand) =
      if (bands > 0) {
        require(numHashes % bands == 0, "bands must divide numHashes")
        (bands, numHashes / bands)
      } else chooseBanding(numHashes, threshold)
    Barrier.scoped { scope =>
      // the signature compute is heavy per row; the token persist keeps
      // the split out of every shingle lambda (see Barrier)
      val tokens = scope.persist(Barrier.spread(df)
        .select(col(idCol).as("__id"), split(lower(trim(col(textCol))), "\\s+").as("__w")))
      // native sketch expressions when GraftExtensions is registered: the
      // per-row k×|shingles| minhash loop runs as one codegen'd primitive
      // loop instead of k interpreted transform/array_min lambdas. Both
      // lowerings produce identical signatures (same xxhash64 folds).
      val native = df.sparkSession.catalog.functionExists("minhash_sigs")
      val withSh = scope.persist(tokens
        .select(col("__id"), shinglesFromTokens(col("__w"), shingleWords).as("__sh"))
        .filter(size(col("__sh")) > 0)
        .withColumn("__hs",
          if (native) call_function("hash64_array", col("__sh"))
          else transform(col("__sh"), s => xxhash64(s))))
      // minhash_j = min over pre-hashed shingles of remix(hash, salt_j)
      val signed =
        if (native)
          withSh.select(col("__id"),
            call_function("minhash_sigs", col("__hs"), lit(numHashes)).as("__ms"))
        else {
          val sigs = (0 until numHashes).map(j =>
            array_min(transform(col("__hs"), h => xxhash64(h, lit(j)))).as(s"__m$j"))
          withSh.select((col("__id") +: sigs): _*)
        }
      def sigAt(j: Int): Column =
        if (native) element_at(col("__ms"), j + 1) else col(s"__m$j")
      val bandKeys = (0 until nBands).map { b =>
        val slice = (0 until rowsPerBand).map(r => sigAt(b * rowsPerBand + r))
        struct(lit(b).as("band"), xxhash64(slice: _*).as("sig"))
      }
      val buckets = scope.persist(signed
        .select(col("__id"), explode(array(bandKeys: _*)).as("__bk"))
        .select(col("__id"), col("__bk.band"), col("__bk.sig")))
      val candidates = buckets.as("x")
        .join(buckets.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.__id") < col("y.__id"))
        .select(col("x.__id").as("a"), col("y.__id").as("b"))
        .dropDuplicates("a", "b")
      // verify on the hashed shingle sets (8-byte longs): same Jaccard as
      // the string sets up to hash collisions (~2^-64 per pair), and the
      // intersect runs on primitive comparisons instead of string equality
      val shMap = withSh.select(col("__id"), col("__hs"))
      val result = candidates
        .join(shMap.select(col("__id").as("a"), col("__hs").as("sha")), "a")
        .join(shMap.select(col("__id").as("b"), col("__hs").as("shb")), "b")
        .withColumn("__common", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("jaccard",
          col("__common") / (size(col("sha")) + size(col("shb")) - col("__common")))
        .filter(col("jaccard") >= threshold)
        .select(col("a"), col("b"), col("jaccard"))
      Barrier.cut(result)
    }
  }

  /** Default document-frequency cap for [[exactShinglePairs]] posting
    * lists. 64 bounds the per-shingle pair fan-out at C(64,2) = 2016 rows
    * regardless of corpus size — without it a stop-shingle shared by k
    * documents emits k(k-1)/2 join rows and k grows WITH the corpus, the
    * one pattern that goes quadratic at 100 TB. A shingle in >64 docs
    * carries no near-dup signal (it is boilerplate by definition); real
    * near-dup pairs still share plenty of sub-cap shingles. This is the
    * standard CCNet/Gopher stop-gram move.
    */
  val DefaultMaxShingleDf = 64

  /** Exact near-dup pairs from an inverted word-shingle index with a
    * document-frequency cap on the posting lists. Shape:
    * tokenize → distinct (doc, shingle) → drop shingles with df > maxDf
    * (one window count, partitioned by shingle — the same key the
    * self-join shuffles on, so the partitioning is reused) → self-join on
    * shingle → count common shingles per pair. Set sizes (`na`/`nb`) are
    * counted over the SAME capped shingle space, so a Jaccard computed
    * from (common, na, nb) is the exact Jaccard of the retained
    * (informative) shingle sets — self-consistent and oracle-mirrorable.
    *
    * Tokenization is a literal single-space split, matching both the
    * corpus convention and DuckDB's `string_split(text, ' ')` so the
    * DuckDB oracles reproduce byte-identically (Java's `\\s+` and RE2
    * whitespace classes disagree on vertical tab).
    *
    * Returns (a, b, common, na, nb) with a < b and common >= minCommon.
    */
  def exactShinglePairs(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, minCommon: Int = 2,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    require(maxDf >= 2, s"maxDf $maxDf < 2 would drop every pair-capable shingle")
    Barrier.scoped { scope =>
      // spread shingle hashing; the token persist keeps the split out of
      // every shingle lambda (see Barrier)
      val tokens = scope.persist(Barrier.spread(df)
        .select(col(idCol).as("__id"), split(lower(col(textCol)), " ").as("__w")))
      val sh = tokens
        .select(col("__id"), explode(shinglesFromTokens(col("__w"), shingleWords)).as("__sh"))
      // df cap: one full-partition window count keyed by shingle — the
      // self-join below shuffles on the same key, so EnsureRequirements
      // reuses this exchange instead of adding one
      val capped = sh
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("__sh")))
        .filter(col("__df") <= maxDf)
        .select(col("__id"), col("__sh"))
      val sizes = capped.groupBy("__id").agg(count(lit(1)).as("__n"))
      val pairs = capped.as("x")
        .join(capped.as("y"),
          col("x.__sh") === col("y.__sh") && col("x.__id") < col("y.__id"))
        .groupBy(col("x.__id").as("a"), col("y.__id").as("b"))
        .agg(count(lit(1)).as("common"))
        .filter(col("common") >= minCommon)
      val result = pairs
        .join(sizes.select(col("__id").as("a"), col("__n").as("na")), "a")
        .join(sizes.select(col("__id").as("b"), col("__n").as("nb")), "b")
        .select(col("a"), col("b"), col("common"), col("na"), col("nb"))
      Barrier.cut(result)
    }
  }

  /** 64-bit SimHash of the token stream: bit k of the signature is the
    * sign of the sum over tokens of ±1 (bit k of the token hash).
    * Expressed with aggregate() over the token array — codegen'd.
    */
  def simhashCol(textColName: String, native: Boolean = false): Column =
    if (native)
      // native path: hash tokens and fold the 64 per-bit counters in one
      // codegen'd loop (expr/SketchExprs.scala) — same signature bits as
      // the HOF form below
      call_function("simhash64", call_function("hash64_array",
        split(lower(trim(col(textColName))), "\\s+")))
    else
    // per-bit counters (array<int>[64]) accumulated over PRE-HASHED
    // tokens (hash each token once; there is no CSE inside lambdas, so
    // hashing inside the per-bit transform would cost 64 string hashes
    // per token), then folded into a 64-bit signature. Written as a SQL
    // expr because the Scala DSL's shiftright needs a literal shift.
    expr(s"""
      aggregate(
        zip_with(
          aggregate(
            transform(split(lower(trim(`$textColName`)), '\\\\s+'), t -> xxhash64(t)),
            array_repeat(0, 64),
            (acc, h) -> transform(acc, (c, i) ->
              c + CASE WHEN shiftright(h, i) & 1L = 1L THEN 1 ELSE -1 END)),
          sequence(0, 63),
          (c, i) -> CASE WHEN c > 0 THEN shiftleft(1L, i) ELSE 0L END),
        0L, (acc, x) -> acc | x)
    """)

  /** SimHash near-dup pairs, banded with the pigeonhole guarantee: the
    * 64-bit signature splits into maxHamming+1 bands, so two signatures
    * within the requested Hamming distance MUST agree on at least one
    * whole band — recall 1.0 by construction (a fixed 4-band split would
    * silently drop qualifying pairs for any maxHamming > 3).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sig = Barrier.spread(df)
      .select(col(idCol).as("__id"),
        simhashCol(textCol,
          native = df.sparkSession.catalog.functionExists("simhash64")).as("__sig"))
    bandedHammingPairs(sig, "__id", "__sig", maxHamming)
  }

  /** The pigeonhole banding over ANY 64-bit signature column (shared by
    * SimHash text near-dup and dHash image near-dup): id pairs with
    * `popcount(sigA XOR sigB) <= maxHamming`, found via band-bucket
    * equi-joins — recall 1.0 by construction, never an all-pairs
    * product. `maxHamming = 0` degenerates to one full-signature
    * equi-join (exact signature match). Output: (a, b, hamming) with
    * a < b in `idCol`'s ordering.
    */
  /** The composite STREAMING band-key array: one element per band,
    * `band * 2^bandBits + the band's 64/(maxHamming+1)-bit key` — the
    * grouping-key layout shared by the streaming banded processors
    * (g122 first-seen, g124 index), their DuckDB oracles, the
    * recall/scale benches, and BandedIndexSpec. ONE definition on
    * purpose: the layout is load-bearing for oracle parity, so a
    * drifted copy would surface only as an opaque gate hash failure.
    */
  def streamBandKeys(sig: Column, maxHamming: Int): Column = {
    require(maxHamming >= 1 && maxHamming <= 7,
      s"streaming banding takes maxHamming in [1, 7], got $maxHamming")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1
    array((0 until nBands).map(b =>
      lit(b.toLong * (mask + 1)) +
        shiftright(sig, b * bandBits).bitwiseAND(lit(mask))): _*)
  }

  def bandedHammingPairs(sig0: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (got $maxHamming): more bands than " +
        "64/4 bits makes the buckets too coarse to prune anything")
    // NOTE: recall stays 1.0 at any allowed maxHamming (pigeonhole), but
    // pruning power falls with band width (64/(maxHamming+1) bits) —
    // beyond ~7 the candidate set grows toward all-pairs
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    // Scala shifts mod 64: (1L << 64) - 1 would be 0, not all-ones
    val mask = if (bandBits >= 64) -1L else (1L << bandBits) - 1
    val sig = sig0.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    val banded = sig.select(col("__id"), col("__sig"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("__sig"), b * bandBits).bitwiseAND(lit(mask)).as("key"))): _*))
        .as("__bk"))
      .select(col("__id"), col("__sig"), col("__bk.band"), col("__bk.key"))
    val hamming = bit_count(col("x.__sig").bitwiseXOR(col("y.__sig"))).cast("long")
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"), hamming.as("hamming"))
      .dropDuplicates("a", "b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding near-dup via MULTI-TABLE signed random projections:
    * `nTables` independent `nBits`-bit signatures bucket the vectors;
    * a pair is a candidate if it collides in ANY table (recall via the
    * union), and each table's buckets are narrow (pruning via 2^nBits
    * keys). Cosine is verified once per distinct candidate pair.
    * Hyperplanes are deterministic hash-derived pseudo-vectors, so no
    * driver-side randomness ships to executors.
    *
    * Why multi-table: one wide table (few bits) degenerates to ~n²/2^bits
    * in-bucket verification — quadratic at scale; one narrow table has
    * recall p^bits that collapses for any p < 1. k narrow tables give
    * recall 1-(1-p^bits)^k with candidate volume ~k·n²/2^bits — the
    * standard LSH recall/pruning trade, tunable without widening buckets.
    * At the defaults (16 bits, 4 tables) a cosine-0.998 near-dup is
    * caught with p ≈ 0.99 while random pairs (p_bit ≈ 0.5) collide with
    * probability ~6e-5 — sublinear candidate growth at 100× corpus size.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 16, nTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(nBits >= 1 && nBits <= 63, s"nBits $nBits not in [1, 63]")
    require(nTables >= 1, s"nTables $nTables must be positive")
    val v = col("__v")
    val native = df.sparkSession.catalog.functionExists("srp_sig")
    Barrier.scoped { scope =>
      val base = scope.persist(Barrier.spread(df)
        .select(col(idCol).as("__id"),
          col(vecCol).cast("array<double>").as("__v")))
      // sign bit (t, j): dot(v, h_tj) where h_tj[i] = ±1 from hash(seed, t, j, i).
      // Native srp_sig (one codegen'd nBits×dim loop) when GraftExtensions
      // is registered; the interpreted per-bit aggregate/zip_with chain
      // otherwise — identical signatures either way.
      def tableSig(t: Int): Column =
        if (native) call_function("srp_sig", v, lit(seed), lit(t), lit(nBits))
        else (0 until nBits).map { j =>
          val dot = aggregate(
            zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
              when(xxhash64(lit(seed), lit(t), lit(j), i).bitwiseAND(lit(1L)) === 1L, x)
                .otherwise(-x)),
            lit(0d), (a, x) => a + x)
          when(dot >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b))
      // buckets carry only (id, table, sig): vectors stay out of the
      // nTables-way fan-out and the self-join shuffle
      val buckets = scope.persist(base
        .select(col("__id"), explode(array((0 until nTables).map(t =>
          struct(lit(t).as("t"), tableSig(t).as("sig"))): _*)).as("__bk"))
        .select(col("__id"), col("__bk.t").as("__t"), col("__bk.sig").as("__sig")))
      val candidates = buckets.as("x")
        .join(buckets.as("y"),
          col("x.__t") === col("y.__t") && col("x.__sig") === col("y.__sig") &&
            col("x.__id") < col("y.__id"))
        .select(col("x.__id").as("a"), col("y.__id").as("b"))
        .dropDuplicates("a", "b") // the any-table union: verify each pair ONCE
      val vecs = base.select(col("__id"), col("__v"))
      val joined = candidates
        .join(vecs.select(col("__id").as("a"), col("__v").as("__va")), "a")
        .join(vecs.select(col("__id").as("b"), col("__v").as("__vb")), "b")
      // Similarity.cosine: native fused cosine_sim when available, HOF
      // otherwise; maps zero-norm NaN to -1 (NaN >= threshold is TRUE in
      // Spark's ordering — they would pair with everything)
      val result = joined
        .withColumn("cosine", Similarity.cosine(joined, col("__va"), col("__vb")))
        .filter(col("cosine") >= threshold)
        .select(col("a"), col("b"), col("cosine"))
      Barrier.cut(result)
    }
  }
}
