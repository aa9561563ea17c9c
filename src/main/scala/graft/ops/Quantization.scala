package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar int8 quantization of embedding columns — the standard memory
  * lever for ANN at 100 TB: a float32 corpus shrinks 4× (plus one scale
  * per vector), distance kernels become integer arithmetic, and the
  * quantized table is small enough to keep hot where the float one is
  * not.
  *
  * Numeric contract: every step is a correctly-rounded IEEE double op
  * (float→double cast is exact; abs/greatest are comparisons; `*`, `/`,
  * `+`, `floor` are exact-per-IEEE), so the codes are BIT-IDENTICAL in
  * any engine that runs the same formula — which is what makes the
  * DuckDB hash oracle possible and the quantized corpus reproducible
  * across rewrites.
  */
object Quantization {

  /** Per-vector symmetric scale: m = max|x_i|. Zero vectors get m = 0
    * (and quantize to all-zero codes).
    */
  def maxAbs(vec: Column): Column =
    aggregate(vec, lit(0d), (acc, x) => greatest(acc, abs(x)))

  /** Symmetric int8 codes: q_i = floor(x_i · 127 / m + 0.5), clamped to
    * [-127, 127] by construction (x_i = ±m hits exactly ±127; the +0.5
    * floor is round-half-up, identical for both signs in both engines —
    * unlike rint/HALF_EVEN, whose tie behavior differs across SQL
    * dialects). Scan-side codegen'd expression: no shuffle, no UDF.
    *
    * PERFORMANCE TRAP: `vec` must be an ATTRIBUTE, not a composed tree.
    * The max-abs aggregate is referenced inside the transform lambda and
    * Catalyst does not CSE inside lambda bodies, so a composed input
    * (e.g. `int8Codes` of an inline unit-normalize) re-evaluates the
    * whole input tree per element — measured O(d³)/row, 60× slower than
    * the staged form.
    * Table-level callers should use [[quantize]]/[[quantizeUnit]],
    * which stage every aggregate as its own projection.
    */
  def int8Codes(vec: Column): Column = {
    val m = maxAbs(vec)
    transform(vec, x =>
      when(m === 0d, lit(0L)).otherwise(
        floor(x * lit(127d) / m + lit(0.5d)).cast("long")))
  }

  /** Per-vector scale in micro-units as an exact integer:
    * floor(m·10⁶ + 0.5). Integer scales keep every downstream score in
    * exact (hence engine-portable) integer arithmetic.
    */
  def scaleMicro(vec: Column): Column =
    floor(maxAbs(vec) * lit(1e6) + lit(0.5d)).cast("long")

  /** Quantize an embedding table: (id, codes array<long>, scale_micro).
    * The codes are int8-ranged; `long` element type keeps downstream
    * integer dot products overflow-free without casts (|dot| ≤ 127²·dim).
    */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeStaged(df, idCol, vecCol, unit = false)

  /** Shared lowering for [[quantize]]/[[quantizeUnit]]: every aggregate
    * (norm, max-abs) is materialized as its OWN projection attribute
    * before any lambda references it. Catalyst does not common-
    * subexpression-eliminate inside lambda bodies, so the composed form
    * (int8 codes of an inline unit-normalize) re-evaluates the norm
    * aggregate for every element of every enclosing transform — O(d³)
    * per row, measured at 48 ms/row (97 s for a 2 000-row corpus) vs
    * ~50 µs/row staged.
    * CollapseProject will not re-inline the attributes: the aggregates
    * are non-cheap and referenced more than once. Formulas are
    * unchanged — bit-identical codes, just evaluated once each.
    */
  private def quantizeStaged(df: DataFrame, idCol: String, vecCol: String,
      unit: Boolean, extra: Seq[String] = Nil): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val keep = extra.map(col)
    val withU =
      if (!unit) df.select(col(idCol) +: v.as("__u") +: keep: _*)
      else df
        .select(col(idCol) +: v.as("__v") +:
          sqrt(aggregate(v, lit(0d), (acc, x) => acc + x * x)).as("__n") +: keep: _*)
        .select(col(idCol) +:
          transform(col("__v"), x =>
            when(col("__n") === 0d, lit(0d)).otherwise(x / col("__n"))).as("__u") +:
          keep: _*)
    withU
      .select(col(idCol) +: col("__u") +:
        aggregate(col("__u"), lit(0d), (acc, x) => greatest(acc, abs(x))).as("__m") +:
        keep: _*)
      .select(col(idCol) +:
        transform(col("__u"), x =>
          when(col("__m") === 0d, lit(0L)).otherwise(
            floor(x * lit(127d) / col("__m") + lit(0.5d)).cast("long"))).as("codes") +:
        floor(col("__m") * lit(1e6) + lit(0.5d)).cast("long").as("scale_micro") +:
        keep: _*)
  }

  /** Quantize for COSINE serving: unit-normalize first, then int8. A raw
    * integer dot over codes of unnormalized vectors ranks by |y| as much
    * as by angle (recall@10 on the test corpus drops to 0.1); on the
    * unit sphere the dequantized dot IS the cosine up to quantization
    * error.
    */
  def quantizeUnit(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeStaged(df, idCol, vecCol, unit = true)

  /** [[quantizeUnit]] carrying extra passthrough columns (e.g. labels
    * for the eval harness) through the staged projections.
    */
  def quantizeUnitKeep(df: DataFrame, idCol: String, vecCol: String,
      extra: Seq[String]): DataFrame =
    quantizeStaged(df, idCol, vecCol, unit = true, extra = extra)

  /** Top-k neighbors by rescaled integer dot product over quantized
    * codes — asymmetric-distance ANN where BOTH the score and the
    * ranking are exact integer arithmetic: no floating-point ties, no
    * cross-engine ulp drift, and the kernel vectorizes to int
    * multiply-adds.
    *
    * Vectors are unit-normalized before quantization (quantizeUnit), so
    * the score approximates cosine for ANY corpus. score =
    * (q_x · q_y) · scale_micro(y): the candidate rescale is REQUIRED,
    * not cosmetic — codes are x·127/m_x, so a candidate whose unit
    * vector has a small max-coordinate gets uniformly inflated codes and
    * the raw integer dot systematically over-ranks it. The query's own
    * scale is constant inside its rank partition, so dot·m_y is
    * monotone-equivalent to the dequantized dot. `queries` must be
    * broadcast-sized (the corpus side streams; one scan, no corpus
    * shuffle).
    */
  def int8TopK(vectors: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val v = quantizeUnit(vectors, idCol, vecCol)
      .select(col(idCol).as("id"), col("codes"), col("scale_micro"))
    val q = broadcast(quantizeUnit(queries, idCol, vecCol)
      .select(col(idCol).as("qid"), col("codes").as("qcodes")))
    Ivf.rank(v.join(q, col("id") =!= col("qid")), int8Score(vectors.sparkSession), k)
  }

  /** Integer dot product: the native fused-loop `int_dot` expression
    * when GraftExtensions is registered (this runs once per CANDIDATE
    * PAIR — the HOF form's per-pair ArrayData allocation + lambda
    * evaluation measured ~40× slower on the sf0.1 ANN bench), with the
    * result-identical HOF fallback otherwise.
    */
  private[ops] def intDot(spark: org.apache.spark.sql.SparkSession,
      a: Column, b: Column): Column =
    if (spark.catalog.functionExists("int_dot")) call_function("int_dot", a, b)
    else aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, z) => acc + z)

  /** The int8 scorer: rescaled integer dot of (codes, qcodes) — exact
    * integer arithmetic end to end.
    */
  private def int8Score(spark: SparkSession): Column =
    intDot(spark, col("codes"), col("qcodes")) * col("scale_micro")

  /** Persist a QUANTIZED IVF index: int8 codes + micro-scale, written
    * partitioned by cluster id. Combines the two 100 TB ANN levers:
    * probing prunes to ~nProbe/nCentroids of the PARTITIONS
    * (directories that are never opened — the [[Ivf]] layout), and each probed partition is ~4×
    * smaller than its float32 form (8× vs float64), so the scan reads
    * a fraction of a fraction. Serving is asymmetric: queries quantize
    * at query time against the same centroid table.
    */
  def writeQuantizedIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Array[Array[Double]]): Unit = {
    Ivf.writeVectors(quantizeStaged(Similarity.assignClusters(vectors, vecCol, centroids),
      idCol, vecCol, unit = true, extra = Seq("cluster")), path)
    Ivf.writeCentroids(vectors.sparkSession, centroids, path)
  }

  /** Top-k from a quantized disk index: the [[Ivf]] probe step (only
    * the probed directories of int8 codes are opened) with the int8
    * scorer. Same recall contract as float IVF (the probe set is
    * computed from the float query against float centroids; only
    * candidate scoring is quantized).
    */
  def quantizedIvfTopKFromIndex(indexPath: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    val centroids = Ivf.readCentroids(spark, indexPath)
    val q = quantizeUnitKeep(queries, idCol, vecCol, Seq(vecCol))
      .select(col(idCol).as("qid"), col("codes").as("qcodes"),
        Ivf.probe(centroids, nProbe)(col(vecCol)).as("probe"))
    Ivf.rank(Ivf.scan(indexPath, q,
      Seq(col(idCol).as("id"), col("codes"), col("scale_micro"))), int8Score(spark), k)
  }

  /** Deterministic integer IVF index: coarse assignment by hash-derived
    * pseudo-centroids ([[SemanticDedup.hashClusterAssign]], exact BIGINT
    * dots) instead of float k-means, codes by [[quantizeUnit]]. Every
    * build step is integer arithmetic, so the WHOLE index — which
    * cluster holds which vector, every code, every scale — is a pure
    * function of the corpus, bit-reproducible by an independent engine.
    * Same storage contract as [[writeQuantizedIvfIndex]]: partitioned by
    * cluster, probed directories are the only ones opened. No centroid
    * table is persisted — the "centroids" re-derive from the hash
    * anywhere, which is itself a 100 TB property (index metadata is
    * zero bytes; any engine can route a query without reading state).
    */
  def writeHashIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, numClusters: Int): Unit =
    writeIndexShards(vectors, idCol, vecCol, path, numClusters, "overwrite")

  /** The one assign/quantize/route pipeline behind both the initial
    * build and the append — a single definition so the
    * serve-identical-to-rebuild invariant cannot drift between them.
    */
  private def writeIndexShards(vectors: DataFrame, idCol: String,
      vecCol: String, path: String, numClusters: Int, mode: String): Unit = {
    val assigned = SemanticDedup.hashClusterAssign(vectors, idCol, vecCol, numClusters)
      .select(col(idCol), col("cluster"))
    Ivf.writeVectors(quantizeUnit(vectors, idCol, vecCol).join(assigned, idCol),
      path, mode)
  }

  /** Incrementally grow a [[writeHashIvfIndex]] index: route the new
    * vectors through the SAME deterministic hash assignment and append
    * their quantized codes into the existing cluster partitions — no
    * rebuild, no read of the existing index, no shuffle of old data.
    * Because routing is a pure function of the vector (not of fitted
    * state), an index built on a prefix and appended with the rest
    * serves IDENTICALLY to one built on the union (g115's oracle is
    * literally g110's). At 100 TB this is the difference between
    * re-clustering the corpus and appending a day's crawl. Caller
    * contract: ids in `vectors` are new — append does not dedup
    * against existing shards (run the incremental-dedup decision
    * first, the ops/Dedup crawl-loop path).
    */
  def appendToHashIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, numClusters: Int): Unit =
    writeIndexShards(vectors, idCol, vecCol, path, numClusters, "append")

  /** Compact an appended index into `destPath`: every [[appendToHashIvfIndex]]
    * call adds at least one file per written cluster partition, and at
    * crawl cadence the accumulated small files dominate serve latency
    * (per-file open/footer cost, not bytes — the classic lakehouse
    * small-file problem). Compaction rewrites each cluster partition as
    * one file; codes are already cluster-routed, so this is a pure
    * repartition-by-partition-column write — one exchange on the
    * partition key, no re-quantization, no re-routing. Writes to a NEW
    * directory (an in-place overwrite would race concurrent readers);
    * the caller swaps the serving path when it's done — the
    * [[graft.sources.ShardSink]] manifest convention at directory
    * granularity.
    */
  def compactHashIvfIndex(spark: SparkSession, path: String,
      destPath: String): Unit = {
    val base = Ivf.readVectors(spark, path)
    // compaction is ALSO when tombstones become physical: the compacted
    // copy carries no tombstone directory and no deleted row — the
    // delete/compact lifecycle of an LSM index at directory granularity
    Ivf.writeVectors(live(spark, path)(base).repartition(col("cluster")), destPath)
  }

  /** Delete rows from a [[writeHashIvfIndex]] index WITHOUT rewriting
    * its shards: `ids` (one column, named like the index's id column)
    * append to a tombstone set that serving anti-joins and the next
    * [[compactHashIvfIndex]] applies physically — the standard
    * LSM/lakehouse delete shape. At crawl cadence deletes are takedown
    * and re-crawl-superseded rows: a tiny fraction between compactions,
    * so the serve-side anti-join is a broadcast; an operator who lets
    * tombstones grow corpus-sized has skipped compaction, and the fix
    * is to run it, not a bigger join.
    */
  def deleteFromHashIvfIndex(path: String, ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"tombstones take one id column, got ${ids.columns.mkString(",")}")
    ids.write.mode("append").parquet(s"$path/tombstones")
  }

  /** Drop the index's tombstoned rows (broadcast anti-join against the
    * [[deleteFromHashIvfIndex]] set); identity when nothing was deleted.
    */
  private def live(spark: SparkSession, path: String): DataFrame => DataFrame =
    try {
      val tomb = spark.read.parquet(s"$path/tombstones").distinct()
      _.join(broadcast(tomb), tomb.columns.toSeq, "left_anti")
    } catch { case _: org.apache.spark.sql.AnalysisException => identity }

  /** Serve from a [[writeHashIvfIndex]] index: probe the nProbe best
    * pseudo-centroids per query (exact integer ranking,
    * [[SemanticDedup.hashClusterProbes]]), then the [[Ivf]] probe step
    * over the live (untombstoned) rows with the int8 scorer. Probe
    * choice, candidate set, scores, and ranking are ALL exact integers —
    * the one ANN serving path whose end-to-end output an independent
    * engine can hash-match (the float-k-means variants share this serve
    * core but not the replayability).
    */
  def hashIvfTopKFromIndex(indexPath: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, numClusters: Int,
      nProbe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    // probe ids as INT: the index's `cluster` partition column reads
    // back as int, and a cast on the PARTITION side of the comparison
    // would block PartitionFilters pruning
    val probes = SemanticDedup.hashClusterProbes(
      queries, idCol, vecCol, numClusters, nProbe)
      .select(col(idCol).as("qid"), col("probe").cast("int").as("probe"))
    val q = quantizeUnit(queries, idCol, vecCol)
      .select(col(idCol).as("qid"), col("codes").as("qcodes"))
      .join(probes, "qid")
    // deleted rows stay invisible between compactions
    Ivf.rank(Ivf.scan(indexPath, q,
      Seq(col(idCol).as("id"), col("codes"), col("scale_micro")),
      live(spark, indexPath)), int8Score(spark), k)
  }

  // -------------------------------------- JL random projection (±1 signs)

  /** Johnson–Lindenstrauss dimensionality reduction with a ±1 sign
    * matrix (Achlioptas 2003): proj_j = Σ_i q_i · sign(j, i), where
    * q_i = round(x_i · 1e6) (micro-quantized, the q54 convention) and
    * sign(j, i) = 1 − 2·(xxhash64(j, i) & 1). The "matrix" is never
    * materialized — each sign is re-derived from the hash on both use
    * and replay, so the projection is a codegen'd expression: no UDF, no
    * broadcast, and bit-exact in any engine with the same hash (the q74
    * oracle). It runs after one round-robin exchange that spreads the
    * input over `defaultParallelism` partitions; there is no other
    * shuffle.
    *
    * Why it matters at 100 TB: clustering / dedup / ANN prefilters on
    * the 8-dim projection touch 8× fewer bytes than the 64-dim corpus,
    * with JL distance-preservation guarantees — the cheap first pass
    * before exact scoring. |proj| ≤ dims · 1e6 · max|x| keeps the
    * integer sums far from long overflow.
    *
    * Output is long form (id, j, proj), one row per output dimension —
    * `groupBy(id).pivot(j)` or collect_list reassembles a vector.
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int): DataFrame = {
    require(outDims >= 1 && outDims <= 64, s"outDims must be in [1, 64]: $outDims")
    val qv = transform(col(vecCol).cast("array<double>"),
      x => round(x * 1000000d).cast("long"))
    val projections = array((0 until outDims).map { j =>
      aggregate(
        // index i is 1-based to match SQL generate_subscripts on replay
        zip_with(qv, sequence(lit(1L), size(qv).cast("long")), (x, i) =>
          x * (lit(1L) - lit(2L) * xxhash64(lit(j.toLong), i).bitwiseAND(lit(1L)))),
        lit(0L), (acc, z) => acc + z)
    }: _*)
    // the repartition spreads the per-(row, j, i) xxhash64 sign-chain
    // evaluation over the cluster even when the input is one small file
    // (single-file scan = ONE partition; the Dedup.minHashSignatures
    // spread, same rationale — the per-row hash work dwarfs the
    // vector-bytes exchange)
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), posexplode(projections).as(Seq("__j", "proj")))
      .select(col(idCol), col("__j").cast("long").as("j"), col("proj"))
  }
}
