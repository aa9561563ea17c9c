package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{PipelineQueries, Queries, QueryDef}
import graft.runtime.{BuildOnce, Staging, Tables}
import scala.util.chaining._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private def allDefs: Seq[QueryDef] =
    Queries.relational ++ PipelineQueries.pipeline ++ SynthQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q02_join_regions.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (the
    * driver then records a weaker rows-only check).
    */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}

/** Queries exercising the synthetic-data engine itself (no SQL oracle —
  * generator output is checked by rows>0 here and by the ScalaTest
  * statistical/format oracles in src/test). Row counts are fixed per
  * query: generation cost is schema-driven, not sf-driven.
  */
object SynthQueries {
  import graft.api.{CannedSources, Processors}
  import graft.synth.Synth
  import graft.queries.EventTs
  import graft.streaming.{LocalCheckpointFileManager, StreamFiles}
  import org.apache.spark.sql.functions.{base64, col, to_json}
  import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
  import org.apache.spark.sql.types.{ArrayType, BinaryType, LongType, MapType,
    StructType}

  /** Scope for one bounded streaming replay (`rig` is its query tag,
    * e.g. "g55"): the body gets a [[StreamScope]] for its staging dirs
    * and memory sinks.
    *
    * Shuffle partitions are pinned to 8 inside the scope: stateful
    * operators clone one state-store instance per shuffle partition and
    * commit each of them every micro-batch, so the session's
    * one-partition-per-core default (32 on the bench host) pays that
    * many store commits per batch for kilobyte-scale state — measured
    * at 32 partitions as 3x the whole query time on the interval joins.
    * 8 is right for a single-JVM replay; on a real cluster the stateful
    * shuffle should track executor count instead (set before the query
    * first starts — state partitioning is fixed at the first run).
    *
    * Checkpoints are committed through
    * [[graft.streaming.LocalCheckpointFileManager]], pinned inside the
    * scope. Spark's default manager for a local path forks `readlink`
    * twice per side of every rename, for each file and its `.crc`, and
    * Hadoop's local FileSystem forks `chmod` for every file and dir it
    * creates when libhadoop is absent. Those forks, not the writes, were
    * the ~40 ms WAL/offset/commit floor of every micro-batch: one 10-s
    * `stream_ingest` bench run (g122 on RocksDB state) started 2,437
    * `readlink` and 874 `chmod` processes, 2.5 CPU-s of children. With
    * the pin the same run starts no `readlink` and 190 `chmod` (RocksDB
    * SST uploads and fixture writes, outside the manager), 0.2 CPU-s.
    * Other schemes keep Spark's default manager.
    *
    * On exit, success or failure, the scope restores the previous
    * partition count and checkpoint manager so batch queries keep the
    * session defaults, drops every `_sink_` memory-sink view, and
    * releases every [[graft.runtime.Staging]] dir the body staged
    * through `dir` (the keys that start with `<rig>_`). A rig whose
    * result reads a staged dir (a parquet sink, a `foreachBatch` output)
    * must therefore return it [[materialized]]; memory-sink tables
    * already hold their rows in the driver.
    */
  private def streamScoped(s: SparkSession, rig: String)(
      f: StreamScope => DataFrame): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    val fmKey = LocalCheckpointFileManager.ConfKey
    val oldFm = s.conf.getOption(fmKey)
    val scope = new StreamScope(s, rig)
    s.conf.set(key, "8")
    s.conf.set(fmKey, classOf[LocalCheckpointFileManager].getName)
    try f(scope) finally {
      s.conf.set(key, old)
      oldFm.fold(s.conf.unset(fmKey))(s.conf.set(fmKey, _))
      // Memory-sink hygiene: every streaming replay registers a fresh
      // uuid-named memory sink holding its full result in driver memory,
      // and nothing ever dropped them — N bench reps retained N result
      // sets plus temp-view entries for the rest of the JVM (one
      // plausible mechanism behind r6's uniform suite-context slowdown).
      // Dropping the view here is safe: the DataFrame returned by
      // s.table(name) is already analyzed, so its plan keeps the sink's
      // data alive exactly until the caller drops the DataFrame.
      s.catalog.listTables().collect().foreach { t =>
        if (t.name.contains("_sink_")) s.catalog.dropTempView(t.name)
      }
      Staging.release(_.startsWith(s"${rig}_"))
    }
  }

  /** What a [[streamScoped]] body stages and drains through. */
  private final class StreamScope(s: SparkSession, rig: String) {
    /** A fresh [[Staging]] dir `<rig>_<name>...`, released when the scope
      * exits.
      */
    def dir(name: String): java.nio.file.Path = Staging.dir(s"${rig}_$name")

    /** A fresh memory-sink name; the `_sink_` infix is what the scope
      * drops on exit.
      */
    def sinkName: String =
      s"${rig}_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")

    /** Runs `df` to completion into a fresh memory sink under
      * Trigger.AvailableNow and returns the sink table. `minBatches`
      * pins how many micro-batches read input (the multi-batch rigs'
      * cross-batch proofs); `check` sees the finished query's progress.
      */
    def drain(df: DataFrame, mode: String, minBatches: Int = 0,
        check: Array[StreamingQueryProgress] => Unit = _ => ()): DataFrame = {
      val name = sinkName
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= minBatches,
        s"expected >= $minBatches micro-batches with input, got $batches")
      check(q.recentProgress)
      s.table(name)
    }

    /** events.parquet as a bounded file stream: the raw table (read
      * through [[Tables.read]]) and the staged stream with `ts` normalized
      * to BIGINT nanos. The file-stream source only accepts directories
      * (it anchors its listing at a basePath directory), so the single
      * file is exposed through a symlink in a staged dir. With
      * `sentinelS`, a [[sentinelRow]] that many seconds past the last
      * event is staged beside it as `z_sentinel.parquet`; its watermark
      * advance lets the trailing no-data micro-batch flush every real
      * window, session or timer.
      */
    def events(d: String, sentinelS: Option[Long] = None)
        : (DataFrame, DataFrame) = {
      import org.apache.spark.sql.functions.max
      val evRaw = Tables.read(s, d, "events")
      val streamDir = dir("events")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("a_events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet"))
      sentinelS.foreach { secs =>
        val maxNs = EventTs.toNanos(evRaw).agg(max("ts")).collect()(0).getLong(0)
        StreamFiles.writeOne(sentinelRow(evRaw, maxNs + secs * 1000000000L),
          streamDir, "z_sentinel")
      }
      (evRaw, EventTs.toNanos(
        s.readStream.schema(evRaw.schema).parquet(streamDir.toString)))
    }
  }

  /** `df`'s rows pinned as a driver-side frame: a result that outlives
    * the staged dirs it was read from, or a small dimension that must
    * not be recomputed per micro-batch.
    */
  private def materialized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** One far-future sentinel event at `sentinelNs` on an out-of-band
    * key (-1), with `ts` in the RAW file type (long nanos or timestamp
    * micros), because the stream reads with the raw schema.
    */
  private def sentinelRow(evRaw: DataFrame, sentinelNs: Long): DataFrame = {
    import org.apache.spark.sql.functions.{lit, timestamp_micros}
    val sentinelTs = evRaw.schema("ts").dataType match {
      case LongType => lit(sentinelNs)
      case t => timestamp_micros(lit(sentinelNs / 1000L)).cast(t)
    }
    evRaw.limit(1).select(
      lit(-1L).as("event_id"), sentinelTs.as("ts"), lit(-1L).as("user_id"),
      lit("sentinel").as("event_type"), lit(0.0).as("value"),
      lit("").as("props"))
  }

  /** CDX split target for a rig-written WARC directory: every segment
    * the warc sink writes carries a `.cdx` sidecar, so the reader can
    * split a segment at record boundaries — without it one segment is
    * ONE scan partition and the whole per-record pipeline (gzip decode,
    * HTML sniff/decode, link extraction, URL canonicalization) of a
    * micro-batch runs on one core (measured: the extract stage of each
    * g133 micro-batch was a single 1.5 s task at sf0.1). The target is
    * derived from the data, not a local-mode constant: largest segment
    * over the session's parallelism, floored at 64 KiB (below which
    * per-task open/seek cost dominates — the same rationale as
    * [[graft.sources.WarcDataSource.TargetSplitBytes]]). Segments are
    * listed through [[graft.sources.ArchiveFs]] (the Hadoop FileSystem
    * the WARC reader uses), so any scheme the session can read works,
    * not only local paths.
    */
  private[graft] def warcCdxTarget(dir: String, s: SparkSession): Long = {
    val maxSeg = graft.sources.ArchiveFs.listWithLen(dir).collect {
      case (p, len) if p.endsWith(".warc") || p.endsWith(".warc.gz") => len
    }.maxOption.getOrElse(0L)
    math.max(65536L, maxSeg / s.sparkContext.defaultParallelism)
  }

  /** Scope a streaming replay to the RocksDB state-store provider,
    * restoring the session's previous provider afterwards.
    */
  private def withRocksDb(s: SparkSession)(f: => DataFrame): DataFrame = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    // changelog checkpointing: commit appends a delta instead of
    // uploading a full RocksDB snapshot per store per micro-batch — the
    // production setting for frequent-commit stateful queries, and the
    // same restart semantics (g133/g135 prove checkpoint recovery under
    // it; state content is unchanged either way). Without it every
    // bounded replay pays a snapshot upload per partition per batch.
    val clogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val olds = Seq(provKey, clogKey).map(k => k -> s.conf.getOption(k))
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set(clogKey, "true")
    try f finally olds.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The multi-batch transformWithState event split (g111/g116): the
    * events table cut into three TIME-thirds plus a far-future sentinel
    * row (advances the final watermark so every key's last timer fires;
    * its own timer never does). Thirds, not halves: a stale-timer
    * double-flush only manifests when a key receives input in a batch
    * AFTER a premature flush, which takes >= 3 data batches. Returned
    * (name, df) pairs are in processing order — names sort
    * alphabetically so the file stream source's modTime/path order
    * matches write order.
    */
  private def eventThirdFiles(s: SparkSession, d: String)
      : Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.functions.{lit, max, min, unix_micros}
    val evRaw = Tables.read(s, d, "events")
    val ev = EventTs.toNanos(evRaw)
    val Array(minNs, maxNs) = ev.agg(min("ts"), max("ts")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // split the RAW rows by their normalized-ns timestamp (the raw ts
    // type varies by testdata generation — see EventTs)
    val tsNs = evRaw.schema("ts").dataType match {
      case LongType => col("ts")
      case _ => unix_micros(col("ts").cast("timestamp")) * lit(1000L)
    }
    val t1 = minNs + (maxNs - minNs) / 3
    val t2 = minNs + 2L * (maxNs - minNs) / 3
    Seq(
      "a_third0" -> evRaw.where(tsNs <= t1),
      "b_third1" -> evRaw.where(tsNs > t1 && tsNs <= t2),
      "c_third2" -> evRaw.where(tsNs > t2),
      "d_sentinel" -> sentinelRow(evRaw, maxNs + 36000L * 1000000000L))
  }

  /** The per-user event-type count stream over a split directory: file
    * source (one file per trigger) -> watermarked event time ->
    * TypeCountProcessor (transformWithState, event-time timers, MapState
    * counts under the one-live-timer contract). Sink wiring is the
    * caller's.
    */
  private def typeCountStream(s: SparkSession, streamDir: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import s.implicits._
    graft.queries.EventTs.toNanos(
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .select(col("user_id").cast("long").as("uid"),
        expr("ts div 1000000").as("ts_ms"), col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.TypeCountProcessor,
        TimeMode.EventTime(), OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[(Long, String, Long)]])
      .toDF("user_id", "event_type", "n")
  }

  /** The driver's checker canonicalizes results through pandas
    * `sort_values`, which crashes on struct/array/map cells (unhashable
    * ndarray/dict). Project every nested column through `to_json` (and
    * binary through base64) so each gNN row reports a real `spark_rows`
    * instead of a checker error. Values are unchanged — JSON is just the
    * stable scalar encoding of the nested payload.
    */
  private def checkerSafe(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => to_json(df(f.name)).as(f.name)
        case BinaryType                                => base64(df(f.name)).as(f.name)
        case _                                         => df(f.name)
      }
    }: _*)

  /** Constant-aggregate content pin (VERDICT r9 item 1, the g121/g78
    * convention generalized to arbitrary schemas): reduce a
    * deterministic result to (n_rows, content_digest) where the digest
    * is the order-independent sum of per-row xxhash64 over the
    * checker-safe JSON encoding of every column — full content
    * pinning, replayed against the captured constant in
    * [[graft.queries.PinOracles]] at ~0 s oracle cost. The generator
    * still materializes every row (the aggregate consumes it), so the
    * bench measures the same work as the raw-rows form did.
    */
  private def pinAgg(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount, lit, pmod,
      struct, sum => fsum, xxhash64}
    val safe = checkerSafe(df)
    safe.agg(
      fcount(lit(1)).as("n_rows"),
      fsum(pmod(xxhash64(to_json(struct(safe.columns.toSeq.map(col): _*))),
        lit(1000000007L))).as("content_digest"))
  }

  /** The ANN-family pin: (n_rows, n_queries, pair_digest) over the
    * integer (qid, rnk, neighbor) serving triples — the semantic
    * output — deliberately EXCLUDING the float score cell, so the pin
    * is immune to last-ulp drift while still fixing exactly which
    * neighbors each query returned and in what order. The k-means/PQ
    * fits behind these queries are driver-side sequential over a
    * deterministically ordered sample, and the full-suite parity tools
    * prove the triples partitioning-invariant.
    */
  private def annPin(res: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount, countDistinct,
      lit, pmod, sum => fsum, xxhash64}
    res.agg(
      fcount(lit(1)).as("n_rows"),
      countDistinct(col("qid")).as("n_queries"),
      fsum(pmod(xxhash64(col("qid").cast("long"), col("rnk").cast("long"),
        col("neighbor").cast("long")), lit(1000000007L))).as("pair_digest"))
  }

  /** The g118 CUSUM oracle, shared verbatim by g125's restart leg: the
    * two-incarnation run must produce the SAME per-key report as the
    * single run, which is exactly the associative-resumability claim.
    */
  private val cusumOracleSql: String =
    """WITH mm AS (SELECT min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
            FROM events),
          tg AS (SELECT CAST(sum(CAST(round(value * 1000000) AS BIGINT))
              // count(*) AS BIGINT) AS tgt
            FROM events, mm WHERE epoch_ns(ts) <= (mn + mx) // 2),
          e AS (SELECT event_type, epoch_ns(ts) AS tsn, event_id,
              CAST(round(value * 1000000) AS BIGINT) +
                CASE WHEN epoch_ns(ts) > mn + 2 * (mx - mn) // 3
                  THEN 300000000 ELSE 0 END AS v
            FROM events, mm),
          w AS (SELECT event_type, tsn,
              CAST(row_number() OVER pk AS BIGINT) AS i,
              CAST(sum(v - tgt) OVER
                (pk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM e, tg
            WINDOW pk AS (PARTITION BY event_type ORDER BY tsn, event_id)),
          sc AS (SELECT event_type, tsn, i,
              cum - least(0, min(cum) OVER
                (PARTITION BY event_type ORDER BY i
                 ROWS UNBOUNDED PRECEDING)) AS s,
              greatest(0, max(cum) OVER
                (PARTITION BY event_type ORDER BY i
                 ROWS UNBOUNDED PRECEDING)) - cum AS sn
            FROM w)
        SELECT event_type, CAST(max(i) AS BIGINT) AS n,
          CAST(max(s) AS BIGINT) AS max_s,
          CAST(coalesce(min(CASE WHEN s > 50000000000 THEN i END), -1)
            AS BIGINT) AS alarm_idx,
          CAST(coalesce(min(CASE WHEN s > 50000000000 THEN tsn END), -1)
            AS BIGINT) AS alarm_ts,
          CAST(max(sn) AS BIGINT) AS max_sn,
          CAST(coalesce(min(CASE WHEN sn > 50000000000 THEN i END), -1)
            AS BIGINT) AS alarm_n_idx,
          CAST(coalesce(min(CASE WHEN sn > 50000000000 THEN tsn END), -1)
            AS BIGINT) AS alarm_n_ts
        FROM sc GROUP BY event_type"""

  /** The g124/g126 oracle, shared verbatim: min verifying earlier
    * member over ALL band-bucket members (the XXH64-signature twin rig
    * replayed in SQL) — a RESTARTED index (g126) must attribute
    * identically to the uninterrupted run (g124).
    */
  private[graft] val bandedIndexOracle: Option[String] = Some {
    import graft.queries.DuckXxHash._
    val ch = chain("s0",
      s"SELECT CAST(doc_id AS BIGINT) AS id, " +
        s"${unsigned("CAST(doc_id AS BIGINT)")} AS v FROM documents")
      .stepsExpr(hashLongSteps("h1", "v", "42::HUGEINT"))
      .cte("bsig", "SELECT id, h1out AS us FROM c_h1out")
      .cte("twin0", "SELECT id AS bid, us FROM bsig WHERE id % 8 = 0")
      .cte("twin",
        """SELECT bid + 10000000 AS id,
          CAST(xor(CAST(us AS UBIGINT),
            (1::UBIGINT << CAST((bid * 7) % 64 AS INT)) |
            (CASE WHEN bid % 3 + 1 >= 2 THEN
              (1::UBIGINT << CAST(((bid * 7) % 64 + 21) % 64 AS INT))
              ELSE 0::UBIGINT END) |
            (CASE WHEN bid % 3 + 1 >= 3 THEN
              (1::UBIGINT << CAST(((bid * 7) % 64 + 43) % 64 AS INT))
              ELSE 0::UBIGINT END)) AS HUGEINT) AS us
        FROM twin0""")
      .cte("allsig",
        "SELECT id, us FROM bsig UNION ALL SELECT id, us FROM twin")
      .cte("bands",
        "SELECT id, us, b.range AS b, " +
          "(us // (1::HUGEINT << (16 * b.range))) % 65536 AS key " +
          "FROM allsig, range(0, 4) b")
      .cte("att",
        """SELECT r.id, x.id AS oid FROM bands r
          JOIN bands x ON x.b = r.b AND x.key = r.key
          WHERE x.id < r.id AND bit_count(xor(CAST(r.us AS UBIGINT),
            CAST(x.us AS UBIGINT))) <= 3""")
    ch.render(
      """SELECT u.id, CAST(coalesce(min(a.oid), -1) AS BIGINT) AS dup_of
        FROM allsig u LEFT JOIN att a ON a.id = u.id GROUP BY 1""")
  }

  /** The g128 oracle: the g124 replay with each arrival's DATA-carried
    * ordinal (base docs at ord = id, twins at maxId + 1 + 2·(bid % 256))
    * and the bounded-window predicate `x.ord >= r.ord - 500` — pairs
    * separated beyond the window must attribute to -1, the boundary
    * pair (separation exactly 500 at sf0.01) must still match.
    */
  private[graft] val bandedWindowOracle: Option[String] = Some {
    import graft.queries.DuckXxHash._
    val ch = chain("s0",
      s"SELECT CAST(doc_id AS BIGINT) AS id, " +
        s"${unsigned("CAST(doc_id AS BIGINT)")} AS v FROM documents")
      .stepsExpr(hashLongSteps("h1", "v", "42::HUGEINT"))
      .cte("bsig", "SELECT id, h1out AS us FROM c_h1out")
      .cte("mx", "SELECT max(id) AS m FROM bsig")
      .cte("twin0", "SELECT id AS bid, us FROM bsig WHERE id % 8 = 0")
      .cte("twin",
        """SELECT bid + 10000000 AS id,
          (SELECT m FROM mx) + 1 + 2 * (bid % 256) AS ord,
          CAST(xor(CAST(us AS UBIGINT),
            (1::UBIGINT << CAST((bid * 7) % 64 AS INT)) |
            (CASE WHEN bid % 3 + 1 >= 2 THEN
              (1::UBIGINT << CAST(((bid * 7) % 64 + 21) % 64 AS INT))
              ELSE 0::UBIGINT END) |
            (CASE WHEN bid % 3 + 1 >= 3 THEN
              (1::UBIGINT << CAST(((bid * 7) % 64 + 43) % 64 AS INT))
              ELSE 0::UBIGINT END)) AS HUGEINT) AS us
        FROM twin0""")
      .cte("allsig",
        "SELECT id, id AS ord, us FROM bsig " +
          "UNION ALL SELECT id, ord, us FROM twin")
      .cte("bands",
        "SELECT id, ord, us, b.range AS b, " +
          "(us // (1::HUGEINT << (16 * b.range))) % 65536 AS key " +
          "FROM allsig, range(0, 4) b")
      .cte("att",
        """SELECT r.id, x.id AS oid FROM bands r
          JOIN bands x ON x.b = r.b AND x.key = r.key
          WHERE (x.ord < r.ord OR (x.ord = r.ord AND x.id < r.id))
            AND x.ord >= r.ord - 500
            AND bit_count(xor(CAST(r.us AS UBIGINT),
              CAST(x.us AS UBIGINT))) <= 3""")
    ch.render(
      """SELECT u.id, CAST(coalesce(min(a.oid), -1) AS BIGINT) AS dup_of
        FROM allsig u LEFT JOIN att a ON a.id = u.id GROUP BY 1""")
  }

  private def pinDef(name: String)(fn: (SparkSession, String) => DataFrame)
      : QueryDef =
    QueryDef(name, (s, d) => pinAgg(fn(s, d)),
      graft.queries.PinOracles.sql.get(name))

  private def annPinDef(name: String)(fn: (SparkSession, String) => DataFrame)
      : QueryDef =
    QueryDef(name, (s, d) => annPin(fn(s, d)),
      graft.queries.PinOracles.sql.get(name))

  def defs: Seq[QueryDef] = Seq(
    // pinned to the interpreter path as the baseline for g53 (the canned
    // CannedSources.iotData routes through dataFrameAuto = fast path).
    // r10: every g3x demo below now ships a captured content-digest pin
    // (pinDef/PinOracles) instead of a rows-only check.
    pinDef("g30_synth_iot")((s, _) =>
      Synth.dataFrame(s, CannedSources.iotSchemaJson, 1000)),
    // the PhoneNumber canned source now rides the fast path, so every
    // digit reproduces from the hash chain — a real oracle, not rows-only
    QueryDef("g31_synth_phone",
      (s, _) => CannedSources.phoneNumber(s, 20000, Some(497)),
      Some(PhoneOracle.sql(20000, 497))),
    pinDef("g32_synth_textmessage")((s, _) => CannedSources.textMessage(s, 20000)),
    pinDef("g33_synth_commuter")((s, _) => CannedSources.commuterData(s, 20, Some("10001"))),
    pinDef("g34_synth_dns_flat")((s, _) => Synth.dataFrame(s,
      """[{"class": "dns", "flat": true, "meanQueries": 50}]""", 1000)),
    pinDef("g35_synth_cpoc")((s, _) => Synth.dataFrame(s,
      """[{"name": "user", "class": "id"},
          {"name": "history", "class": "common-point-of-compromise"}]""", 2000)),
    pinDef("g36_synth_changer")((s, _) => Synth.dataFrame(s,
      """[{"name": "cust", "class": "id"},
          {"name": "track", "class": "changer", "count": 8, "rate": "1/d", "values": [
            {"name": "state", "class": "state"},
            {"name": "score", "class": "int", "min": 300, "max": 850}]}]""", 2000)),
    pinDef("g37_synth_vehicle")((s, _) => Synth.dataFrame(s,
      """[{"name": "v", "class": "vehicle"},
          {"name": "vin", "class": "vin", "verbose": true},
          {"name": "imei", "class": "imei", "unique": true}]""", 20000)),
    pinDef("g38_synth_identity")((s, _) => Synth.dataFrame(s,
      """[{"name": "name", "class": "name", "type": "first_last"},
          {"name": "email", "class": "email-name"},
          {"name": "address", "class": "address"},
          {"name": "ssn", "class": "ssn"},
          {"name": "username", "class": "username"},
          {"name": "country", "class": "country"},
          {"name": "language", "class": "language"},
          {"name": "os", "class": "os"},
          {"name": "word", "class": "word"}]""", 20000)),
    pinDef("g39_synth_header")((s, _) => Synth.dataFrame(s,
      """[{"name": "h", "class": "header"},
          {"name": "hm", "class": "header", "type": "mal1"}]""", 10000)),
    // r7: the measures demo now returns EXACT bucket histograms of every
    // sampled column (the g78 captured-constant convention — the
    // interpreter is seed- and partitioning-deterministic, so the
    // distribution shape is a pinned constant, a real oracle instead of
    // a rows-only check). Buckets use only integer-exact edges on the
    // Spark side; the oracle is the captured table, so no cross-engine
    // float math is involved.
    QueryDef("g40_synth_measures",
      (s, _) => {
        import org.apache.spark.sql.functions.{count => fcount, element_at,
          floor => ffloor, greatest, least, length, lit, substring}
        val df = Synth.dataFrame(s,
          """[{"name": "g", "class": "gamma", "alpha": 3, "beta": 2},
              {"name": "n", "class": "normal", "mean": 10, "sd": 2, "min": 5, "max": 15},
              {"name": "fk", "class": "foreign-key", "size": "1M", "skew": 1},
              {"name": "py", "class": "pitman_yor", "alpha": 5, "discount": 0.2},
              {"name": "vec", "class": "vector", "length": 16, "mean": 0, "sd": 1},
              {"name": "d", "class": "date", "start": "2020-01-01", "end": "2024-12-31"},
              {"name": "burst", "class": "bursts", "value": {"class": "double"}}]""",
          20000, 42L, partitions = 8)
        def fam(name: String, bucket: org.apache.spark.sql.Column) =
          df.select(lit(name).as("family"), bucket.cast("long").as("bucket"))
        fam("gamma", least(lit(12L), ffloor(col("g"))))
          .unionAll(fam("normal", ffloor(col("n"))))
          .unionAll(fam("fk_digits", length(col("fk").cast("string"))))
          .unionAll(fam("pitman_yor", least(lit(10L), col("py"))))
          .unionAll(fam("vec0",
            greatest(lit(-4L), least(lit(4L), ffloor(element_at(col("vec"), 1))))))
          .unionAll(fam("date_year", substring(col("d"), 1, 4)))
          .unionAll(fam("burst_value",
            greatest(lit(0L), least(lit(9L), ffloor(col("burst.value") / 10)))))
          .groupBy("family", "bucket").agg(fcount(lit(1)).as("n"))
      },
      Some(MeasuresHistOracle.sql)),
    // g41_correlator / g42_transactions retired (r7): pure rows-only
    // duplicates of the HASH-ORACLED q12 (correlate, same API on the
    // same tables) and g54/q13 (transactions fan-out + amounts bit
    // oracle) — the same retire-in-favor-of-the-oracle move the r6
    // verdict prescribed for g44/g45.
    //
    // removeFields with a REAL oracle: top-level drop + nested
    // dropFields over the orders table, the surviving struct rendered
    // through checkerSafe's to_json so DuckDB can rebuild the exact
    // JSON text (string + integer members only — key order and numeric
    // rendering agree across engines).
    QueryDef("g43_removefields",
      (s, d) => {
        import org.apache.spark.sql.functions.{round, struct}
        val o = Tables.read(s, d, "orders")
          .select(col("o_orderkey"),
            struct(col("o_orderstatus").as("status"),
              struct(col("o_orderdate").cast("string").as("dropme"),
                round(col("o_totalprice") * 100).cast("long").as("cents")).as("meta"))
              .as("rec"),
            col("o_custkey"))
        checkerSafe(Processors.removeFields(o, Seq("o_custkey", "rec.meta.dropme")))
      },
      Some("""SELECT o_orderkey,
          concat('{"status":"', o_orderstatus, '","meta":{"cents":',
            CAST(round(o_totalprice * 100) AS BIGINT), '}}') AS rec
        FROM orders""")),
    // the transactions fan-out + amounts, hash-match-checkable: the
    // processor's deterministic xxhash64 fan-out is reproduced in DuckDB
    // via DuckXxHash (mod-2^64 HUGEINT arithmetic), so this derived view
    // of g42 gets a REAL oracle, not a rows-only check
    QueryDef("g54_tx_fanout",
      (s, d) => {
        import org.apache.spark.sql.functions.{coalesce, explode_outer, lit}
        val tx = Processors.transactions(
          Tables.read(s, d, "orders").select("o_orderkey"), "o_orderkey")
        tx.select(col("o_orderkey"), explode_outer(col("transactions")).as("tx"))
          .select(col("o_orderkey"),
            coalesce(col("tx.seq"), lit(-1L)).as("seq"),
            coalesce(col("tx.amount_cents"), lit(-1L)).as("amount_cents"))
      },
      Some(TxFanoutOracle.sql)),
    // g44_sink_template / g45_sink_xml retired (r7, per the r6 verdict):
    // g61_template_bits / g62_xml_bits prove the identical sink
    // machinery end-to-end with full DuckDB bit oracles.

    // the header lowering, hash-match-checked end-to-end: every line of
    // the rendered request (urls, host, user-agent pick + version
    // substitution, accept/language/encoding draws) reproduced in DuckDB
    QueryDef("g68_header_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"name": "hdr", "class": "header"}]""", 20000),
      Some(HeaderOracle.sql)),

    // the toll lowering, hash-match-checked: the zip-row pick, the
    // 365-day range timestamp, and the country constant — scalar
    // projections of the struct so the checker compares plain columns
    QueryDef("g69_toll_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"name": "t", "class": "toll"}]""", 20000)
        .select(col("i"), col("t.location.zip").as("zip"),
          col("t.location.city").as("city"), col("t.location.state").as("state"),
          col("t.timestamp").as("ts"), col("t.country").as("country")),
      Some(TollOracle.sql)),

    // the string-dist and text-bag lowerings (user-supplied weighted
    // multinomials), hash-match-checked with the same spec-order ladder
    QueryDef("g72_dist_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"name": "st", "class": "string",
             "dist": {"alpha": 5, "beta": 3, "gamma": 1.5, "delta": 0.5}},
            {"name": "tb", "class": "text",
             "dist": {"lorem ipsum": 2, "dolor sit amet": 1, "consectetur": 1}}]""",
        20000),
      Some(DistOracle.sql)),

    // couplings and shape contracts the relational oracles can't see,
    // counted against constants: the name -> email-name side channel
    // (local part == lowercased name), zip prefix restriction with
    // city consistency, and the address number+street shape
    QueryDef("g73_coupling_counts",
      (s, _) => {
        import org.apache.spark.sql.functions.{count => fcount, expr, lit, sum => fsum}
        def fam(name: String, df: org.apache.spark.sql.DataFrame,
            ok: org.apache.spark.sql.Column) =
          df.agg(fcount(lit(1)).as("n"), fsum(ok.cast("long")).as("n_ok"))
            .select(lit(name).as("family"), col("n"), col("n_ok"))
        val coupled = Synth.dataFrame(s,
          """[{"name": "nm", "class": "name", "type": "first_last"},
              {"name": "em", "class": "email-name"}]""", 20000)
        val zp = Synth.dataFrame(s,
          """[{"name": "z", "class": "zip", "zip": "100", "fields": "zip, city"}]""",
          20000)
        val addr = Synth.dataFrame(s, """[{"name": "a", "class": "address"}]""", 20000)
        fam("email_name", coupled,
          expr("split(em, '@')[0]") === expr("lower(replace(nm, ' ', '.'))"))
          .unionByName(fam("zip_prefix", zp,
            col("z.zip").startsWith("100") && (col("z.city") === "NEW YORK")))
          .unionByName(fam("address", addr,
            col("a").rlike("^[1-9][0-9]* [A-Z]+ [A-Z]+ [A-Z]+$")))
      },
      Some("""SELECT * FROM (VALUES
          ('email_name', CAST(20000 AS BIGINT), CAST(20000 AS BIGINT)),
          ('zip_prefix', CAST(20000 AS BIGINT), CAST(20000 AS BIGINT)),
          ('address', CAST(20000 AS BIGINT), CAST(20000 AS BIGINT))
        ) AS t(family, n, n_ok)""")),

    // vin/imei made driver-checkable THROUGH their checksums: validity is
    // recomputed from the rendered strings by independent SQL arithmetic
    // (standard Luhn / ISO-3779 tables spelled out in the expression, NOT
    // the generator's Checksums code), so a broken check digit in either
    // generator drops n_valid and fails the hash-match
    QueryDef("g66_checksum_counts",
      (s, _) => {
        import org.apache.spark.sql.functions.{count => fcount, expr, lit, sum => fsum}
        val luhnOk = expr("""
          pmod(aggregate(sequence(0, 14), 0L, (acc, i) -> acc +
            CASE WHEN pmod(14 - i, 2) = 1 THEN
              IF(2 * cast(substring(imei, i + 1, 1) AS INT) > 9,
                 2 * cast(substring(imei, i + 1, 1) AS INT) - 9,
                 2 * cast(substring(imei, i + 1, 1) AS INT))
            ELSE cast(substring(imei, i + 1, 1) AS INT) END), 10) = 0""")
        val vinVals = "CASE substring(vin, i + 1, 1) " +
          (0 to 9).map(d => s"WHEN '$d' THEN $d").mkString(" ") + " " +
          Seq('A' -> 1, 'B' -> 2, 'C' -> 3, 'D' -> 4, 'E' -> 5, 'F' -> 6,
            'G' -> 7, 'H' -> 8, 'J' -> 1, 'K' -> 2, 'L' -> 3, 'M' -> 4,
            'N' -> 5, 'P' -> 7, 'R' -> 9, 'S' -> 2, 'T' -> 3, 'U' -> 4,
            'V' -> 5, 'W' -> 6, 'X' -> 7, 'Y' -> 8, 'Z' -> 9)
            .map { case (c, v) => s"WHEN '$c' THEN $v" }.mkString(" ") + " END"
        val vinOk = expr(s"""
          IF(pmod(aggregate(sequence(0, 16), 0L, (acc, i) -> acc +
               element_at(array(8,7,6,5,4,3,2,10,0,9,8,7,6,5,4,3,2), i + 1) *
               ($vinVals)), 11) = 10, 'X',
             cast(pmod(aggregate(sequence(0, 16), 0L, (acc, i) -> acc +
               element_at(array(8,7,6,5,4,3,2,10,0,9,8,7,6,5,4,3,2), i + 1) *
               ($vinVals)), 11) AS STRING)) = substring(vin, 9, 1)""")
        val imei = Synth.dataFrame(s, """[{"name": "imei", "class": "imei"}]""", 20000)
          .agg(fcount(lit(1)).as("n"), fsum(luhnOk.cast("long")).as("n_valid"))
          .select(lit("imei").as("family"), col("n"), col("n_valid"))
        val vin = Synth.dataFrame(s, """[{"name": "vin", "class": "vin"}]""", 20000)
          .agg(fcount(lit(1)).as("n"), fsum(vinOk.cast("long")).as("n_valid"))
          .select(lit("vin").as("family"), col("n"), col("n_valid"))
        imei.unionByName(vin)
      },
      Some("""SELECT 'imei' AS family, CAST(20000 AS BIGINT) AS n,
          CAST(20000 AS BIGINT) AS n_valid
        UNION ALL SELECT 'vin', CAST(20000 AS BIGINT), CAST(20000 AS BIGINT)""")),

    // the stateful generators (CRP domains, PY words, markov text,
    // vehicle composites) made driver-checkable through INVARIANTS
    // recomputed independently in SQL: format regexes, the
    // domain-reversal identity, the exact markov word count, and the
    // vehicle field shapes — each family must validate on every row,
    // counted against a constant oracle
    QueryDef("g70_invariant_counts",
      (s, _) => {
        import org.apache.spark.sql.functions.{count => fcount, expr, lit, sum => fsum}
        def fam(name: String, df: org.apache.spark.sql.DataFrame,
            ok: org.apache.spark.sql.Column) =
          df.agg(fcount(lit(1)).as("n"), fsum(ok.cast("long")).as("n_ok"))
            .select(lit(name).as("family"), col("n"), col("n_ok"))
        val email = Synth.dataFrame(s, """[{"name": "e", "class": "email"}]""", 20000)
        val domain = Synth.dataFrame(s, """[{"name": "d", "class": "domain"}]""", 20000)
        val word = Synth.dataFrame(s, """[{"name": "w", "class": "word"}]""", 20000)
        val text = Synth.dataFrame(s,
          """[{"name": "t", "class": "text", "words": 20}]""", 5000)
        val vehicle = Synth.dataFrame(s, """[{"name": "v", "class": "vehicle"}]""", 20000)
        fam("email", email, col("e").rlike("^[a-z]+\\.[a-z]+@[a-z0-9.-]+$"))
          .unionByName(fam("domain_rev", domain,
            col("d.revDomain") === expr(
              "array_join(reverse(split(d.domain, '\\\\.')), '.')")))
          .unionByName(fam("word", word, col("w").rlike("^[a-z][a-z0-9]*$")))
          .unionByName(fam("markov_20w", text,
            expr("size(split(t, ' ')) = 20")))
          .unionByName(fam("vehicle", vehicle,
            col("v.license").rlike("^[A-Z]{3}-[0-9]{3}$") &&
              expr("length(v.vin) = 17") &&
              col("v.expiration").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$")))
      },
      Some("""SELECT * FROM (VALUES
          ('email', CAST(20000 AS BIGINT), CAST(20000 AS BIGINT)),
          ('domain_rev', CAST(20000 AS BIGINT), CAST(20000 AS BIGINT)),
          ('word', CAST(20000 AS BIGINT), CAST(20000 AS BIGINT)),
          ('markov_20w', CAST(5000 AS BIGINT), CAST(5000 AS BIGINT)),
          ('vehicle', CAST(20000 AS BIGINT), CAST(20000 AS BIGINT))
        ) AS t(family, n, n_ok)""")),

    // the fan-out simulations (dns, commuter, changer, cpoc, bursts)
    // driver-checked through VIOLATION counts: their row counts vary
    // with the simulated fan-out, but the number of rows violating the
    // recomputed invariants (format/flag consistency, timestamp
    // rendering, physical ranges, monotonicity, change-flag arithmetic)
    // is exactly zero — a constant the oracle can state
    QueryDef("g71_sim_violations",
      (s, _) => {
        import org.apache.spark.sql.functions.{expr, lit, sum => fsum}
        def fam(name: String, df: org.apache.spark.sql.DataFrame,
            bad: org.apache.spark.sql.Column) =
          df.agg(fsum(bad.cast("long")).as("n_bad"))
            .select(lit(name).as("family"), col("n_bad"))
        val tsRe = "'yyyy-MM-dd HH:mm:ss'"
        val dns = Synth.dataFrame(s,
          """[{"class": "dns", "flat": true, "meanQueries": 20}]""", 1000)
        val v4 = "^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}" +
          "(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$"
        val v6 = "^[0-9a-f]{1,4}(:[0-9a-f]{0,4})+$"
        val dnsBad = !((col("ipV4") && col("ip").rlike(v4)) ||
            (!col("ipV4") && col("ip").rlike(v6))) ||
          col("timestamp_s") =!= expr("timestamp_ms div 1000") ||
          col("time") =!= expr(s"date_format(timestamp_millis(timestamp_ms), $tsRe)")
        val commuter = CannedSources.commuterData(s, 20, Some("10001"))
        val comBad = col("mph") < 0 || col("mph") > 150 ||
          col("rpm") < 0 || col("rpm") > 10000 ||
          col("throttle") < 0 || col("throttle") > 100 || // percent, not fraction
          col("latitude") < 15 || col("latitude") > 75 ||
          col("longitude") < -170 || col("longitude") > -60 ||
          col("timestamp") =!= expr(s"date_format(timestamp_millis(t), $tsRe)")
        val changer = Synth.dataFrame(s,
          """[{"name": "cust", "class": "id"},
              {"name": "track", "class": "changer", "count": 8, "rate": "1/d",
               "values": [
                 {"name": "state", "class": "state"},
                 {"name": "score", "class": "int", "min": 300, "max": 850}]}]""", 2000)
        // the first element flags EVERY field as changed (initial state);
        // each later element flags exactly one
        val chBad = expr("size(track) != 8") ||
          expr("element_at(track, 1).changes.state + " +
            "element_at(track, 1).changes.score != 2") ||
          !expr("forall(slice(track, 2, size(track) - 1), " +
            "e -> e.changes.state + e.changes.score = 1)")
        val cpoc = Synth.dataFrame(s,
          """[{"name": "user", "class": "id"},
              {"name": "history", "class": "common-point-of-compromise"}]""", 2000)
        val cpBad = !expr("forall(history, e -> (e.fraud = 0 OR e.fraud = 1) " +
            s"AND e.merchant >= 0 " +
            s"AND e.date = date_format(timestamp_millis(e.timestamp_ms), $tsRe))") ||
          !expr("forall(zip_with(slice(history, 1, size(history) - 1), " +
            "slice(history, 2, size(history) - 1), " +
            "(x, y) -> x.timestamp_ms <= y.timestamp_ms), b -> b)")
        val bursts = Synth.dataFrame(s,
          """[{"name": "b", "class": "bursts", "value": {"class": "double"}}]""", 5000)
        val buBad = col("b.timestamp_s") =!= expr("b.timestamp_ms div 1000") ||
          col("b.time") =!= expr(s"date_format(timestamp_millis(b.timestamp_ms), $tsRe)")
        fam("dns", dns, dnsBad)
          .unionByName(fam("commuter", commuter, comBad))
          .unionByName(fam("changer", changer, chBad))
          .unionByName(fam("cpoc", cpoc, cpBad))
          .unionByName(fam("bursts", bursts, buBad))
      },
      Some("""SELECT * FROM (VALUES
          ('dns', CAST(0 AS BIGINT)), ('commuter', CAST(0 AS BIGINT)),
          ('changer', CAST(0 AS BIGINT)), ('cpoc', CAST(0 AS BIGINT)),
          ('bursts', CAST(0 AS BIGINT))
        ) AS t(family, n_bad)""")),

    // the flat-sequence EVENT series (the IoT flagship's cumulative
    // clock), hash-match-checked: exponential gaps from the keyed
    // uniform, left-associated prefix sums unrolled explicitly, and the
    // "Q" millis rendering. Probes whether DuckDB ln() matches JVM
    // Math.log bit-for-bit on this input range — if this query is green,
    // the stateful-series lowering has a full bit oracle.
    QueryDef("g74_series_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"class": "sequence", "flat": true, "lengthDistribution": 3,
             "base": {"class": "map", "value": [
               {"name": "ev", "class": "event", "format": "Q", "rate": "1/m"}]}}]""",
        20000),
      Some(SeriesOracle.sql)),

    // the flat-sequence RANDOM-WALK series (Box-Muller steps, cumulative
    // sum), bit-checked through floor(w * 1e6) micro-units — floor is
    // exact on identical doubles, so this is green iff sqrt/ln/cos all
    // reproduce bit-for-bit (sqrt is IEEE-exact, ln proven by g74, cos
    // is what this query probes)
    QueryDef("g75_walk_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"class": "sequence", "flat": true, "lengthDistribution": 3,
             "base": {"class": "map", "value": [
               {"name": "w", "class": "random-walk",
                "start": 30, "mean": 0, "sd": 1}]}}]""", 20000)
        .select(col("i"),
          org.apache.spark.sql.functions.floor(col("w") * 1000000d)
            .cast("long").as("wq")),
      Some(WalkOracle.sql)),

    // the `lookup` file source (json/csv/tsv dimension scan) made
    // driver-checkable: a known CSV dimension written at query time,
    // sampled uniform AND with min-of-3 skew from the per-partition
    // stream (partitions PINNED — interpreter streams are per-
    // partition), histogram counts compared to captured constants.
    // The skewed pick must visibly favor the first row.
    QueryDef("g83_lookup_hist",
      (s, _) => {
        val f = Staging.dir("g83").resolve("tiers.csv")
        java.nio.file.Files.writeString(f,
          "tier,code\ngold,1\nsilver,2\nbronze,3\n")
        Synth.dataFrame(s,
          s"""[{"name": "t", "class": "lookup", "file": "$f"},
               {"name": "ts", "class": "lookup", "file": "$f", "skew": 2}]""",
          20000, 42L, partitions = 8)
          .groupBy(col("t.tier").as("tier"), col("ts.tier").as("tier_skew"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
      },
      Some("""SELECT tier, tier_skew, CAST(n AS BIGINT) AS n FROM (VALUES
          ('bronze', 'bronze',  226), ('bronze', 'gold', 4779),
          ('bronze', 'silver', 1728), ('gold',   'bronze', 277),
          ('gold',   'gold',  4629), ('gold',   'silver', 1719),
          ('silver', 'bronze',  250), ('silver', 'gold', 4693),
          ('silver', 'silver', 1699)
        ) AS t(tier, tier_skew, n)""")),

    // the TextMessage canned source made driver-checkable with
    // zero-violation invariants (the g71 style — this source runs the
    // interpreter, whose sequential per-partition streams no SQL hash
    // chain can replay): both numbers carry their digit-range shape,
    // the Markov message its exact word count, the event timestamp its
    // rendered format. The imei field's Luhn arithmetic already has its
    // own bit oracle (g66).
    QueryDef("g84_textmessage_inv",
      (s, _) => {
        import org.apache.spark.sql.functions.{count, lit, sum, when}
        val tel = "^[2-9][0-9]{2}-[2-9][0-9]{2}-[1-9][0-9]{3}$"
        def bad(c: org.apache.spark.sql.Column) =
          sum(when(c, 0L).otherwise(1L))
        CannedSources.textMessage(s, 20000).agg(
          count(lit(1)).as("n"),
          bad(col("from").rlike(tel)).as("bad_from"),
          bad(col("to").rlike(tel)).as("bad_to"),
          bad(org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split(col("message"), " ")) === 12)
            .as("bad_words"),
          bad(col("timestamp").rlike(
            "^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}$"))
            .as("bad_ts"))
      },
      Some("""SELECT CAST(20000 AS BIGINT) AS n, CAST(0 AS BIGINT) AS bad_from,
          CAST(0 AS BIGINT) AS bad_to, CAST(0 AS BIGINT) AS bad_words,
          CAST(0 AS BIGINT) AS bad_ts
        FROM (VALUES (1)) AS t(x)""")),

    // the TextGenerator canned source: the word-count histogram is a
    // single exact row (every message has exactly `wordLength` words)
    QueryDef("g85_textgen_words",
      (s, _) => CannedSources.textGenerator(s, 20000, 25)
        .groupBy(org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split(col("message"), " "))
            .cast("long").as("nwords"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")),
      Some("""SELECT CAST(25 AS BIGINT) AS nwords, CAST(20000 AS BIGINT) AS n
        FROM (VALUES (1)) AS t(x)""")),

    // VARIABLE-length flat series on the fast path: the sequence length
    // itself is a hash-keyed draw (lengthDistribution int 1..4), the
    // event clock is the g74 series machinery, and the oracle emits
    // exactly the first `len` elements — flips the `sequence` length
    // distribution from rows-only to a full bit oracle
    QueryDef("g80_varlen_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"class": "sequence", "flat": true,
             "lengthDistribution": {"class": "int", "min": 1, "max": 4},
             "base": {"class": "map", "value": [
               {"name": "ev", "class": "event", "format": "Q", "rate": "1/m"}]}}]""",
        20000),
      Some(VarlenSeriesOracle.sql)),

    // the IoT FLAGSHIP schema itself, bit-checked end-to-end at 3
    // readings: uuid device ids (RFC-4122 surgery), public ipv4, the
    // zip-table lat/lon flatten, the formatted event clock, and the
    // random-walk temperature — every column of the flagship composed
    // in ONE query whose full output DuckDB recomputes bit-for-bit.
    // (The 100-reading production variant is the same machinery; 3
    // keeps the unrolled oracle chain tractable.)
    QueryDef("g82_iot_bits",
      (s, _) => {
        import org.apache.spark.sql.functions.floor
        Synth.dataFrameAuto(s, """[
            {"name": "i", "class": "id"},
            {"name": "device-id", "class": "uuid"},
            {"name": "device-ip", "class": "ipv4"},
            {"class": "flatten", "prefix": "",
             "value": {"class": "zip", "onlyContinental": true,
                       "fields": "latitude, longitude"}},
            {"class": "sequence", "lengthDistribution": 3,
             "base": {"class": "map", "value": [
               {"name": "time", "class": "event",
                "format": "yyyy-MM-dd HH:mm:ss", "rate": "1/m"},
               {"name": "temp", "class": "random-walk",
                "start": 30, "mean": 0, "sd": 1}]},
             "flat": true}
          ]""", 20000)
          .select(col("i"), col("device-id"), col("device-ip"),
            col("latitude"), col("longitude"), col("time"),
            floor(col("temp") * 1000000d).cast("long").as("tempq"))
      },
      Some(IotBitsOracle.sql)),

    // the IoT flagship via the Catalyst fast path: cumulative event
    // clocks and random walks as per-row prefix-sum arrays, one explode —
    // compare with g30 (same schema through the interpreter). r7: the
    // returned view is the per-device rollup (device dims + reading
    // count + first reading time), which DuckDB replays EXACTLY — the
    // device ladders are the proven g82 chains, n_readings pins the
    // 100-length explode, and min(time) is reading 1's formatted clock
    // (the event clock is nondecreasing, so the min IS gap-1 — one
    // hashInt chain). Per-reading bits at depth 3 are g82's oracle; the
    // full 100-step chain is deliberately not unrolled into SQL (~2k
    // materialized stages).
    QueryDef("g53_iot_fast",
      (s, _) => {
        import org.apache.spark.sql.functions.{count => fcount, lit, min}
        Synth.dataFrameAuto(s, CannedSources.iotSchemaJson, 1000)
          .groupBy(col("device-id"), col("device-ip"),
            col("latitude"), col("longitude"))
          .agg(fcount(lit(1)).as("n_readings"), min("time").as("first_time"))
      },
      Some(IotFastRollupOracle.sql)),

    // Catalyst fast path: the wide stateless schema as pure codegen'd
    // column expressions with a FULL bit oracle composed from the proven
    // ladder fragments (uuid surgery g56, ipv4 g58, int n#0 g56, date
    // g64, state/browser ladders g58, phone join g61). The normal
    // column is the one non-replayable-to-the-bit cell (libm log/cos
    // may differ in the last ulp across engines), so it ships as the
    // g78-convention clamped floor bucket. r9: 200k -> 20k rows — the
    // ladder proves bitness at any n, and the 200k replay was the
    // driver gate's single worst oracle (283 s of the 775 s budget
    // blowout; VERDICT r8 item 1). The 1M-row THROUGHPUT evidence for
    // the same schema lives in g121_wide_fastpath_1m (constant-
    // aggregate oracle, ~0 s replay).
    QueryDef("g51_columns_fast",
      (s, _) => {
        import org.apache.spark.sql.functions.{floor => ffloor, greatest, least, lit}
        Synth.dataFrameAuto(s,
          """[{"name": "i", "class": "id"},
              {"name": "u", "class": "uuid"},
              {"name": "ip", "class": "ipv4"},
              {"name": "n", "class": "int", "min": 0, "max": 1000000},
              {"name": "x", "class": "normal", "mean": 0, "sd": 1},
              {"name": "d", "class": "date", "start": "2020-01-01", "end": "2024-12-31"},
              {"name": "st", "class": "state"},
              {"name": "b", "class": "browser"},
              {"name": "phone", "class": "join", "separator": "-",
               "value": {"class": "sequence", "array": [
                 {"class": "int", "min": 200, "max": 999},
                 {"class": "int", "min": 200, "max": 999},
                 {"class": "int", "min": 1000, "max": 9999}]}}]""", 20000)
          .select(col("i"), col("u"), col("ip"), col("n"),
            greatest(lit(-4L), least(lit(4L), ffloor(col("x")))).cast("long").as("xb"),
            col("d"), col("st"), col("b"), col("phone"))
      },
      Some(ColumnsFastOracle.sql)),

    // the 1M-row THROUGHPUT variant of the g51 schema (the fast path's
    // whole-stage-codegen rate is the point — this is what the bench
    // measures; g51 at 20k carries the per-cell bit oracle). The
    // returned aggregates are exact constants under the pinned seed
    // (g78 convention — regenerate with `runMain graft.Verify <sf>
    // <out> g121_wide_fastpath_1m` after any intentional sampler
    // change), so the driver-gate replay costs ~0 s.
    QueryDef("g121_wide_fastpath_1m",
      (s, _) => {
        import org.apache.spark.sql.functions.{countDistinct, count => fcount, lit, max => fmax, min => fmin, sum => fsum}
        Synth.dataFrameAuto(s,
          """[{"name": "i", "class": "id"},
              {"name": "u", "class": "uuid"},
              {"name": "ip", "class": "ipv4"},
              {"name": "n", "class": "int", "min": 0, "max": 1000000},
              {"name": "d", "class": "date", "start": "2020-01-01", "end": "2024-12-31"},
              {"name": "st", "class": "state"},
              {"name": "b", "class": "browser"},
              {"name": "phone", "class": "join", "separator": "-",
               "value": {"class": "sequence", "array": [
                 {"class": "int", "min": 200, "max": 999},
                 {"class": "int", "min": 200, "max": 999},
                 {"class": "int", "min": 1000, "max": 9999}]}}]""", 1000000)
          .agg(fcount(lit(1)).as("n_rows"), fsum(col("n")).as("sum_n"),
            fmin(col("d")).as("min_d"), fmax(col("d")).as("max_d"),
            countDistinct(col("st")).as("n_states"),
            countDistinct(col("u")).as("n_uuids"),
            fmin(col("phone")).as("min_phone"))
      },
      Some(WideFastpath1mOracle.sql)),

    // the Catalyst fast path itself, hash-match-checked: id + int + uuid
    // are pure functions of xxhash64(id, salt), so DuckDB can recompute
    // every cell bit-for-bit (incl. the RFC-4122 bit surgery and hex
    // formatting) — a full-pipeline determinism oracle for the codegen
    // lowering, not just a rows-only smoke check
    QueryDef("g56_fastpath_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"name": "n", "class": "int", "min": 0, "max": 1000000},
            {"name": "u", "class": "uuid"}]""", 20000),
      Some(FastPathOracle.sql)),

    // the double (plain + skew ladder) and foreign-key lowerings,
    // hash-match-checked to the BIT: with min 0 / max 1 the generated
    // double IS (hash >>> 11) * 2^-53 exactly, so floor(x * 2^53)
    // recovers the full 53-bit payload — any drift in the uniform, the
    // skew least(), or the Zipf CASE ladder flips the hash-match
    QueryDef("g76_scalar_bits",
      (s, _) => {
        import org.apache.spark.sql.functions.floor
        Synth.dataFrameAuto(s,
          """[{"name": "i", "class": "id"},
              {"name": "x", "class": "double", "min": 0, "max": 1},
              {"name": "xs", "class": "double", "min": 0, "max": 1, "skew": 2},
              {"name": "fk", "class": "foreign-key", "size": 64, "skew": 1}]""",
          20000)
          .select(col("i"),
            floor(col("x") * 9007199254740992d).cast("long").as("xb"),
            floor(col("xs") * 9007199254740992d).cast("long").as("xsb"),
            col("fk"))
      },
      Some(ScalarBitsOracle.sql)),

    // the vector lowering, bit-checked per element: posexplode the
    // array and recover each element's 53-bit hash payload; the oracle
    // replays the (id, salt, element-index) keyed chains
    QueryDef("g77_vector_bits",
      (s, _) => {
        import org.apache.spark.sql.functions.{floor, posexplode}
        Synth.dataFrameAuto(s,
          """[{"name": "i", "class": "id"},
              {"name": "vec", "class": "vector", "length": 8}]""", 20000)
          .select(col("i"), posexplode(col("vec")))
          .select(col("i"), col("pos").cast("long").as("pos"),
            floor(col("col") * 9007199254740992d).cast("long").as("xb"))
      },
      Some(VectorBitsOracle.sql)),

    // the map combinator's struct composition, bit-checked field by
    // field (child salts derive from the m/a, m/b paths)
    QueryDef("g79_map_bits",
      (s, _) => {
        import org.apache.spark.sql.functions.floor
        Synth.dataFrameAuto(s,
          """[{"name": "i", "class": "id"},
              {"name": "m", "class": "map", "value": [
                {"name": "a", "class": "int", "min": 0, "max": 1000000},
                {"name": "b", "class": "double", "min": 0, "max": 1}]}]""",
          20000)
          .select(col("i"), col("m.a").as("a"),
            floor(col("m.b") * 9007199254740992d).cast("long").as("bb"))
      },
      Some(MapBitsOracle.sql)),

    // the sequential-state samplers (normal's Box–Muller via
    // java.util.Random.nextGaussian, gamma's rejection sampler, the
    // pitman_yor CRP) histogram-checked against constants: generation is
    // bit-deterministic under (seed, partition count), so the bucket
    // counts are exact constants — a change in any sampler's draw
    // sequence flips the hash-match. Partitions are PINNED (interpreter
    // streams are per-partition; defaultParallelism would vary by host).
    QueryDef("g78_dist_histograms",
      (s, _) => {
        import org.apache.spark.sql.functions.{count => fcount, floor => ffloor,
          greatest, least, lit}
        val df = Synth.dataFrame(s,
          """[{"name": "nv", "class": "normal", "mean": 0, "sd": 1},
              {"name": "gv", "class": "gamma", "alpha": 2, "beta": 1},
              {"name": "py", "class": "pitman_yor", "alpha": 3, "discount": 0.3}]""",
          50000, 42L, partitions = 8)
        val n = df.select(lit("normal").as("family"),
          greatest(lit(-4L), least(lit(4L), ffloor(col("nv")))).cast("long").as("bucket"))
        val g = df.select(lit("gamma").as("family"),
          least(lit(8L), ffloor(col("gv"))).cast("long").as("bucket"))
        val p = df.select(lit("pitman_yor").as("family"),
          least(lit(10L), col("py")).cast("long").as("bucket"))
        n.unionAll(g).unionAll(p).groupBy("family", "bucket")
          .agg(fcount(lit(1)).as("n"))
      },
      Some(DistHistOracle.sql)),

    // skew primitives, driver-checked by RESULT EQUALITY: the salted
    // two-phase aggregation and the salt-replicated join must produce
    // exactly what the plain groupBy / join produce (associativity /
    // key-match preservation) — DuckDB computes the plain form
    QueryDef("g59_salted_agg",
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, round, sum}
        val li = Tables.read(s, d, "lineitem")
        graft.ops.Skew.saltedAgg(li, "l_returnflag", salts = 16,
          "cnt" -> count(lit(1)),
          "qty_cents" -> sum(round(col("l_quantity") * 100).cast("long")))
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
        CAST(sum(cast(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
        FROM lineitem GROUP BY l_returnflag""")),
    QueryDef("g60_salted_join",
      (s, d) => {
        val orders = Tables.read(s, d, "orders")
          .select(col("o_custkey").as("custkey"), col("o_orderkey"))
        val cust = Tables.read(s, d, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        graft.ops.Skew.saltedJoin(orders, cust, "custkey", salts = 8)
          .select(col("o_orderkey"), col("custkey"), col("c_mktsegment"))
      },
      Some("""SELECT o_orderkey, o_custkey AS custkey, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey""")),

    // the template and XML sinks over fast-path-generated columns: the
    // whole pipeline (generation lowering + sink rendering) reproduces in
    // DuckDB, so the sink family gets hash-match oracles instead of
    // rows-only checks
    QueryDef("g61_template_bits",
      (s, _) => Processors.renderTemplate(
        Synth.dataFrameAuto(s,
          """[{"name": "i", "class": "id"},
              {"name": "phone", "class": "join", "separator": "-",
               "value": {"class": "sequence", "array": [
                 {"class": "int", "min": 200, "max": 999},
                 {"class": "int", "min": 200, "max": 999},
                 {"class": "int", "min": 1000, "max": 9999}]}}]""", 20000)
          .select(col("i"), col("phone")),
        "call ${phone} now (ref ${i})"),
      Some(SinkOracles.templateSql)),
    QueryDef("g62_xml_bits",
      (s, _) => Processors.toXml(
        Synth.dataFrameAuto(s,
          """[{"name": "i", "class": "id"},
              {"name": "b", "class": "browser"},
              {"name": "n", "class": "int", "min": 0, "max": 10}]""", 20000)),
      Some(SinkOracles.xmlSql)),

    // the country/language/os ladders and the zip-table flatten,
    // hash-match-checked: the zip pick is one shared hash index into the
    // inlined continental table, so zip/city/state stay row-consistent
    // (10001 -> NEW YORK) on both engines
    QueryDef("g65_geo_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"name": "co", "class": "country"},
            {"name": "lang", "class": "language"},
            {"name": "os", "class": "os"},
            {"class": "flatten", "prefix": "",
             "value": {"class": "zip", "onlyContinental": true,
                       "fields": "zip, city, state"}}]""", 20000),
      Some(GeoOracle.sql)),

    // the multinomial CASE-chain and ipv4 lowerings, hash-match-checked:
    // cumulative weight ladders are inlined as identical double literals
    // on both sides (ColumnCompiler.cumWeights), so every branch pick
    // reproduces bit-for-bit in DuckDB
    QueryDef("g58_lookup_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"name": "st", "class": "state"},
            {"name": "b", "class": "browser"},
            {"name": "ip", "class": "ipv4"}]""", 20000),
      Some(LookupOracle.sql)),

    // the name/street/username lowerings (weighted + uniform CASE
    // ladders, rank-weighted stem + numeric suffix), hash-match-checked:
    // flips three §2.1.2 operators from rows-only to a real oracle
    QueryDef("g63_names_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"name": "nm", "class": "name", "type": "first_last"},
            {"name": "street", "class": "street-name"},
            {"name": "uname", "class": "username"}]""", 20000),
      Some(NamesOracle.sql)),

    // the ssn and bounded-date lowerings, hash-match-checked: uniform
    // issued-area pick + group/serial digits, and the date range draw
    // rendered through two formats (IEEE doubles + UTC formatting
    // reproduce bit-for-bit in DuckDB)
    QueryDef("g64_ssn_date_bits",
      (s, _) => Synth.dataFrameAuto(s,
        """[{"name": "i", "class": "id"},
            {"name": "ssn", "class": "ssn"},
            {"name": "d", "class": "date", "start": "2020-01-01", "end": "2024-12-31"},
            {"name": "ts", "class": "date", "format": "yyyy-MM-dd HH:mm:ss",
             "start": "2023-01-01 00:00:00", "end": "2023-12-31 00:00:00"}]""", 20000),
      Some(SsnDateOracle.sql)),

    // -------- LLM-pipeline operators whose outputs are approximate
    // (LSH/IVF recall < 1), so no SQL oracle: rows-only here, recall
    // bounds asserted in src/test (DedupOpsSpec / SimilarityOpsSpec).
    // threshold 0.7 with banding auto-derived from it (chooseBanding →
    // 16 bands x 4 rows, capture 0.988 at 0.7): the corpus's real
    // near-dups sit at jaccard >= 0.9, well above the capture floor, and
    // the steeper s-curve admits far fewer false candidates than a
    // lower threshold would. The round-2 call used threshold 0.05 with a
    // fixed banding — mismatched on both sides (midpoint 0.5 misses
    // 0.05-pairs; a banding loose enough for 0.05 admits nearly all
    // pairs, the candidate-set scale-killer).
    // MinHash-LSH with a FULL hash-match oracle (r7): the entire
    // pipeline — \s+ tokenize, 3-word shingles, string-XXH64 (the g113
    // primitive), the 64-permutation signature (min over
    // hashInt(j, hashLong(h, 42))), s-curve banding with multi-arg
    // band-key chains, bucket self-join, and hashed-set Jaccard
    // verification — replays bit-for-bit in DuckDB, including the
    // double-valued jaccard column (exact int ratio, correctly rounded
    // identically in both engines). The banding the oracle unrolls
    // comes from the SAME chooseBanding call the operator makes.
    QueryDef("g46_minhash_lsh",
      (s, d) => graft.ops.Dedup.minHashLsh(
        Tables.read(s, d, "documents"), "doc_id", "text", threshold = 0.7),
      Some(MinHashLshOracle.sql)),
    // maxHamming 3 = 4 bands of 16 bits: selective buckets. Larger
    // distances keep recall 1.0 (pigeonhole banding) but the narrower
    // band keys stop pruning — 13 bands of 4 bits benched 2x slower.
    // SimHash near-dup with a FULL hash-match oracle (r7): token
    // multiset → string-XXH64 per distinct token (g113 primitive) →
    // 64 per-bit majority counters (duplicates count, the multiset
    // contract) → banded bucket join → hamming <= 3 verification, all
    // replayed in DuckDB including the arithmetic-shift band keys.
    QueryDef("g47_simhash_pairs",
      (s, d) => graft.ops.Dedup.simHashPairs(
        Tables.read(s, d, "documents"), "doc_id", "text", maxHamming = 3),
      Some(SimHashOracle.sql)),
    // the raw corpus is random vectors (max pairwise cosine ~0.5, no true
    // near-dups), so near-dup detection is exercised against a
    // deterministically perturbed copy of the corpus: each planted pair
    // sits at cosine ~0.998 and must be recovered at threshold 0.98 by
    // the multi-table SRP index (16-bit buckets x 4 tables)
    // SRP embedding near-dup with a FULL hash-match oracle (r7): the
    // hash-derived hyperplane signs are data-independent, so the oracle
    // precomputes all nTables×nBits×dim of them JVM-side (the same
    // XXH64 calls SrpSig makes) and embeds them as literal sign lists;
    // the xxhash-based perturbation, the index-order ±x sign dots, the
    // any-table bucket union, and the cosine verification all replay
    // exactly (every float op correctly rounded from identical inputs).
    QueryDef("g48_embed_neardup",
      (s, d) => {
        import org.apache.spark.sql.functions.{lit, pmod, transform, xxhash64}
        val base = Tables.read(s, d, "embeddings")
        val perturbed = base
          .withColumn("vec_id", col("vec_id") + lit(1000000L))
          .withColumn("embedding", transform(col("embedding"), (x, i) =>
            (x.cast("double") *
              (lit(1.0) + (pmod(xxhash64(col("vec_id"), i), lit(2001L)) - 1000L)
                .cast("double") / lit(10000.0))).cast("float")))
        graft.ops.Dedup.embeddingNearDup(base.unionByName(perturbed),
          "vec_id", "embedding", threshold = 0.98)
      },
      Some(EmbedNearDupOracle.sql)),
    // r10: the float-fit ANN family (g49/g67/g86/g89/g91/g107) ships
    // captured (qid, rnk, neighbor)-digest pins — annPin/PinOracles —
    // facts of the sf0.01 gate corpus, so the driver gate hash-checks
    // the serving triples instead of recording no_oracle rows.
    annPinDef("g49_ann_ivf")((s, d) => {
      val vecs = Tables.read(s, d, "embeddings")
      val centroids = BuildOnce("g49", d) {
        graft.ops.Similarity.fitCentroids(vecs, "embedding", 16)
      }
      graft.ops.Similarity.ivfTopK(vecs,
        vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10, centroids,
        nProbe = 4)
    }),
    // the disk-backed IVF index: corpus written partitioned by cluster
    // id, probes read back through parquet partition pruning (only the
    // probed directories are listed) — the storage-layout form of g49's
    // runtime probe filter, served by the graft.ops.Ivf core. The
    // disk==memory equivalence and the pruned scan are pinned in OpsSpec.
    annPinDef("g67_ann_ivf_disk")((s, d) => {
      val vecs = Tables.read(s, d, "embeddings")
      val dir = BuildOnce.dir("g67_ivf", d) { dir =>
        val centroids = graft.ops.Similarity.fitCentroids(vecs, "embedding", 16)
        graft.ops.Similarity.writeIvfIndex(vecs, "vec_id", "embedding", dir, centroids)
      }
      graft.ops.Similarity.ivfTopKFromIndex(dir,
        vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10, nProbe = 4)
    }),

    // quantized IVF disk index on the Ivf core (the int8 scorer itself
    // is bit-oracled by q68, the pruned scan pinned in ScaleOpsSpec):
    // probed directories are the only ones opened
    // AND hold int8 codes — a fraction of a fraction of the bytes at
    // 100 TB
    annPinDef("g86_ann_ivf_quant")((s, d) => {
      val vecs = Tables.read(s, d, "embeddings")
      val dir = BuildOnce.dir("g86_ivfq", d) { dir =>
        val centroids = graft.ops.Similarity.fitCentroids(vecs, "embedding", 16)
        graft.ops.Quantization.writeQuantizedIvfIndex(
          vecs, "vec_id", "embedding", dir, centroids)
      }
      graft.ops.Quantization.quantizedIvfTopKFromIndex(dir,
        vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10, nProbe = 4)
    }),

    // deflate compression-ratio quality signal. r9: HASH-MATCH oracled
    // via the round-trip CRC — the query inflates the stream it just
    // deflated and CRC-32s the result, and DuckDB recomputes the same
    // CRC from the raw text bytes (crc32Expr), so the compressed
    // stream is bound to the exact input content. The deflate LENGTH
    // is the one remaining irreducible cell (no SQL deflate exists);
    // its determinism + the repetitive-vs-natural separation stay
    // ScalaTest-asserted, and it still executes here (crc_rt forces
    // the full compress+decompress per row).
    QueryDef("g90_compress_signal",
      (s, d) => graft.ops.TextAnalysis.compressionSignals(
        Tables.read(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bytes"), col("crc_rt")),
      Some {
        import graft.queries.DuckXxHash._
        val ch = chain("b",
          "SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS n_bytes, " +
            "hex(encode(coalesce(text, ''))) AS hhx FROM documents")
          .cte("bl", "SELECT doc_id, n_bytes, " +
            s"${byteListSql("hhx", "n_bytes")} AS bl FROM b")
        ch.render(
          s"SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
            s"CAST(n_bytes AS BIGINT) AS n_bytes, " +
            s"CAST(${crc32Expr("bl")} AS BIGINT) AS crc_rt FROM ${ch.last}")
      }),

    // product-quantized ANN (the ranking math itself is integer-exact
    // and property-tested in ScaleOpsSpec): 8 six-bit codes replace 64
    // floats — ~40× less candidate memory traffic than float brute
    // force, scored by m table lookups per candidate
    annPinDef("g89_ann_pq")((s, d) => {
      val vecs = Tables.read(s, d, "embeddings")
      val cbs = BuildOnce("g89", d) {
        graft.ops.Pq.fitCodebooks(vecs, "embedding", m = 8, k = 64)
      }
      graft.ops.Pq.adcTopK(
        graft.ops.Pq.encode(vecs, "vec_id", "embedding", cbs),
        vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", cbs, 10)
    }),

    // IVF-PQ disk index: all three 100 TB ANN levers stacked — probed
    // directories are the only ones opened (the Ivf core), rows inside
    // are ~40x-compressed PQ codes, and the scorer is table-lookup ADC.
    // Scores proven identical to the g89 kernel and the pruned scan
    // pinned by ScaleOpsSpec.
    annPinDef("g91_ann_ivfpq")((s, d) => {
      val vecs = Tables.read(s, d, "embeddings")
      val dir = BuildOnce.dir("g91_ivfpq", d) { dir =>
        val centroids = graft.ops.Similarity.fitCentroids(vecs, "embedding", 16)
        val cbs = graft.ops.Pq.fitCodebooks(vecs, "embedding", m = 8, k = 64)
        graft.ops.Pq.writePqIvfIndex(vecs, "vec_id", "embedding", dir, centroids, cbs)
      }
      graft.ops.Pq.pqIvfTopKFromIndex(dir,
        vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10, nProbe = 4)
    }),

    // residual IVF-PQ: the faiss-proper encoding — codes quantize the
    // residual to the coarse centroid, serving adds the per-probe
    // integer bias to the same ADC lookups. A/B superiority over raw
    // encoding pinned in ScaleOpsSpec.
    annPinDef("g107_ann_residual_pq")((s, d) => {
      val vecs = Tables.read(s, d, "embeddings")
      val dir = BuildOnce.dir("g107_rpq", d) { dir =>
        val centroids = graft.ops.Similarity.fitCentroids(vecs, "embedding", 16)
        val cbs = graft.ops.Pq.fitResidualCodebooks(vecs, "embedding", centroids,
          m = 8, k = 64)
        graft.ops.Pq.writeResidualPqIvfIndex(vecs, "vec_id", "embedding", dir,
          centroids, cbs)
      }
      graft.ops.Pq.residualPqIvfTopKFromIndex(dir,
        vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10, nProbe = 4)
    }),

    // the hash-IVF disk index: the Ivf serving core of g67/g86/g91 with
    // a FULL hash-match oracle. Coarse assignment + probe choice are exact
    // BIGINT dots against hash-derived pseudo-centroids (the q54
    // convention), codes are the bit-oracled q68 int8 quantization, so
    // the entire index lifecycle — build, rout, prune, score, rank —
    // replays bit-for-bit in DuckDB. This is the family's end-to-end
    // correctness anchor; the float-k-means variants (g67/g86/g91/g107)
    // serve through the same Ivf core with other probe expansions and
    // scorers, but can't be cross-engine-hashed.
    QueryDef("g110_ann_hash_ivf",
      (s, d) => {
        val vecs = Tables.read(s, d, "embeddings")
        val dir = BuildOnce.dir("g110_hivf", d) { dir =>
          graft.ops.Quantization.writeHashIvfIndex(vecs, "vec_id", "embedding", dir, 8)
        }
        graft.ops.Quantization.hashIvfTopKFromIndex(dir,
          vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10,
          numClusters = 8, nProbe = 2)
      },
      Some(HashIvfOracle.sql)),

    // the SAME serve path as a STREAM — the online-ANN-serving shape:
    // queries arrive in micro-batches (maxFilesPerTrigger=1 over two
    // parquet files) and foreachBatch serves each batch against the
    // STATIC disk index (stream-static, index built once, probe
    // pruning per batch). Each query is served independently, so the
    // union over micro-batches equals the batch serve over the full
    // query set — g110's DuckDB oracle replays this output bit-for-bit,
    // making it the first STREAMING query with a full ANN serving
    // oracle. Each batch writes (overwrite) to its own batchId-derived
    // subdirectory, so a replayed batch lands on the same path instead
    // of appending duplicates — idempotent even if the sink batch is
    // re-executed.
    QueryDef("g114_stream_ann_serve",
      (s, d) => streamScoped(s, "g114") { st =>
        val vecs = Tables.read(s, d, "embeddings")
        val dir = BuildOnce.dir("g110_hivf", d) { dir =>
          graft.ops.Quantization.writeHashIvfIndex(vecs, "vec_id", "embedding", dir, 8)
        }
        val q = vecs.filter(col("vec_id") % 50 === 0)
        val streamDir = st.dir("queries")
        StreamFiles.writeMany(Seq(
          "a" -> q.filter(col("vec_id") % 100 === 0),
          "b" -> q.filter(col("vec_id") % 100 =!= 0)), streamDir)
        val outDir = st.dir("out").toString
        val sq = s.readStream.schema(q.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            graft.ops.Quantization.hashIvfTopKFromIndex(dir, batch,
              "vec_id", "embedding", 10, numClusters = 8, nProbe = 2)
              .write.mode("overwrite").parquet(s"$outDir/batch=$bid")
          }
          .trigger(Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
        // `batch=N` subdirs surface as a discovered partition column;
        // drop it — the oracle sees the union of batches, not the split.
        // Materialized: the scope deletes outDir on return.
        materialized(s.read.parquet(outDir).drop("batch"))
      },
      Some(HashIvfOracle.sql)),

    // incremental index maintenance with a FULL oracle: build the index
    // on two thirds of the corpus, APPEND the remaining third
    // (appendToHashIvfIndex — hash routing is stateless, so no rebuild,
    // no read of existing shards), then serve. The appended index is
    // serve-identical to one built on the union, so g110's oracle (the
    // full-corpus replay) proves the append path end-to-end: any row
    // lost, duplicated, or mis-routed by the append would break the
    // hash match.
    QueryDef("g115_ann_index_append",
      (s, d) => {
        val vecs = Tables.read(s, d, "embeddings")
        val dir = BuildOnce.dir("g115_hivf_app", d) { dir =>
          graft.ops.Quantization.writeHashIvfIndex(
            vecs.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding", dir, 8)
          graft.ops.Quantization.appendToHashIvfIndex(
            vecs.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", dir, 8)
        }
        graft.ops.Quantization.hashIvfTopKFromIndex(dir,
          vecs.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10,
          numClusters = 8, nProbe = 2)
      },
      Some(HashIvfOracle.sql)),

    // index DELETE + COMPACTION with a full oracle (r11, VERDICT r10
    // item 7): tombstone a fifth of the corpus
    // (deleteFromHashIvfIndex — an append, no shard rewrite), serve
    // through the tombstone anti-join, then compact (tombstones become
    // physical, one file per cluster) and serve the compacted copy.
    // BOTH legs must hash-match the same replay over the shrunk corpus
    // — a row that survived deletion, resurfaced after compaction, or
    // vanished wrongly breaks one leg's hash.
    QueryDef("g127_ann_index_delete",
      (s, d) => {
        val vecs = Tables.read(s, d, "embeddings")
        val dir = BuildOnce.dir("g127_hivf_del", d) { dir =>
          graft.ops.Quantization.writeHashIvfIndex(
            vecs, "vec_id", "embedding", dir, 8)
          graft.ops.Quantization.deleteFromHashIvfIndex(dir,
            vecs.filter(col("vec_id") % 5 === 1).select("vec_id"))
        }
        val dir2 = BuildOnce.dir("g127_hivf_cmp", d) { d2 =>
          graft.ops.Quantization.compactHashIvfIndex(s, dir, d2)
        }
        val queries = vecs.filter(col("vec_id") % 50 === 0)
        def serve(p: String) = graft.ops.Quantization.hashIvfTopKFromIndex(
          p, queries, "vec_id", "embedding", 10, numClusters = 8, nProbe = 2)
        serve(dir).withColumn("leg", org.apache.spark.sql.functions.lit("tomb"))
          .unionByName(serve(dir2).withColumn("leg",
            org.apache.spark.sql.functions.lit("compact")))
      },
      Some(HashIvfOracle.sqlDeleted)),

    // the string-XXH64 primitive itself, hash-match-checked: Spark's
    // xxhash64 over VARCHAR replayed in DuckDB by the full canonical
    // algorithm (DuckXxHash.hashStringSteps — 4-lane stripes, tail
    // chunks, byte loop, avalanche) across every length class the
    // corpus produces: whole document texts (many 32-byte stripes) and
    // 3-word shingles (the <32 and 1-stripe paths). This is the
    // primitive that makes the MinHash-LSH pipeline cross-engine
    // replayable (g46's oracle builds on it).
    QueryDef("g113_strhash_bits",
      (s, d) => {
        import org.apache.spark.sql.functions.{explode, lit, lower, split, trim, xxhash64}
        val docs = Tables.read(s, d, "documents")
        val toks = docs.select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("w"))
        val sh = toks
          .select(explode(graft.ops.Dedup.shinglesFromTokens(col("w"), 3)).as("key"))
          .distinct()
          .select(lit("sh").as("kind"), col("key"), xxhash64(col("key")).as("h"))
        val dc = docs.select(lit("doc").as("kind"),
          col("doc_id").cast("string").as("key"), xxhash64(col("text")).as("h"))
        dc.unionByName(sh)
      },
      Some(StrHashOracle.sql)),

    // end-to-end near-dup dedup decision with a FULL hash-match oracle
    // (r7): LSH pairs (the g46 machinery at threshold 0.8) -> connected
    // components (replayed as a recursive transitive-closure CTE —
    // cluster = min reachable id, the same fixpoint pointer jumping
    // converges to) -> one canonical survivor per cluster.
    QueryDef("g52_dedup_decision",
      (s, d) => graft.ops.Clusters.dedupDecision(
        Tables.read(s, d, "documents"), "doc_id", "text", threshold = 0.8),
      Some(MinHashLshOracle.decisionSql)),

    // distributed BPE merge learning (tokenizer FITTING, not just
    // application): one corpus pass builds the bounded word-frequency
    // table, then the merge loop runs in memory over those counts with
    // an incremental pair index (see BpeTrainer scaladoc). No SQL
    // engine replays an iterative argmax-and-rewrite loop, but the
    // learned table is integer-deterministic, so r10 pins the whole
    // 10-row output as captured VALUES (sf0.01 corpus fact —
    // PinOracles); the list is ALSO pinned against an independent
    // reference implementation (and proven partitioning-invariant) in
    // OpsSpec.
    QueryDef("g94_bpe_merges",
      (s, d) => {
        import s.implicits._
        graft.ops.BpeTrainer.learnMerges(
          Tables.read(s, d, "documents"), "text", nMerges = 10)
          .toDF("rank", "left", "right", "pair_count")
      },
      graft.queries.PinOracles.sql.get("g94_bpe_merges")),

    // Structured Streaming made driver-visible: the events table replayed
    // through a bounded file stream into a watermarked tumbling-window
    // aggregation (AvailableNow trigger, memory sink); the returned batch
    // result must hash-match DuckDB's equivalent batch GROUP BY. This is
    // the same readStream → watermark → window → writeStream pipeline a
    // live source would use — only the trigger bounds it.
    QueryDef("g55_stream_counts",
      (s, d) => streamScoped(s, "g55") { st =>
        import org.apache.spark.sql.functions.{count, expr, lit, timestamp_micros,
          unix_timestamp, window}
        // ts is bigint NANOS; integer `div` keeps precision (a double
        // division would lose micros above 2^53)
        val counts = st.events(d)._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            col("event_type"), col("n"))
        st.drain(counts, "complete")
      },
      Some("""SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS bucket_s,
        event_type, count(*) AS n FROM events GROUP BY 1, 2""")),

    // the flatMapGroupsWithState sessionizer made driver-visible: events
    // replayed through a bounded stream with a far-future sentinel row
    // whose watermark advance closes every real session (EventTimeTimeout
    // fires in the trailing no-data micro-batch); the emitted sessions
    // must hash-match DuckDB's batch gap-sessionization
    QueryDef("g57_stream_sessions",
      (s, d) => streamScoped(s, "g57") { st =>
        import org.apache.spark.sql.functions.{expr, timestamp_micros}
        val gapSeconds = 1800L
        // sentinel 10 gaps past the last event
        val stream = st.events(d, Some(10L * gapSeconds))._2
          .select(col("user_id").as("key"),
            timestamp_micros(expr("ts div 1000")).as("event_time"))
        val sessions = graft.streaming.Sessionize.sessions(stream, gapSeconds)
        st.drain(sessions.filter(col("key") >= 0).toDF(), "append")
          .select(col("key"), col("startMs").as("start_ms"),
            col("endMs").as("end_ms"), col("nEvents").as("n_events"))
      },
      Some("""WITH e AS (
          SELECT user_id AS key, epoch_ns(ts) // 1000000 AS t FROM events),
        m AS (
          SELECT key, t,
            CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000
                 THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY key ORDER BY t)),
        sess AS (
          SELECT key, t,
            SUM(brk) OVER (PARTITION BY key ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
        SELECT key, MIN(t) AS start_ms, MAX(t) AS end_ms,
          CAST(count(*) AS BIGINT) AS n_events
        FROM sess GROUP BY key, sid""")),

    // the Misra-Gries freq_sketch aggregate INSIDE Structured Streaming
    // state: windowed heavy-hitter profiling where the per-window state
    // is the capped counter map (constant size), never the distinct key
    // set — the sketch's mergeable TypedImperativeAggregate buffer is
    // exactly what the state store checkpoints. Capacity 32 > the 5
    // event types, so the bounded replay is in the sketch's exact
    // regime and must hash-match DuckDB's batch counts ranked
    // (cnt desc, item asc).
    QueryDef("g88_stream_freq",
      (s, d) => streamScoped(s, "g88") { st =>
        import org.apache.spark.sql.functions.{call_function, expr, lit,
          posexplode, timestamp_micros, unix_timestamp, window}
        val freq = st.events(d)._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(call_function("freq_sketch", col("event_type"), lit(32)).as("freq"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            posexplode(col("freq")).as(Seq("p", "f")))
          .select(col("bucket_s"), (col("p") + 1).cast("long").as("rnk"),
            col("f.item").as("item"), col("f.cnt").as("cnt"))
        st.drain(freq, "complete")
      },
      Some("""WITH c AS (
          SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS bucket_s,
            event_type AS item, count(*) AS cnt FROM events GROUP BY 1, 2)
        SELECT bucket_s, CAST(rnk AS BIGINT) AS rnk, item, CAST(cnt AS BIGINT) AS cnt
        FROM (SELECT bucket_s, item, cnt, row_number() OVER
          (PARTITION BY bucket_s ORDER BY cnt DESC, item) AS rnk FROM c)
        WHERE rnk <= 32""")),

    // the quantile_sketch aggregate INSIDE Structured Streaming state:
    // per-hour latency/value quantiles where the per-window state is
    // the bounded compaction buffer (<= capacity*levels values), never
    // the window's raw value list — the mergeable
    // TypedImperativeAggregate buffer is exactly what the state store
    // checkpoints, same contract as g88's freq_sketch. Hour buckets
    // hold <= 30 events at sf0.01 and <= 175 at sf0.1, both << capacity
    // 256, so the bounded replay is in the sketch's exact regime at
    // every driver scale factor and nearest-rank extraction must
    // hash-match DuckDB's batch ranked-window quantiles (the compaction
    // regime is ScalaTest's job). Value micros are floored
    // on both sides (Spark's double->long cast truncates, DuckDB's
    // rounds — floor() pins them to the same integer).
    QueryDef("g92_stream_quantiles",
      (s, d) => streamScoped(s, "g92") { st =>
        import org.apache.spark.sql.functions.{call_function, ceil, expr, floor,
          lit, timestamp_micros, unix_timestamp, window}
        val sketches = st.events(d)._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withColumn("v_us", floor(col("value") * lit(1000000d)).cast("long"))
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(call_function("quantile_sketch", col("v_us"), lit(256)).as("qs"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"), col("qs"))
        import graft.ops.Sketches
        st.drain(sketches, "complete")
          .withColumn("__W", Sketches.summaryWeight(col("qs")))
          .withColumn("__t50", ceil(col("__W") * lit(0.5)).cast("long"))
          .withColumn("__t90", ceil(col("__W") * lit(0.9)).cast("long"))
          .select(col("bucket_s"), col("__W").as("n_events"),
            Sketches.quantileFromSummary(col("qs"), col("__t50")).as("p50_us"),
            Sketches.quantileFromSummary(col("qs"), col("__t90")).as("p90_us"))
      },
      Some("""WITH e AS (
          SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS bucket_s,
            CAST(floor(value * 1000000) AS BIGINT) AS v FROM events),
        r AS (SELECT bucket_s, v,
            row_number() OVER (PARTITION BY bucket_s ORDER BY v) AS rn,
            count(*) OVER (PARTITION BY bucket_s) AS n FROM e)
        SELECT bucket_s, CAST(max(n) AS BIGINT) AS n_events,
          max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN v END) AS p50_us,
          max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN v END) AS p90_us
        FROM r GROUP BY bucket_s""")),

    // the KMV distinct sketch INSIDE Structured Streaming state:
    // per-hour distinct users where the checkpointed state is the
    // capped bottom-k hash buffer, never the distinct user set. Hour
    // buckets hold <= 30 distinct users at sf0.01 and <= 166 at sf0.1,
    // both << k = 256, so every sketch is in its EXACT regime at every
    // driver scale factor (the sketch IS the distinct hash set and the
    // estimator returns its size) — the bounded replay must equal
    // DuckDB's batch count(DISTINCT) per bucket.
    QueryDef("g93_stream_distinct",
      (s, d) => streamScoped(s, "g93") { st =>
        import org.apache.spark.sql.functions.{call_function, expr, lit,
          timestamp_micros, unix_timestamp, window, xxhash64}
        val distinct = st.events(d)._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(call_function("kmv_sketch", xxhash64(col("user_id")), lit(256)).as("kmv"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            graft.ops.Sketches.kmvEstimate(col("kmv"), 256).as("n_users"))
        st.drain(distinct, "complete")
      },
      Some("""SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS bucket_s,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1""")),

    // STREAM-STREAM interval join made driver-visible: views joined to
    // same-user clicks within 24 hours, both sides watermarked so Spark
    // bounds the join state (the production shape for impression->click
    // attribution). Bounded replay via AvailableNow; the batch oracle is
    // the identical interval join in DuckDB. All comparisons and the lag
    // run in per-side TRUNCATED units (ns -> us for the join bound,
    // ns -> ms for the lag) because Spark's event_time is micros-
    // truncated before comparing — flooring the difference instead
    // would disagree by 1 around sub-unit remainders.
    QueryDef("g81_stream_interval_join",
      (s, d) => streamScoped(s, "g81") { st =>
        import org.apache.spark.sql.functions.{expr, timestamp_micros, unix_millis}
        val src = st.events(d)._2
        def side(kind: String, idAs: String, userAs: String, tAs: String) =
          src.filter(col("event_type") === kind)
            .select(col("event_id").as(idAs), col("user_id").as(userAs),
              timestamp_micros(expr("ts div 1000")).as(tAs))
            .withWatermark(tAs, "1 hour")
        val views = side("view", "view_id", "vu", "vt")
        val clicks = side("click", "click_id", "cu", "ct")
        val joined = views.join(clicks,
          col("vu") === col("cu") && col("ct") >= col("vt") &&
            col("ct") <= col("vt") + expr("INTERVAL 24 HOURS"))
          .select(col("view_id"), col("click_id"),
            (unix_millis(col("ct")) - unix_millis(col("vt"))).as("lag_ms"))
        st.drain(joined, "append")
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
                epoch_ns(ts) // 1000 AS us FROM events)
        SELECT v.event_id AS view_id, c.event_id AS click_id,
          CAST(c.us // 1000 - v.us // 1000 AS BIGINT) AS lag_ms
        FROM e v JOIN e c ON v.user_id = c.user_id
          AND v.event_type = 'view' AND c.event_type = 'click'
          AND c.us >= v.us AND c.us <= v.us + 86400000000""")),

    // the HLL register sketch INSIDE Structured Streaming state — the
    // fourth sketch-in-state query (g92 quantiles, g93 KMV, g88 heavy
    // hitters), and the one whose oracle holds even in the APPROXIMATE
    // regime: the checkpointed state is the fixed 2^p-register array,
    // and registers are a pure function of the window's key set, so
    // DuckDB re-deriving every register from the batch table matches
    // bit-for-bit regardless of cardinality.
    QueryDef("g96_stream_hll",
      (s, d) => streamScoped(s, "g96") { st =>
        import org.apache.spark.sql.functions.{call_function, expr, lit,
          posexplode, timestamp_micros, unix_timestamp, window, xxhash64}
        val sketches = st.events(d)._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(call_function("hll_sketch",
            xxhash64(col("user_id")), lit(6)).as("hll"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"), col("hll"))
        st.drain(sketches, "complete")
          .select(col("bucket_s"), posexplode(col("hll")).as(Seq("reg", "register")))
          .select(col("bucket_s"), col("reg").cast("long").as("reg"),
            col("register").cast("long").as("register"))
      },
      Some {
        import graft.queries.DuckXxHash._
        val p = 6
        val wBits = 64 - p
        val twoW = BigInt(1) << wBits
        val ch = chain("d",
          "SELECT DISTINCT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) " +
            "AS bucket_s, user_id FROM events")
          .stepsExpr(hashLongSteps("h", unsigned("user_id"), "42::HUGEINT"))
        val ch2 = ch
          .cte("rr",
            s"SELECT bucket_s, CAST(hout // $twoW::HUGEINT AS BIGINT) AS reg, " +
              s"(hout % $twoW::HUGEINT) AS rem FROM ${ch.last}")
          .cte("regs",
            "SELECT bucket_s, reg, max(CASE WHEN rem = 0 " +
              s"THEN ${wBits + 1} ELSE $wBits - length(bin(rem)) + 1 END) AS mr " +
              "FROM rr GROUP BY 1, 2")
          .cte("grid",
            "SELECT t.bucket_s, g.reg FROM " +
              "(SELECT DISTINCT bucket_s FROM rr) t, " +
              s"(SELECT range AS reg FROM range(0, ${1 << p})) g")
        ch2.render(
          "SELECT grid.bucket_s, grid.reg, " +
            "CAST(coalesce(regs.mr, 0) AS BIGINT) AS register " +
            "FROM grid LEFT JOIN regs " +
            "ON grid.bucket_s = regs.bucket_s AND grid.reg = regs.reg")
      }),

    // STREAM-STATIC enrichment — the most common production streaming
    // shape (a live stream joined to a broadcast dimension) made
    // driver-visible: per-hour event counts by user cohort, where the
    // cohort dimension is a static table joined into the stream before
    // the windowed aggregation. The static side broadcasts; stream rows
    // never shuffle for the join. Bounded AvailableNow replay == the
    // identical batch join+GROUP BY in DuckDB.
    QueryDef("g97_stream_enrich",
      (s, d) => streamScoped(s, "g97") { st =>
        import org.apache.spark.sql.functions.{broadcast, count, expr, lit,
          pmod, timestamp_micros, unix_timestamp, window}
        val (evRaw, stream) = st.events(d)
        // static dimension: user -> cohort (derived batch-side)
        val dim = broadcast(
          EventTs.toNanos(evRaw)
            .select(col("user_id")).distinct()
            .withColumn("cohort", pmod(col("user_id"), lit(7L))))
        val counts = stream
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .join(dim, "user_id") // stream-static: static side broadcast
          .groupBy(window(col("event_time"), "1 hour"), col("cohort"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            col("cohort"), col("n"))
        st.drain(counts, "complete")
      },
      Some("""SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS bucket_s,
          user_id % 7 AS cohort, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2""")),

    // Bounded-state streaming dedup made driver-visible:
    // dropDuplicatesWithinWatermark keeps ONE row per key with state
    // that expires at the watermark (plain dropDuplicates would hold
    // every key forever — the round-3 unbounded-state fix). WHICH
    // duplicate survives is arrival-order-dependent, so the replayed
    // output projects the KEY SET per hour bucket — deterministic — and
    // the oracle is DuckDB's batch DISTINCT.
    QueryDef("g98_stream_dedup",
      (s, d) => streamScoped(s, "g98") { st =>
        import org.apache.spark.sql.functions.{expr, timestamp_micros}
        val keys = st.events(d)._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          // dedup key: (user, type, hour bucket) — duplicates exist
          // because users repeat event types within an hour
          .withColumn("bucket_s", expr("ts div 3600000000000 * 3600"))
          .dropDuplicatesWithinWatermark("user_id", "event_type", "bucket_s")
          .select(col("bucket_s"), col("user_id"), col("event_type"))
        st.drain(keys, "append")
      },
      Some("""SELECT DISTINCT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT)
          AS bucket_s, user_id, event_type
        FROM events""")),

    // STREAM-STREAM interval join — the attribution shape (purchases
    // within 30 minutes after a view by the same user) as a genuine
    // two-stream join: both sides carry watermarks and the join
    // condition carries the event-time range bound, so each side's
    // state store holds only rows inside the 30-minute window + the
    // 1-hour watermark slack — bounded state at any stream length.
    // AvailableNow replay == the identical batch interval join in
    // DuckDB (micros arithmetic on both sides).
    QueryDef("g99_stream_interval_join",
      (s, d) => streamScoped(s, "g99") { st =>
        import org.apache.spark.sql.functions.{expr, timestamp_micros}
        val src = st.events(d)._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), expr("ts div 1000").as("v_us"),
            col("event_time").as("v_time"))
          .withWatermark("v_time", "1 hour")
        val buys = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), expr("ts div 1000").as("p_us"),
            col("event_time").as("p_time"))
          .withWatermark("p_time", "1 hour")
        val joined = views.join(buys,
          col("v_user") === col("p_user") &&
            col("p_time") >= col("v_time") &&
            col("p_time") <= col("v_time") + expr("INTERVAL 30 MINUTES"))
          .select(col("v_user").as("user_id"), col("v_us"), col("p_us"))
        st.drain(joined, "append")
      },
      Some("""WITH e AS (SELECT user_id, event_type,
            epoch_ns(ts) // 1000 AS us FROM events)
        SELECT v.user_id, CAST(v.us AS BIGINT) AS v_us, CAST(p.us AS BIGINT) AS p_us
        FROM e v JOIN e p ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.us >= v.us AND p.us <= v.us + 1800000000""")),

    // STREAM-STREAM LEFT OUTER interval join — attribution with
    // explicit non-conversions: views that saw no purchase within 30
    // minutes are emitted with a null purchase time once the watermark
    // passes their join window (left-side state eviction). A far-future
    // sentinel row (the g57 technique) advances the watermark past
    // every real view's window so the trailing no-data micro-batch
    // flushes ALL unmatched rows; the bounded replay then equals the
    // batch LEFT JOIN in DuckDB, nulls included.
    QueryDef("g100_stream_outer_join",
      (s, d) => streamScoped(s, "g100") { st =>
        import org.apache.spark.sql.functions.{expr, timestamp_micros}
        // sentinel 2 h past the last event: watermark (1 h delay) ends
        // past every view's 30-minute join window
        val src = st.events(d, Some(2L * 3600L))._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        // sentinel rides BOTH sides so each side's watermark advances
        val views = src.filter(col("event_type").isin("view", "sentinel"))
          .select(col("user_id").as("v_user"), expr("ts div 1000").as("v_us"),
            col("event_time").as("v_time"))
          .withWatermark("v_time", "1 hour")
        val buys = src.filter(col("event_type").isin("purchase", "sentinel"))
          .select(col("user_id").as("p_user"), expr("ts div 1000").as("p_us"),
            col("event_time").as("p_time"))
          .withWatermark("p_time", "1 hour")
        val joined = views.join(buys,
          col("v_user") === col("p_user") &&
            col("p_time") >= col("v_time") &&
            col("p_time") <= col("v_time") + expr("INTERVAL 30 MINUTES"),
          "leftOuter")
          .select(col("v_user").as("user_id"), col("v_us"), col("p_us"))
        st.drain(joined, "append").filter(col("user_id") >= 0)
      },
      Some("""WITH e AS (SELECT user_id, event_type,
            epoch_ns(ts) // 1000 AS us FROM events)
        SELECT v.user_id, CAST(v.us AS BIGINT) AS v_us, CAST(p.us AS BIGINT) AS p_us
        FROM e v LEFT JOIN e p ON v.user_id = p.user_id
          AND p.event_type = 'purchase'
          AND p.us >= v.us AND p.us <= v.us + 1800000000
        WHERE v.event_type = 'view'""")),

    // CHAINED stateful operators in ONE streaming query (Spark 3.4+
    // multi-stateful support): dropDuplicatesWithinWatermark FOLLOWED
    // BY a tumbling-window aggregation — the production shape for
    // "count unique actors per hour" over an at-least-once source.
    // Multiple stateful operators force append mode, so a far-future
    // sentinel row (g57's trick) advances the watermark past every
    // real window in the trailing micro-batch. The sentinel must NOT
    // be filtered out before the watermark node — Catalyst pushes the
    // filter through EventTimeWatermark into the scan, and the clock
    // never advances (observed: the last two windows stayed in state).
    // Instead it flows through: its own window ends 10 h past the
    // final watermark, so append mode never emits it — self-excluding.
    QueryDef("g101_stream_dedup_counts",
      (s, d) => streamScoped(s, "g101") { st =>
        import org.apache.spark.sql.functions.{count, expr, lit,
          timestamp_micros, unix_timestamp, window}
        val counts = st.events(d, Some(36000L))._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .withColumn("bucket_s", expr("ts div 3600000000000 * 3600"))
          .dropDuplicatesWithinWatermark("user_id", "event_type", "bucket_s")
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(count(lit(1)).as("n_unique"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            col("n_unique"))
        st.drain(counts, "append")
      },
      Some("""SELECT bucket_s, CAST(count(*) AS BIGINT) AS n_unique FROM (
          SELECT DISTINCT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT)
            AS bucket_s, user_id, event_type FROM events)
        GROUP BY bucket_s""")),

    // transformWithState (Spark 4 arbitrary stateful processing v2)
    // made driver-visible: per-user event-type profiles in MapState,
    // flushed by an event-time timer per key (see streaming/
    // TypeCountProcessor). RocksDB state store — the provider TWS
    // requires and the one a production deployment runs anyway;
    // restored after the query so the rest of the suite keeps the
    // default. The sentinel advances the watermark past every real
    // user's flush timer; its own timer sits past the final watermark,
    // so it self-excludes.
    QueryDef("g102_stream_tws_profile",
      (s, d) => streamScoped(s, "g102")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{expr, timestamp_micros}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val profiles = st.events(d, Some(36000L))._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .select(col("user_id").cast("long").as("uid"),
            expr("ts div 1000000").as("ts_ms"), col("event_type"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.TypeCountProcessor,
            TimeMode.EventTime(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, String, Long)]])
          .toDF("user_id", "event_type", "n")
        st.drain(profiles, "append").filter(col("user_id") >= 0)
      }),
      Some("""SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type""")),

    // Spark's NATIVE session_window aggregation in streaming (the
    // declarative alternative to the custom flatMapGroupsWithState
    // sessionizer g57 exercises): watermarked per-user session windows
    // with a 30-minute gap, append mode, final sessions flushed by the
    // g101 sentinel pattern (the sentinel's own session ends past the
    // final watermark, so it self-excludes). Session semantics pinned
    // by the oracle: a new session starts when the gap is >= 30 min
    // (windows [t, t+gap) merge only when they OVERLAP), end = last
    // event + gap.
    QueryDef("g103_stream_session_window",
      (s, d) => streamScoped(s, "g103") { st =>
        import org.apache.spark.sql.functions.{count, expr, lit,
          session_window, timestamp_micros, unix_timestamp}
        val sessions = st.events(d, Some(36000L))._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_timestamp(col("session_window.start")).as("start_s"),
            unix_timestamp(col("session_window.end")).as("end_s"),
            col("n_events"))
        st.drain(sessions, "append").filter(col("user_id") >= 0)
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
        o AS (SELECT user_id, us,
            lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
        g AS (SELECT user_id, us,
            sum(CASE WHEN prev IS NULL OR us - prev >= 1800000000
                THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY us
                ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        SELECT user_id, CAST(min(us) // 1000000 AS BIGINT) AS start_s,
          CAST(max(us) // 1000000 + 1800 AS BIGINT) AS end_s,
          CAST(count(*) AS BIGINT) AS n_events
        FROM g GROUP BY user_id, sid""")),

    // The DURABLE streaming sink path (every other streaming query uses
    // the memory sink): windowed counts written to a parquet FILE sink
    // with a checkpointed exactly-once manifest (_spark_metadata), then
    // read back THROUGH the manifest. Append mode + the sentinel flush,
    // exactly the g101 pattern; the query result is the sink directory's
    // contents, so the hash-match also proves the manifest commit
    // protocol delivered every finalized window exactly once.
    QueryDef("g104_stream_file_sink",
      (s, d) => streamScoped(s, "g104") { st =>
        import org.apache.spark.sql.functions.{count, expr, lit,
          timestamp_micros, unix_timestamp, window}
        val sinkDir = st.dir("sink").toString
        val ckptDir = st.dir("ckpt").toString
        val q = st.events(d, Some(36000L))._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            col("event_type"), col("n"))
          .writeStream.format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // read back through the _spark_metadata manifest; the sentinel's
        // own window never flushed, so only real buckets are on disk.
        // Materialized: the scope deletes sinkDir on return.
        materialized(
          s.read.parquet(sinkDir).filter(col("event_type") =!= "sentinel"))
      },
      Some("""SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT)
          AS bucket_s, event_type, count(*) AS n
        FROM events GROUP BY 1, 2""")),

    // The DataSource V2 WRITE path (sources/ShardSink): documents
    // exported through the exactly-once sharded JSONL sink, then read
    // back ONLY through the _MANIFEST the commit protocol published —
    // the hash-match proves every row survived the task-temp →
    // driver-publish rename pipeline byte-intact.
    QueryDef("g105_shard_sink",
      (s, d) => {
        import org.apache.spark.sql.functions.{count, length, lit, sum}
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val docsDf = Tables.read(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val dir = Staging.dir("g105_shards").toString
        docsDf.write.format("graft-shards").mode("append")
          .option("path", dir).save()
        val manifest = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
        val shards = "\"shard\":\"([^\"]+)\"".r
          .findAllMatchIn(manifest).map(_.group(1)).toSeq
        val schema = StructType(Seq(StructField("doc_id", LongType),
          StructField("lang", StringType), StructField("text", StringType)))
        s.read.schema(schema).json(shards.map(n => s"$dir/$n"): _*)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
            sum(length(col("text")).cast("long")).as("chars"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(sum(length(text)) AS BIGINT) AS chars
        FROM documents GROUP BY lang""")),

    // Second transformWithState shape: BOUNDED ListState (g102 covers
    // MapState). Per-user latest-3 events held in a K-capped list —
    // state is O(K) per user at any stream length — flushed ranked by
    // an event-time timer. Same sentinel/RocksDB scaffolding as g102.
    QueryDef("g106_stream_tws_latestk",
      (s, d) => streamScoped(s, "g106")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{expr, timestamp_micros}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val latest = st.events(d, Some(36000L))._2
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .select(col("user_id").cast("long").as("uid"),
            expr("ts div 1000000").as("ts_ms"), col("event_id").cast("long"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.LatestKProcessor(3),
            TimeMode.EventTime(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long, Long)]])
          .toDF("user_id", "rnk", "event_id", "ts_ms")
        st.drain(latest, "append").filter(col("user_id") >= 0)
      }),
      Some("""SELECT user_id, CAST(rnk AS BIGINT) AS rnk, event_id,
          CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS ts_ms
        FROM (SELECT user_id, event_id, ts, row_number() OVER
            (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rnk
          FROM events)
        WHERE rnk <= 3""")),

    // MULTI-microbatch stateful correctness: the same windowed count as
    // g55 but the events file is SPLIT IN HALF and the source capped at
    // one file per trigger, so the aggregation state must merge across
    // three separate micro-batches (two data + the trailing flush)
    // instead of the single batch every other bounded replay gets. The
    // oracle is the identical batch GROUP BY — cross-batch state merge
    // has to be exact for the hash to survive.
    QueryDef("g108_stream_multibatch",
      (s, d) => streamScoped(s, "g108") { st =>
        import org.apache.spark.sql.functions.{count, expr, lit, timestamp_micros,
          unix_timestamp, window}
        val evRaw = Tables.read(s, d, "events")
        val streamDir = st.dir("events")
        // two halves by event id parity — both halves span the whole
        // timeline, so most windows receive rows from BOTH batches
        evRaw.filter(col("event_id") % 2 === 0).repartition(1)
          .write.parquet(streamDir.resolve("h0").toString)
        evRaw.filter(col("event_id") % 2 === 1).repartition(1)
          .write.parquet(streamDir.resolve("h1").toString)
        val counts = EventTs.toNanos(
          s.readStream.schema(evRaw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString + "/h*"))
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            col("event_type"), col("n"))
        st.drain(counts, "complete", minBatches = 2)
      },
      Some("""SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT)
          AS bucket_s, event_type, count(*) AS n
        FROM events GROUP BY 1, 2""")),

    // transformWithState ACROSS watermark-advancing micro-batches: the
    // events file split in TIME halves (one file per trigger), so after
    // batch 1 the watermark has already overtaken the batch-1 flush
    // timers of every user — while batch 2 still delivers events for
    // those same users. Without the one-live-timer contract
    // (TypeCountProcessor deletes the pending timer before advancing
    // it), each such user flushes TWICE — a batch-1 partial and a
    // batch-2 remainder — and the per-(user, type) counts split into
    // two rows, so the batch GROUP BY oracle hash-catches the defect.
    QueryDef("g111_stream_tws_multibatch",
      (s, d) => streamScoped(s, "g111")(st => withRocksDb(s) {
        val streamDir = st.dir("events")
        // four single-file triggers, processed in write order (thirds +
        // sentinel — see eventThirdFiles for why thirds)
        StreamFiles.writeMany(eventThirdFiles(s, d), streamDir)
        st.drain(typeCountStream(s, streamDir, Tables.read(s, d, "events").schema), "append",
          minBatches = 4).filter(col("user_id") >= 0)
      }),
      Some("""SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type""")),

    // Checkpoint-restart recovery with a FULL oracle: the g111 rig (same
    // thirds + sentinel, RocksDB transformWithState, one-live-timer
    // contract) run as TWO query incarnations against ONE checkpoint.
    // The first incarnation sees only the early thirds and stops; the
    // second starts on the same checkpoint and durable parquet sink and
    // processes the remainder. Matching the batch GROUP-BY oracle
    // requires the restart to recover EVERYTHING exactly: source offsets
    // (re-reading a processed file doubles counts), RocksDB MapState and
    // ValueState, the registered event-time timers, the watermark, and
    // the file-sink transaction log (a duplicated or lost sink commit
    // breaks the hash). This is the production restart path —
    // resume-after-deploy — that single-incarnation AvailableNow replays
    // never exercise. A require() additionally pins that phase 2 read
    // ONLY the two new files, so a silent full-reprocess cannot pass
    // even if it were numerically idempotent.
    QueryDef("g116_stream_restart_recovery",
      (s, d) => streamScoped(s, "g116")(st => withRocksDb(s) {
        val evRaw = Tables.read(s, d, "events")
        val streamDir = st.dir("events")
        val ckptDir = st.dir("ckpt").toString
        val outDir = st.dir("out").toString
        val files = eventThirdFiles(s, d)
        def runIncarnation(): Long = {
          val q = typeCountStream(s, streamDir, evRaw.schema)
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckptDir)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.map(_.numInputRows).sum
        }
        // phase 1: thirds 0 and 1 only — run to completion, stop cleanly.
        // No-data micro-batches are disabled for THIS incarnation: the
        // trailing no-data batch AvailableNow otherwise runs would
        // advance the watermark past the last data batch and fire the
        // go-quiet timers of every key inactive in its final hour —
        // emitting partial profiles at what is semantically a deploy
        // stop, not a quiet user. Phase 2 re-enables them so the
        // sentinel's trailing batch performs the final flush.
        val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
        val oldNoData = s.conf.get(noDataKey)
        StreamFiles.writeMany(files.take(2), streamDir)
        s.conf.set(noDataKey, "false")
        val rows1 = try runIncarnation() finally s.conf.set(noDataKey, oldNoData)
        require(rows1 > 0L, "phase 1 processed no rows")
        // phase 2: the last third + sentinel land; a NEW query resumes
        // from the checkpoint
        val tailRows = files(2)._2.count() + 1L
        StreamFiles.writeMany(files.drop(2), streamDir)
        val rows2 = runIncarnation()
        require(rows2 == tailRows,
          s"restart must resume, not reprocess: phase 2 read $rows2 rows, " +
            s"expected exactly the new files' $tailRows")
        // the report is (user, type)-dimension-sized by design —
        // materialized, because the scope deletes the three staged trees
        // (split files, RocksDB checkpoint, sink) on return
        materialized(s.read.parquet(outDir).filter(col("user_id") >= 0))
      }),
      Some("""SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type""")),

    // Streaming drift monitor with a FULL oracle: the q137-q139 family
    // detects drift BETWEEN two batch snapshots; this is the production
    // twin — hourly per-type event volumes, windowed-aggregated over the
    // live stream, compared inside the stream against a broadcast
    // reference-period rate (milli-events/hour, integer-exact) via a
    // stream-static left join AFTER the append-mode aggregation. Every
    // quantity is integer (counts, milli-rates, strict comparisons), so
    // the whole monitor — window buckets, expected rates, deltas, the
    // >50%-deviation alarm bit — replays exactly in DuckDB. At scale the
    // plan is the right one: one keyed stateful shuffle for the window
    // agg, a dimension-sized broadcast for the baseline, no second
    // stateful operator.
    QueryDef("g117_stream_drift",
      (s, d) => streamScoped(s, "g117") { st =>
        import org.apache.spark.sql.functions.{abs, broadcast, coalesce,
          count, expr, lit, max, min, timestamp_micros, unix_timestamp, window}
        val evRaw = Tables.read(s, d, "events")
        val ev = EventTs.toNanos(evRaw)
        val Array(minNs, maxNs) = ev.agg(min("ts"), max("ts")).collect()(0)
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val midNs = (minNs + maxNs) / 2
        val spanS = (midNs - minNs) / 1000000000L
        // reference-period hourly rate per type, in milli-events/hour
        // (dimension-sized: one row per event type)
        val baseline = ev.filter(col("ts") <= midNs)
          .groupBy("event_type").agg(count(lit(1)).as("nb"))
          .select(col("event_type"),
            expr(s"nb * 3600000L div ${spanS}L").as("expected_milli"))
        val streamDir = st.dir("events")
        StreamFiles.writeMany(eventThirdFiles(s, d), streamDir)
        val windowed = EventTs.toNanos(
          s.readStream.schema(evRaw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString))
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          // the sentinel row MUST flow through here: a pre-agg filter on
          // event_type gets pushed down into the parquet source scan
          // (measured: the sentinel batch reports numInputRows=0), so the
          // watermark node never sees the far-future row, the watermark
          // stalls at the data's end, and the final windows never flush.
          // Its phantom window stays in state unfired and is filtered at
          // the sink instead — the g111 pattern.
          .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            col("event_type"), col("n"))
          .join(broadcast(baseline), Seq("event_type"), "left")
          .select(col("bucket_s"), col("event_type"), col("n"),
            coalesce(col("expected_milli"), lit(0L)).as("expected_milli"),
            abs(col("n") * 1000L - coalesce(col("expected_milli"), lit(0L)))
              .as("delta_milli"))
          .withColumn("alarm",
            (col("delta_milli") * 2L > col("expected_milli")).cast("int"))
        st.drain(windowed, "append", minBatches = 4)
          .filter(col("event_type") =!= "sentinel")
      },
      Some("""WITH mm AS (SELECT min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
            FROM events),
          b AS (SELECT event_type, count(*) AS nb FROM events, mm
            WHERE epoch_ns(ts) <= (mn + mx) // 2 GROUP BY event_type),
          sp AS (SELECT ((mn + mx) // 2 - mn) // 1000000000 AS span_s FROM mm),
          be AS (SELECT event_type,
              CAST(nb * 3600000 // span_s AS BIGINT) AS expected_milli
            FROM b, sp),
          w AS (SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT)
                AS bucket_s, event_type, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2)
        SELECT w.bucket_s, w.event_type, w.n,
          coalesce(be.expected_milli, 0) AS expected_milli,
          abs(w.n * 1000 - coalesce(be.expected_milli, 0)) AS delta_milli,
          CAST(CASE WHEN abs(w.n * 1000 - coalesce(be.expected_milli, 0)) * 2
                > coalesce(be.expected_milli, 0) THEN 1 ELSE 0 END AS INT)
            AS alarm
        FROM w LEFT JOIN be ON w.event_type = be.event_type""")),

    // Streaming mean-shift detection with a FULL oracle: q140's batch
    // CUSUM answers WHERE the mean moved after the fact; this is the
    // production twin — an online one-sided CUSUM (streaming/
    // CusumProcessor) that alarms DURING ingestion, with O(1) state per
    // key (six longs). A +300-unit mean shift is PLANTED in the final
    // time-third of every feed; the detector's first
    // threshold-crossing index and timestamp, the max score, and the
    // event count must all hash-match DuckDB's replay of the identical
    // integer recursion (prefix sum minus running minimum — the exact
    // algebraic form the processor folds incrementally). Runs on
    // RocksDB state across four watermark-advancing micro-batches.
    QueryDef("g118_stream_cusum",
      (s, d) => streamScoped(s, "g118")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{expr, lit, max, min, round,
          sum, timestamp_micros, when}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val evRaw = Tables.read(s, d, "events")
        val ev = EventTs.toNanos(evRaw)
        val Array(minNs, maxNs) = ev.agg(min("ts"), max("ts")).collect()(0)
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val midNs = (minNs + maxNs) / 2
        val t2 = minNs + 2L * (maxNs - minNs) / 3
        // reference-period mean in micro-units — the CUSUM target
        val target = ev.filter(col("ts") <= midNs)
          .agg(sum(round(col("value") * 1000000).cast("long")).as("sv"),
            org.apache.spark.sql.functions.count(lit(1)).as("nv"))
          .select(expr("sv div nv")).collect()(0).getLong(0)
        val streamDir = st.dir("events")
        StreamFiles.writeMany(eventThirdFiles(s, d), streamDir)
        val scored = EventTs.toNanos(
          s.readStream.schema(evRaw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString))
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .select(col("event_type"), col("ts").as("ts_ns"),
            col("event_id").cast("long").as("eid"),
            (round(col("value") * 1000000).cast("long") +
              when(col("ts") > t2, lit(300000000L)).otherwise(lit(0L)))
              .as("v_micro"))
          .as[(String, Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new graft.streaming.CusumProcessor(target, 50000000000L),
            TimeMode.EventTime(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[
              (String, Long, Long, Long, Long, Long, Long, Long)]])
          .toDF("event_type", "n", "max_s", "alarm_idx", "alarm_ts",
            "max_sn", "alarm_n_idx", "alarm_n_ts")
        st.drain(scored, "append", minBatches = 4)
          .filter(col("event_type") =!= "sentinel")
      }),
      Some(cusumOracleSql)),

    // CHECKPOINT-RESTART leg for the CUSUM family (VERDICT r9 item 6):
    // the g118 rig run as TWO query incarnations over one RocksDB
    // checkpoint — phase 1 ingests time-thirds 0-1 and stops cleanly
    // (no-data batches disabled so the deploy stop doesn't fire the
    // go-quiet flush early — the g116 pattern), phase 2 is a NEW query
    // resuming from the checkpoint on the final third + sentinel. It
    // must (a) resume, not reprocess — phase 2's input row count equals
    // exactly the new files' rows — and (b) hash-match the SAME oracle
    // as the single-incarnation g118, which proves the CusumState fold
    // (prefix sum + running min/max) is associative-resumable across a
    // REAL query restart, not just CusumSpec's batch-split unit test.
    QueryDef("g125_stream_cusum_restart",
      (s, d) => streamScoped(s, "g125")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{expr, lit, min => fmin,
          max => fmax, round, sum, timestamp_micros, when}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val evRaw = Tables.read(s, d, "events")
        val ev = EventTs.toNanos(evRaw)
        val Array(minNs, maxNs) = ev.agg(fmin("ts"), fmax("ts")).collect()(0)
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val midNs = (minNs + maxNs) / 2
        val t2 = minNs + 2L * (maxNs - minNs) / 3
        val target = ev.filter(col("ts") <= midNs)
          .agg(sum(round(col("value") * 1000000).cast("long")).as("sv"),
            org.apache.spark.sql.functions.count(lit(1)).as("nv"))
          .select(expr("sv div nv")).collect()(0).getLong(0)
        val streamDir = st.dir("events")
        val ckptDir = st.dir("ckpt").toString
        val outDir = st.dir("out").toString
        val files = eventThirdFiles(s, d)
        def runIncarnation(): Long = {
          val scored = EventTs.toNanos(
            s.readStream.schema(evRaw.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(streamDir.toString))
            .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
            .withWatermark("event_time", "1 hour")
            .select(col("event_type"), col("ts").as("ts_ns"),
              col("event_id").cast("long").as("eid"),
              (round(col("value") * 1000000).cast("long") +
                when(col("ts") > t2, lit(300000000L)).otherwise(lit(0L)))
                .as("v_micro"))
            .as[(String, Long, Long, Long)]
            .groupByKey(_._1)
            .transformWithState(
              new graft.streaming.CusumProcessor(target, 50000000000L),
              TimeMode.EventTime(), OutputMode.Append(),
              implicitly[org.apache.spark.sql.Encoder[
                (String, Long, Long, Long, Long, Long, Long, Long)]])
            .toDF("event_type", "n", "max_s", "alarm_idx", "alarm_ts",
              "max_sn", "alarm_n_idx", "alarm_n_ts")
          val q = scored.writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckptDir)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.map(_.numInputRows).sum
        }
        val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
        val oldNoData = s.conf.get(noDataKey)
        StreamFiles.writeMany(files.take(2), streamDir)
        s.conf.set(noDataKey, "false")
        val rows1 = try runIncarnation() finally s.conf.set(noDataKey, oldNoData)
        require(rows1 > 0L, "phase 1 processed no rows")
        val tailRows = files(2)._2.count() + 1L
        StreamFiles.writeMany(files.drop(2), streamDir)
        val rows2 = runIncarnation()
        require(rows2 == tailRows,
          s"restart must resume, not reprocess: phase 2 read $rows2 rows, " +
            s"expected exactly the new files' $tailRows")
        materialized(s.read.parquet(outDir)
          .filter(col("event_type") =!= "sentinel"))
      }),
      Some(cusumOracleSql)),

    // ADAPTIVE-BASELINE two-sided CUSUM: no upstream reference pass —
    // each key self-estimates its target from its first 200
    // observations (CusumProcessor refWindow), then scores BOTH sides;
    // the planted shift here is NEGATIVE (-300 micro-units after the
    // final third begins), so the rig that executes is the downward
    // alarm path g118's positive shift never touches. The oracle
    // replays the per-key integer reference mean (row_number <= 200),
    // both prefix-sum folds, and both alarm rules exactly. Values are
    // nonnegative in this feed, so DuckDB's floor-div // equals the
    // processor's Math.floorDiv on the reference sum.
    QueryDef("g123_stream_cusum_adaptive",
      (s, d) => streamScoped(s, "g123")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{expr, lit, max, min, round,
          timestamp_micros, when}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val evRaw = Tables.read(s, d, "events")
        val ev = EventTs.toNanos(evRaw)
        val Array(minNs, maxNs) = ev.agg(min("ts"), max("ts")).collect()(0)
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val t2 = minNs + 2L * (maxNs - minNs) / 3
        val streamDir = st.dir("events")
        StreamFiles.writeMany(eventThirdFiles(s, d), streamDir)
        val scored = EventTs.toNanos(
          s.readStream.schema(evRaw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString))
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .select(col("event_type"), col("ts").as("ts_ns"),
            col("event_id").cast("long").as("eid"),
            (round(col("value") * 1000000).cast("long") -
              when(col("ts") > t2, lit(300000000L)).otherwise(lit(0L)))
              .as("v_micro"))
          .as[(String, Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new graft.streaming.CusumProcessor(0L, 50000000000L,
              refWindow = 200L),
            TimeMode.EventTime(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[
              (String, Long, Long, Long, Long, Long, Long, Long)]])
          .toDF("event_type", "n", "max_s", "alarm_idx", "alarm_ts",
            "max_sn", "alarm_n_idx", "alarm_n_ts")
        val out = st.drain(scored, "append", minBatches = 4)
          .filter(col("event_type") =!= "sentinel")
        val negAlarms = out.filter(col("alarm_n_idx") >= 0).count()
        require(negAlarms > 0, "the rig must exercise the downward alarm")
        out
      }),
      Some("""WITH mm AS (SELECT min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
            FROM events),
          e AS (SELECT event_type, epoch_ns(ts) AS tsn, event_id,
              CAST(round(value * 1000000) AS BIGINT) -
                CASE WHEN epoch_ns(ts) > mn + 2 * (mx - mn) // 3
                  THEN 300000000 ELSE 0 END AS v
            FROM events, mm),
          w0 AS (SELECT event_type, tsn, v,
              CAST(row_number() OVER pk AS BIGINT) AS i
            FROM e
            WINDOW pk AS (PARTITION BY event_type ORDER BY tsn, event_id)),
          tg AS (SELECT event_type, CAST(sum(v) // 200 AS BIGINT) AS tgt
            FROM w0 WHERE i <= 200 GROUP BY event_type),
          w AS (SELECT w0.event_type, tsn, i,
              CAST(sum(v - tgt) OVER
                (PARTITION BY w0.event_type ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM w0 JOIN tg USING (event_type) WHERE i > 200),
          sc AS (SELECT event_type, tsn, i,
              cum - least(0, min(cum) OVER
                (PARTITION BY event_type ORDER BY i
                 ROWS UNBOUNDED PRECEDING)) AS s,
              greatest(0, max(cum) OVER
                (PARTITION BY event_type ORDER BY i
                 ROWS UNBOUNDED PRECEDING)) - cum AS sn
            FROM w),
          base AS (SELECT event_type, CAST(max(i) AS BIGINT) AS n
            FROM w0 GROUP BY 1),
          agg AS (SELECT event_type,
              CAST(max(s) AS BIGINT) AS max_s,
              CAST(coalesce(min(CASE WHEN s > 50000000000 THEN i END), -1)
                AS BIGINT) AS alarm_idx,
              CAST(coalesce(min(CASE WHEN s > 50000000000 THEN tsn END), -1)
                AS BIGINT) AS alarm_ts,
              CAST(max(sn) AS BIGINT) AS max_sn,
              CAST(coalesce(min(CASE WHEN sn > 50000000000 THEN i END), -1)
                AS BIGINT) AS alarm_n_idx,
              CAST(coalesce(min(CASE WHEN sn > 50000000000 THEN tsn END), -1)
                AS BIGINT) AS alarm_n_ts
            FROM sc GROUP BY 1)
        SELECT b.event_type, b.n,
          coalesce(a.max_s, 0) AS max_s,
          coalesce(a.alarm_idx, -1) AS alarm_idx,
          coalesce(a.alarm_ts, -1) AS alarm_ts,
          coalesce(a.max_sn, 0) AS max_sn,
          coalesce(a.alarm_n_idx, -1) AS alarm_n_idx,
          coalesce(a.alarm_n_ts, -1) AS alarm_n_ts
        FROM base b LEFT JOIN agg a USING (event_type)""")),

    // Streaming PERCEPTUAL image dedup — the multimodal decode seam and
    // the streaming dedup index composed, with a FULL oracle: a gray-PNG
    // corpus (q141's XXH64-pixel fixture, plus second-generation
    // duplicates at two brightness shifts) replayed through three
    // id-ordered micro-batches; each batch ImageIO-decodes its images
    // IN-STREAM (mapPartitions on the streaming Dataset), dHashes them,
    // and routes every arrival through FirstSeenProcessor, which emits
    // the keep/dup decision immediately (dup_of = survivor id) — the
    // crawl-loop shape: history is one long of state per distinct image,
    // never re-shuffled. The oracle recomputes every pixel, every hash
    // bit, and the first-seen attribution (min id per signature — the
    // id-ordered splits make arrival order the id order) in SQL.
    QueryDef("g119_stream_image_dedup",
      (s, d) => streamScoped(s, "g119")(st => withRocksDb(s) {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.functions.lit
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import org.apache.spark.sql.types.{BinaryType, LongType, StructField,
          StructType}
        import s.implicits._
        val ids = Tables.read(s, d, "documents")
          .select(col("doc_id").cast("long").as("base_id"))
        val rig = ids
          .select(col("base_id"), col("base_id").as("id"), lit(0).as("shift"))
          .unionAll(ids.filter(col("base_id") % 10 === 0)
            .select(col("base_id"), (col("base_id") + 10000000L).as("id"),
              lit(3).as("shift")))
          .unionAll(ids.filter(col("base_id") % 20 === 0)
            .select(col("base_id"), (col("base_id") + 20000000L).as("id"),
              lit(6).as("shift")))
        val outSchema = StructType(Seq(StructField("id", LongType),
          StructField("ts", LongType), StructField("png", BinaryType)))
        implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
        val fixture = rig.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(1)
            Row(id, id * 1000000000L,
              graft.ops.ImageDedup.hashCorpusPng(r.getLong(0), r.getInt(2)))
          }
        }
        // three id-ordered files: both duplicate generations arrive
        // AFTER their originals, so first-seen attribution is decidable
        val streamDir = st.dir("imgs")
        val half = ids.agg(org.apache.spark.sql.functions.max("base_id"))
          .collect()(0).getLong(0) / 2
        Seq(
          "a_low" -> fixture.filter(col("id") <= half),
          "b_high" -> fixture.filter(col("id") > half && col("id") < 10000000L),
          "c_dups" -> fixture.filter(col("id") >= 10000000L)
        ).pipe(fs => StreamFiles.writeMany(fs, streamDir))
        val hashed = graft.ops.ImageDedup.dHash(
          s.readStream.schema(fixture.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString), "png")
          .select(col("png_dhash").as("key"), col("ts"), col("id"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.FirstSeenProcessor,
            TimeMode.None(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long)]])
          .toDF("id", "dhash", "dup_of")
        st.drain(hashed, "append", minBatches = 3)
      }),
      Some {
        graft.queries.PipelineQueries.dhashOracleChain(
          """SELECT CAST(doc_id AS BIGINT) AS base_id,
              CAST(doc_id AS BIGINT) AS id, 0 AS shift FROM documents
            UNION ALL
            SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 10000000 AS BIGINT), 3
            FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 20000000 AS BIGINT), 6
            FROM documents WHERE doc_id % 20 = 0""")
          .render("""SELECT id, dhash,
            CASE WHEN id = min(id) OVER (PARTITION BY dhash) THEN -1
              ELSE min(id) OVER (PARTITION BY dhash) END AS dup_of
          FROM dh""")
      }),

    // LATE-DATA semantics with a FULL oracle: every streaming replay
    // above arrives time-ordered, so the watermark's DROP path never
    // executes — this rig makes it execute and proves the exact
    // semantics. Every 20th event (by id hash) is DISPLACED TWO
    // micro-batches later than its time-tercile, arriving late by
    // construction (two, not one: the late filter LAGS — measured with
    // tools-level probes — batch k filters with the watermark reported
    // at batch k-1, which is computed from data through batch k-2, so
    // a one-batch displacement never drops anything). The pinned rules:
    // batch k drops an input row iff its WINDOW END (not its raw event
    // time) <= max-event-time(batches 0..k-2) - delay (ms-floored,
    // compared in micros); end-of-batch eviction emits windows with
    // end <= max-event-time(batches 0..k-1) - delay, so a late row
    // whose window is evicted in the SAME batch still counts, and a
    // row for an already-emitted window can never resurface (the
    // eviction bound always trails the filter bound by one batch). The
    // oracle replays all of it integer-exactly from per-file prefix
    // maxima: near-boundary displaced rows survive, deep-late rows
    // drop (a require pins numRowsDroppedByWatermark > 0), and the
    // trailing-hour windows stay unflushed exactly as in production.
    QueryDef("g120_stream_late_data",
      (s, d) => streamScoped(s, "g120") { st =>
        import org.apache.spark.sql.functions.{count, expr, lit, max, min,
          pmod, timestamp_micros, unix_timestamp, window, xxhash64}
        val ev = Tables.events(s, d)
        val Array(minNs, maxNs) = ev.agg(min("ts"), max("ts")).collect()(0)
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val t1 = minNs + (maxNs - minNs) / 3
        val t2 = minNs + 2L * (maxNs - minNs) / 3
        val tagged = ev
          .withColumn("__disp", (pmod(xxhash64(col("event_id")), lit(20L)) === 0L)
            .cast("int"))
          .withColumn("__file",
            (org.apache.spark.sql.functions.when(col("ts") <= t1, 1)
              .when(col("ts") <= t2, 2).otherwise(3)) + col("__disp") * 2)
        val streamDir = st.dir("events")
        StreamFiles.writeMany((1 to 5).map { k =>
          s"${('a' + k - 1).toChar}_f$k" -> tagged.filter(col("__file") === k)
            .drop("__disp", "__file")
        }, streamDir)
        val counts = s.readStream
          .schema(tagged.drop("__disp", "__file").schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(streamDir.toString)
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("bucket_s"),
            col("event_type"), col("n"))
        st.drain(counts, "append", minBatches = 5, check = progress => {
          val dropped = progress
            .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
          require(dropped > 0L, "the rig must actually exercise the drop path")
        })
      },
      Some {
        import graft.queries.DuckXxHash._
        val ch = chain("e0",
          s"""SELECT event_type, epoch_ns(ts) AS tsn, ${unsigned("event_id")} AS v
            FROM events""")
          .stepsExpr(hashLongSteps("h1", "v", "42::HUGEINT"))
        val ch2 = ch
          .cte("ef", s"SELECT event_type, tsn, " +
            s"CASE WHEN ${pmod("h1out", 20L)} = 0 THEN 1 ELSE 0 END AS disp " +
            s"FROM ${ch.last}")
          .cte("mm", "SELECT min(tsn) AS mn, max(tsn) AS mx FROM ef")
          .cte("tf", """SELECT event_type, tsn,
              (CASE WHEN tsn <= mn + (mx - mn) // 3 THEN 1
                WHEN tsn <= mn + 2 * (mx - mn) // 3 THEN 2 ELSE 3 END)
                + disp * 2 AS f
            FROM ef, mm""")
          .cte("fmax", "SELECT f, max(tsn // 1000) AS mx_us FROM tf GROUP BY f")
          // the watermark trajectory: wm reported at batch k (micros) =
          // (prefix-max event-time ms over files 1..k) - 1h, re-scaled —
          // Spark tracks max event time in ms and compares in micros
          .cte("wmv", """SELECT k.range AS k,
              (max(fm.mx_us) // 1000 - 3600000) * 1000 AS wm_us
            FROM range(1, 6) k JOIN fmax fm ON fm.f <= k.range GROUP BY 1""")
          // the late filter for file k lags one batch: it uses the
          // watermark computed from files 1..k-2 (files 1-2 see none)
          .cte("kept", """SELECT tf.event_type, tf.tsn FROM tf
            LEFT JOIN wmv ON wmv.k = tf.f - 2
            WHERE tf.f <= 2
              OR (tf.tsn // 3600000000000 + 1) * 3600000000 > wmv.wm_us""")
        ch2.render("""SELECT
            CAST(tsn // 3600000000000 * 3600 AS BIGINT) AS bucket_s,
            event_type, CAST(count(*) AS BIGINT) AS n
          FROM kept, (SELECT wm_us AS wmf FROM wmv WHERE k = 5) fin
          WHERE (tsn // 3600000000000 + 1) * 3600000000 <= wmf
          GROUP BY 1, 2""")
      }),

    // Streaming BANDED near-dup dedup (hamming <= 3 in the crawl loop)
    // with a FULL oracle — closes the r8 gap where the streaming index
    // only collapsed EXACT dHash matches while batch had
    // bandedHammingPairs: signatures explode to the same 4 x 16-bit
    // pigeonhole band keys, BandedFirstSeenProcessor keeps one
    // (id, sig) survivor per band bucket and verifies full-signature
    // hamming per arrival, and the per-band emissions merge to the min
    // matched survivor. The rig plants CONTENT-EDITED duplicate
    // generations (provable hamming <= editRows via column-0 luma
    // inversions — NOT the hamming-0 brightness shifts of g119), so the
    // near-dup path is what executes. The oracle replays every pixel,
    // every hash bit, every band key, each bucket's min-id survivor,
    // and the verify-and-merge rule in SQL.
    QueryDef("g122_stream_banded_dedup",
      (s, d) => streamScoped(s, "g122")(st => withRocksDb(s) {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.functions.{coalesce, explode, lit,
          min => fmin, when}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
        import s.implicits._
        val maxHamming = 3
        val ids = Tables.read(s, d, "documents")
          .select(col("doc_id").cast("long").as("base_id"))
        val rig = ids
          .select(col("base_id"), col("base_id").as("id"),
            lit(0).as("shift"), lit(0).as("edits"))
          .unionAll(ids.filter(col("base_id") % 10 === 0)
            .select(col("base_id"), (col("base_id") + 10000000L).as("id"),
              lit(0).as("shift"), lit(2).as("edits")))
          .unionAll(ids.filter(col("base_id") % 20 === 0)
            .select(col("base_id"), (col("base_id") + 20000000L).as("id"),
              lit(3).as("shift"), lit(3).as("edits")))
        val outSchema = StructType(Seq(StructField("id", LongType),
          StructField("ts", LongType), StructField("png", BinaryType)))
        implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
        val fixture = rig.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(1)
            Row(id, id * 1000000000L, graft.ops.ImageDedup
              .hashCorpusPng(r.getLong(0), r.getInt(2), r.getInt(3)))
          }
        }
        val streamDir = st.dir("imgs")
        val half = ids.agg(org.apache.spark.sql.functions.max("base_id"))
          .collect()(0).getLong(0) / 2
        Seq(
          "a_low" -> fixture.filter(col("id") <= half),
          "b_high" -> fixture.filter(col("id") > half && col("id") < 10000000L),
          "c_dups" -> fixture.filter(col("id") >= 10000000L)
        ).pipe(fs => StreamFiles.writeMany(fs, streamDir))
        val hashed = graft.ops.ImageDedup.dHash(
          s.readStream.schema(fixture.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString), "png")
          .select(col("id"), col("ts"), col("png_dhash").as("sig"))
        // the batch banding, in-stream: one row per (arrival, band),
        // keyed by the composite layout (Dedup.streamBandKeys — the
        // ONE definition the oracles, benches and specs share)
        val banded = hashed.select(col("id"), col("ts"), col("sig"),
          explode(graft.ops.Dedup.streamBandKeys(col("sig"), maxHamming))
            .as("bkey"))
          .select(col("bkey"), col("ts"), col("id"), col("sig"))
          .as[(Long, Long, Long, Long)]
        val decided = banded
          .groupByKey(_._1)
          .mapValues(r => (r._2, r._3, r._4))
          .transformWithState(
            new graft.streaming.BandedFirstSeenProcessor(maxHamming),
            TimeMode.None(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long)]])
          .toDF("id", "cand")
        // merge the per-band emissions: min matched survivor, else -1
        st.drain(decided, "append", minBatches = 3).groupBy("id")
          .agg(coalesce(fmin(when(col("cand") >= 0, col("cand"))), lit(-1L))
            .as("dup_of"))
      }),
      Some {
        import graft.queries.DuckXxHash._
        val ch = graft.queries.PipelineQueries.dhashOracleChain(
          """SELECT CAST(doc_id AS BIGINT) AS base_id,
              CAST(doc_id AS BIGINT) AS id, 0 AS shift, 0 AS edits
            FROM documents
            UNION ALL
            SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 10000000 AS BIGINT),
              0, 2
            FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 20000000 AS BIGINT),
              3, 3
            FROM documents WHERE doc_id % 20 = 0""", hasEdits = true)
          .cte("usig", s"SELECT id, ${unsigned("dhash")} AS us FROM dh")
          .cte("bands",
            "SELECT id, us, b.range AS b, " +
              "(us // (1::HUGEINT << (16 * b.range))) % 65536 AS key " +
              "FROM usig, range(0, 4) b")
          .cte("occ", "SELECT b, key, min(id) AS oid FROM bands GROUP BY 1, 2")
          .cte("occs", "SELECT o.b, o.key, o.oid, u.us AS osig " +
            "FROM occ o JOIN usig u ON u.id = o.oid")
          .cte("att",
            """SELECT r.id, o.oid FROM bands r
              JOIN occs o ON o.b = r.b AND o.key = r.key
              WHERE o.oid < r.id AND bit_count(xor(CAST(r.us AS UBIGINT),
                CAST(o.osig AS UBIGINT))) <= 3""")
        ch.render(
          """SELECT u.id, CAST(coalesce(min(a.oid), -1) AS BIGINT) AS dup_of
            FROM usig u LEFT JOIN att a ON a.id = u.id GROUP BY 1""")
      }),

    // The FULL streaming near-dup INDEX (r10): BandedIndexProcessor
    // keeps every distinct signature per band bucket in ListState, so
    // recall equals the batch bandedHammingPairs pass at ANY corpus
    // size — tools/BandedRecallBench measured the one-survivor g122
    // design missing 91% of planted near-dups at 1M signatures
    // (occupancy 16), which is the difference between a demo and an
    // index. Signatures here are hash-derived directly (g122 already
    // covers the in-stream image-decode front end); every 8th id
    // re-arrives later with 1-3 bits flipped, and the oracle replays
    // min-verifying-earlier-member over ALL bucket members in SQL.
    QueryDef("g124_stream_banded_index",
      (s, d) => streamScoped(s, "g124")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{coalesce, explode, expr,
          lit, min => fmin, pmod, when, xxhash64}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val maxHamming = 3
        val ids = Tables.read(s, d, "documents")
          .select(col("doc_id").cast("long").as("base_id"))
        val base = ids.select(col("base_id").as("id"),
          xxhash64(col("base_id")).as("sig"))
        val h = pmod(col("base_id"), lit(3L)) + 1L
        val twins = ids.filter(col("base_id") % 8 === 0)
          .withColumn("a", pmod(col("base_id") * 7, lit(64L)))
          .withColumn("fl", expr("shiftleft(1L, CAST(a AS INT))")
            .bitwiseOR(when(h >= 2L,
              expr("shiftleft(1L, CAST((a + 21) % 64 AS INT))")).otherwise(lit(0L)))
            .bitwiseOR(when(h >= 3L,
              expr("shiftleft(1L, CAST((a + 43) % 64 AS INT))")).otherwise(lit(0L))))
          .select((col("base_id") + 10000000L).as("id"),
            xxhash64(col("base_id")).bitwiseXOR(col("fl")).as("sig"))
        val fixture = base.unionByName(twins)
          .select(col("id"), (col("id") * 1000000L).as("ts"), col("sig"))
        val streamDir = st.dir("sigs")
        val half = ids.agg(org.apache.spark.sql.functions.max("base_id"))
          .collect()(0).getLong(0) / 2
        Seq(
          "a_low" -> fixture.filter(col("id") <= half),
          "b_high" -> fixture.filter(col("id") > half && col("id") < 10000000L),
          "c_dups" -> fixture.filter(col("id") >= 10000000L)
        ).pipe(fs => StreamFiles.writeMany(fs, streamDir))
        val banded = s.readStream.schema(fixture.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(streamDir.toString)
          .select(col("id"), col("ts"), col("sig"),
            explode(graft.ops.Dedup.streamBandKeys(col("sig"), maxHamming))
              .as("bkey"))
          .select(col("bkey"), col("ts"), col("id"), col("sig"))
          .as[(Long, Long, Long, Long)]
        val decided = banded
          .groupByKey(_._1)
          .mapValues(r => (r._2, r._3, r._4))
          .transformWithState(
            new graft.streaming.BandedIndexProcessor(maxHamming),
            TimeMode.None(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long)]])
          .toDF("id", "cand")
        st.drain(decided, "append", minBatches = 3).groupBy("id")
          .agg(coalesce(fmin(when(col("cand") >= 0, col("cand"))), lit(-1L))
            .as("dup_of"))
      }),
      SynthQueries.bandedIndexOracle),

    // CHECKPOINT-RESTART leg for the streaming near-dup INDEX: the
    // g124 rig as TWO query incarnations over one RocksDB checkpoint —
    // phase 1 indexes the base corpus (two id-ordered files) and stops
    // cleanly, phase 2 is a NEW query resuming from the checkpoint on
    // the twins file. It must (a) resume, not reprocess (phase 2 reads
    // exactly the twins' rows) and (b) hash-match the SAME oracle as
    // the uninterrupted g124 — proving the per-bucket ListState (every
    // distinct signature's first (id, sig)) reloads intact, so the
    // restarted index attributes every twin to the same survivor. No
    // watermark/sentinel machinery: the processor runs TimeMode.None
    // and emits per arrival.
    QueryDef("g126_stream_index_restart",
      (s, d) => streamScoped(s, "g126")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{coalesce, explode, expr, lit,
          min => fmin, pmod, when, xxhash64}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val maxHamming = 3
        val ids = Tables.read(s, d, "documents")
          .select(col("doc_id").cast("long").as("base_id"))
        val base = ids.select(col("base_id").as("id"),
          xxhash64(col("base_id")).as("sig"))
        val h = pmod(col("base_id"), lit(3L)) + 1L
        val twins = ids.filter(col("base_id") % 8 === 0)
          .withColumn("a", pmod(col("base_id") * 7, lit(64L)))
          .withColumn("fl", expr("shiftleft(1L, CAST(a AS INT))")
            .bitwiseOR(when(h >= 2L,
              expr("shiftleft(1L, CAST((a + 21) % 64 AS INT))")).otherwise(lit(0L)))
            .bitwiseOR(when(h >= 3L,
              expr("shiftleft(1L, CAST((a + 43) % 64 AS INT))")).otherwise(lit(0L))))
          .select((col("base_id") + 10000000L).as("id"),
            xxhash64(col("base_id")).bitwiseXOR(col("fl")).as("sig"))
        val fixture = base.unionByName(twins)
          .select(col("id"), (col("id") * 1000000L).as("ts"), col("sig"))
        val streamDir = st.dir("sigs")
        val ckptDir = st.dir("ckpt").toString
        val outDir = st.dir("out").toString
        val half = ids.agg(org.apache.spark.sql.functions.max("base_id"))
          .collect()(0).getLong(0) / 2
        def runIncarnation(): Long = {
          val banded = s.readStream.schema(fixture.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString)
            .select(col("id"), col("ts"), col("sig"),
              explode(graft.ops.Dedup.streamBandKeys(col("sig"), maxHamming))
                .as("bkey"))
            .select(col("bkey"), col("ts"), col("id"), col("sig"))
            .as[(Long, Long, Long, Long)]
          val q = banded.groupByKey(_._1)
            .mapValues(r => (r._2, r._3, r._4))
            .transformWithState(
              new graft.streaming.BandedIndexProcessor(maxHamming),
              TimeMode.None(), OutputMode.Append(),
              implicitly[org.apache.spark.sql.Encoder[(Long, Long)]])
            .toDF("id", "cand")
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckptDir)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.map(_.numInputRows).sum
        }
        // phase 1: the base corpus only (two id-ordered files)
        StreamFiles.writeMany(
          Seq("a_low" -> fixture.filter(col("id") <= half),
            "b_high" -> fixture.filter(col("id") > half && col("id") < 10000000L)),
          streamDir)
        val rows1 = runIncarnation()
        require(rows1 > 0L, "phase 1 processed no rows")
        // phase 2: the twins land; a NEW query resumes from the checkpoint
        val twinRows = fixture.filter(col("id") >= 10000000L).count()
        StreamFiles.writeOne(fixture.filter(col("id") >= 10000000L), streamDir,
          "c_dups")
        val rows2 = runIncarnation()
        require(rows2 == twinRows,
          s"restart must resume, not reprocess: phase 2 read $rows2 rows, " +
            s"expected exactly the twins' $twinRows")
        materialized(s.read.parquet(outDir).groupBy("id")
          .agg(coalesce(fmin(when(col("cand") >= 0, col("cand"))), lit(-1L))
            .as("dup_of")))
      }),
      // the SAME oracle as g124: a restarted index must attribute
      // identically to the uninterrupted run
      SynthQueries.bandedIndexOracle),

    // BOUNDED-WINDOW near-dup index (r11, VERDICT r10 item 6 — the
    // eviction story): the g124 twin rig through
    // BandedWindowIndexProcessor with windowOrd = 500 over
    // DATA-carried ordinals (base docs at ord = id, twins at
    // maxId + 1 + 2·(bid % 256), so twin-pair separations straddle the
    // window — including one pair at EXACTLY the boundary). A
    // wall-clock TTL could never be oracled (output would depend on
    // scheduling); the event-ordinal window replays exactly: the
    // oracle is the g124 replay plus the window predicate, so both
    // planted expiry (pairs beyond 500 attribute to -1) and boundary
    // inclusion are hash-checked. State is bounded by one window of
    // arrivals per bucket; physical eviction runs when the twins batch
    // raises the cutoff past the early base ordinals.
    // Streaming WARC ingestion: the crawl-loop front door. The sink
    // fixture's 4 segments arrive one per micro-batch (filesPerBatch=1
    // over the WarcMicroBatchStream's file-count offsets), statuses
    // gate in-stream, and the memory sink accumulates exactly the
    // batch read's rows — the oracle is the same source-table
    // reconstruction q155 uses, restricted to 200-status responses.
    // Batch-layout independence and the mutated-prefix failure mode
    // are spec-pinned (WarcStreamSpec).
    // STREAMING crawl discovery: WARC pages arrive one segment per
    // micro-batch, links extract + resolve + canonicalize in-stream,
    // and a stateful dropDuplicates emits each candidate URL exactly
    // once across batches (the cdn library URL is shared by hundreds
    // of pages across DIFFERENT micro-batches — cross-batch state is
    // what's being proven). Oracle = the distinct analytic candidate
    // set. State note: plain dropDuplicates keys state by the URL
    // itself, the right shape for a bounded replay; an unbounded crawl
    // would swap in the banded/bounded-window index family
    // (g124/g128).
    QueryDef("g130_stream_discovery",
      (s, d) => streamScoped(s, "g130") { st =>
        val dir = graft.queries.PipelineQueries.LinkWarcFixture.dir(s, d)
        val name = st.sinkName
        val q = s.readStream.format("warc")
          .option("filesPerBatch", "1")
          // intra-segment parallelism via the CDX sidecars (see
          // warcCdxTarget): without it each micro-batch's whole
          // extract pipeline is one task
          .option("cdxTargetBytes", warcCdxTarget(dir, s).toString)
          .load(dir)
          .filter(col("http_status") === 200)
          // the sniff-decode chain, streaming too — byte-identical on
          // this UTF-8 fixture, honest transcode on a real crawl
          .select(col("target_uri").as("url"),
            graft.ops.HtmlExtract.decodePayload(col("payload"),
              col("http_content_type")).as("html"))
          .select(col("url"),
            org.apache.spark.sql.functions.explode(
              graft.ops.HtmlExtract.extractLinks(col("html"))).as("href"))
          .select(graft.ops.UrlOps.canonicalizeUrl(
            graft.ops.UrlOps.resolveUrl(col("url"), col("href"))).as("curl"))
          .dropDuplicates("curl")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(name)
      },
      Some(s"""SELECT DISTINCT ${graft.queries.PipelineQueries.linkCandidateSql}
          AS curl
        FROM documents, (SELECT unnest(generate_series(0, 5)) AS idx) t""")),

    // CONTINUOUS frontier scheduling (r11 ask #5): per-host politeness
    // slots carried ACROSS micro-batches by a transformWithState
    // processor — and across a REAL query restart: incarnation 1
    // schedules two thirds of the candidate feed, the query stops, a
    // third lands, incarnation 2 resumes from the checkpoint and must
    // CONTINUE each host's timeline (resume-not-reprocess asserted on
    // input rows; a restart that reset any host's next-free-slot or
    // seq breaks the hash). The oracle replays the whole schedule
    // relationally: per host in candidate order, seq = rank-1 and
    // fetch_at_s = (rank-1) * delay — the prefix-sum the carried state
    // must equal over the FULL sequence.
    QueryDef("g131_stream_frontier",
      (s, d) => streamScoped(s, "g131")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{concat, lit, max => fmax, pmod}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val cand = Tables.read(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"))
          .filter(pmod(col("doc_id"), lit(11L)) =!= 0) // robots-gated out
          .select(
            concat(lit("h"), pmod(col("doc_id"), lit(7L)).cast("string"))
              .as("host"),
            col("doc_id").as("ord"),
            col("doc_id").as("id"),
            // the delay CHANGES along each host's own timeline (a host
            // republishing robots crawl-delay mid-crawl): a per-host
            // base plus an ord-varying term, so the carried state must
            // respace later fetches by the new value — the class-doc
            // claim g131 previously never reached (constant-per-host
            // delays made prefix-sum == rank*delay indistinguishable)
            (pmod(pmod(col("doc_id"), lit(7L)), lit(4L)) + 1L +
              pmod(org.apache.spark.sql.functions.floor(col("doc_id") / 7L)
                .cast("long"), lit(3L)))
              .as("delay_s"))
        val maxId = cand.agg(fmax("id")).collect()(0).getLong(0)
        val t1 = maxId / 3
        val t2 = 2L * maxId / 3
        val files = Seq(
          "a_first" -> cand.filter(col("id") <= t1),
          "b_second" -> cand.filter(col("id") > t1 && col("id") <= t2),
          "c_third" -> cand.filter(col("id") > t2))
        val streamDir = st.dir("cand")
        val ckptDir = st.dir("ckpt").toString
        val outDir = st.dir("out").toString
        def runIncarnation(): Long = {
          val scheduled = s.readStream.schema(cand.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString)
            .as[(String, Long, Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new graft.streaming.FrontierProcessor,
              TimeMode.None(), OutputMode.Append(),
              implicitly[org.apache.spark.sql.Encoder[
                (Long, String, Long, Long)]])
            .toDF("id", "host", "seq", "fetch_at_s")
          val q = scheduled.writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckptDir)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.map(_.numInputRows).sum
        }
        val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
        val oldNoData = s.conf.get(noDataKey)
        StreamFiles.writeMany(files.take(2), streamDir)
        s.conf.set(noDataKey, "false")
        val rows1 = try runIncarnation() finally s.conf.set(noDataKey, oldNoData)
        require(rows1 > 0L, "phase 1 processed no rows")
        val tailRows = files(2)._2.count()
        StreamFiles.writeOne(files(2)._2, streamDir, files(2)._1)
        val rows2 = runIncarnation()
        require(rows2 == tailRows,
          s"restart must resume, not reprocess: phase 2 read $rows2 rows, " +
            s"expected exactly the new file's $tailRows")
        materialized(s.read.parquet(outDir))
      }),
      Some("""WITH c AS (SELECT doc_id,
            (doc_id % 7) % 4 + 1 + (doc_id // 7) % 3 AS delay_s
          FROM documents WHERE doc_id % 11 <> 0)
        SELECT doc_id AS id,
          'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
          CAST(row_number() OVER w - 1 AS BIGINT) AS seq,
          CAST(COALESCE(SUM(delay_s) OVER (PARTITION BY doc_id % 7
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS fetch_at_s
        FROM c
        WINDOW w AS (PARTITION BY doc_id % 7 ORDER BY doc_id)""")),

    // Micro-batch WebDataset ingestion through the `wds` source's
    // manifest-ordered file-list stream: two append generations land
    // as tar shards (written by the sink itself — the fixture IS the
    // write path), the stream ingests shard-by-shard with ranged idx
    // splits inside each batch, and every sample member must arrive
    // exactly once with its exact size.
    QueryDef("g132_stream_wds_ingest",
      (s, d) => streamScoped(s, "g132") { st =>
        import org.apache.spark.sql.functions.{concat, lit, lpad, pmod}
        val outDir = st.dir("wds").toString
        def gen(parity: Int): Unit = {
          val base = Tables.read(s, d, "documents")
            .select(col("doc_id").cast("long").as("doc_id"))
            .filter(pmod(col("doc_id"), lit(2L)) === parity)
            .select(col("doc_id"),
              concat(lit("w"), lpad(col("doc_id").cast("string"), 8, "0"))
                .as("key"))
          base.select(col("key"), lit("txt").as("ext"),
              concat(lit("p"), col("doc_id").cast("string"))
                .cast("binary").as("payload"))
            .unionAll(base.select(col("key"), lit("json").as("ext"),
              concat(lit("{\"d\":"), col("doc_id").cast("string"), lit("}"))
                .cast("binary").as("payload")))
            .coalesce(2)
            .write.format("wds").mode("append")
            // shard/split targets sized so the shard count grows slowly
            // with sf (a 32 KiB target at sf0.1 meant thousands of
            // shards = thousands of micro-batches — 44 s of pure
            // trigger overhead in the r12 bench's first cut)
            .option("path", outDir).option("targetShardBytes", "8388608").save()
        }
        gen(0); gen(1)
        val name = st.sinkName
        val q = s.readStream.format("wds")
          .option("manifestOnly", "true").option("filesPerBatch", "2")
          .option("splitTargetBytes", "4194304")
          .load(outDir)
          .select(col("key"), col("ext"), col("size"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(name)
      },
      Some("""SELECT 'w' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
          'txt' AS ext,
          CAST(strlen('p' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS size
        FROM documents
        UNION ALL
        SELECT 'w' || lpad(CAST(doc_id AS VARCHAR), 8, '0'), 'json',
          CAST(strlen('{"d":' || CAST(doc_id AS VARCHAR) || '}') AS BIGINT)
        FROM documents""")),

    // The continuous crawl loop COMPOSED (r12 verdict ask #3): g130's
    // discovery (WARC ingest -> status gate -> sniff/decode -> link
    // extraction -> RFC 3986 resolve -> canonicalize -> EXACTLY-ONCE
    // candidate dedup) feeds g131's FrontierProcessor scheduling inside
    // ONE streaming query — chained stateful operators (streaming
    // dropDuplicates then transformWithState), with the robots-delay
    // dimension joined broadcast-static between them, plus a real
    // checkpoint-restart leg (resume-not-reprocess asserted on source
    // rows). The fixture writes one WARC segment per sink GENERATION so
    // manifest order == batch order is deterministic and the oracle can
    // replay discovery+scheduling relationally: a candidate's batch is
    // the MIN generation of any page linking it, per-host order is
    // (batch, xxhash64(curl)) — the processor's (ord, id) sort — and
    // fetch_at_s is the per-host politeness prefix sum.
    // State honesty: the candidate dedup is a crawl SEEN-SET — state
    // grows with total unique URLs, unwatermarked by design (any real
    // crawler carries it; RocksDB keeps it on disk). Where approximate
    // suffices, the bounded/windowed variants (BandedFirstSeen /
    // BandedWindowIndex, g124/g126/g128) are the capped alternatives.
    QueryDef("g133_stream_crawl_loop",
      (s, d) => streamScoped(s, "g133")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{ascii, broadcast, concat,
          explode, lit, pmod, substring, xxhash64}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val warcDir = st.dir("warc").toString
        val did = col("doc_id")
        def writeGen(g: Long): Long = {
          val pages = Tables.read(s, d, "documents")
            .select(col("doc_id").cast("long").as("doc_id"))
            .filter(pmod(did, lit(3L)) === g)
          pages.select(
              concat(lit("urn:loop:"), did.cast("string")).as("record_id"),
              lit("response").as("warc_type"),
              graft.queries.PipelineQueries.linkFixtureBase(did).as("target_uri"),
              lit("2026-01-01T00:00:00Z").as("warc_date"),
              lit("application/http;msgtype=response").as("content_type"),
              lit(200).as("http_status"),
              lit("text/html").as("http_content_type"),
              graft.queries.PipelineQueries.linkFixtureHtml(did)
                .cast("binary").as("payload"))
            .coalesce(1) // one segment per generation: manifest order IS batch order
            .write.format("warc").mode("append").option("path", warcDir).save()
          pages.count()
        }
        writeGen(0); writeGen(1)
        // the robots/crawl-delay dimension: per-host politeness the
        // upstream join supplies (broadcast-size, static to the stream)
        // materialized once: the candidate map is reused by the final
        // id -> curl join, and the delay dim feeds a STREAM-STATIC
        // join, where an unmaterialized static side would re-derive
        // this whole extract pipeline EVERY micro-batch
        val candBatch = Tables.read(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"))
          // spread the HTML render + link extraction over the cluster:
          // a single-file scan is ONE partition (one parquet row group
          // at bench SFs), which serialized this 2 s pipeline on one
          // core (the Dedup.minHashSignatures spread, same rationale)
          .repartition(s.sparkContext.defaultParallelism)
          .select(graft.queries.PipelineQueries.linkFixtureBase(did).as("__base"),
            graft.ops.HtmlExtract.extractLinks(
              graft.queries.PipelineQueries.linkFixtureHtml(did)).as("__ls"))
          .select(col("__base"), explode(col("__ls")).as("href"))
          .select(graft.ops.UrlOps.canonicalizeUrl(
            graft.ops.UrlOps.resolveUrl(col("__base"), col("href"))).as("curl"))
          .distinct()
          .localCheckpoint(true)
        val delayDf = candBatch
          .select(graft.ops.UrlOps.canonicalHost(col("curl")).as("host"))
          .distinct()
          .withColumn("delay_s",
            (pmod(ascii(substring(col("host"), 2, 1)), lit(3)) + 1).cast("long"))
        // O(hosts) rows — pin them as a literal frame so each
        // micro-batch's broadcast costs nothing to recompute
        val delayDim = materialized(delayDf)
        val ckptDir = st.dir("ckpt").toString
        val outDir = st.dir("out").toString
        def runIncarnation(): Long = {
          val scheduled = s.readStream.format("warc")
            .option("manifestOnly", "true").option("filesPerBatch", "1")
            // intra-segment parallelism via the CDX sidecars (see
            // warcCdxTarget): without it each micro-batch's extract
            // pipeline is one task
            .option("cdxTargetBytes", warcCdxTarget(warcDir, s).toString)
            .load(warcDir)
            .filter(col("http_status") === 200)
            .select(col("target_uri").as("url"),
              graft.ops.HtmlExtract.decodePayload(col("payload"),
                col("http_content_type")).as("html"))
            .select(col("url"),
              explode(graft.ops.HtmlExtract.extractLinks(col("html"))).as("href"))
            .select(graft.ops.UrlOps.canonicalizeUrl(
              graft.ops.UrlOps.resolveUrl(col("url"), col("href"))).as("curl"))
            .dropDuplicates("curl") // exactly-once candidates, state #1
            .join(broadcast(delayDim),
              graft.ops.UrlOps.canonicalHost(col("curl")) === delayDim("host"))
            .select(col("host"), xxhash64(col("curl")).as("ord"),
              xxhash64(col("curl")).as("id"), col("delay_s"))
            .as[(String, Long, Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new graft.streaming.FrontierProcessor,
              TimeMode.None(), OutputMode.Append(),
              implicitly[org.apache.spark.sql.Encoder[
                (Long, String, Long, Long)]]) // state #2, same query
            .toDF("id", "host", "seq", "fetch_at_s")
          // default trigger + processAllAvailable + stop: a REAL
          // restart against the same checkpoint (the AvailableNow
          // wrapper snapshots this custom source's offsets before the
          // checkpoint seeds them, so it cannot drive the resume leg)
          val q = scheduled.writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckptDir)
            .outputMode("append")
            .start()
          try q.processAllAvailable() finally q.stop()
          q.recentProgress.map(_.numInputRows).sum
        }
        val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
        // TWO stateful operators x state partitions x batches x two
        // incarnations = the store-commit count; 4 partitions and
        // changelog checkpointing (append a delta, not a full RocksDB
        // snapshot, per commit) keep this rig's fixed cost bounded
        // while testing exactly the same semantics
        val partsKey = "spark.sql.shuffle.partitions"
        val clogKey =
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        val olds = Seq(noDataKey, partsKey, clogKey).map(k =>
          k -> s.conf.getOption(k))
        s.conf.set(noDataKey, "false")
        s.conf.set(partsKey, "4")
        s.conf.set(clogKey, "true")
        def restore(): Unit = olds.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None)    => s.conf.unset(k)
        }
        val rows1 = try runIncarnation() catch { case t: Throwable =>
          restore(); throw t }
        require(rows1 > 0L, "phase 1 processed no rows")
        val tailRows = writeGen(2)
        val rows2 = try runIncarnation() finally restore()
        require(rows2 == tailRows,
          s"restart must resume, not reprocess: phase 2 read $rows2 source " +
            s"rows, expected exactly generation 2's $tailRows")
        val res = s.read.parquet(outDir)
          .join(candBatch.select(col("curl"), xxhash64(col("curl")).as("id")),
            Seq("id"))
          .select(col("curl"), col("host"), col("seq"), col("fetch_at_s"))
        materialized(res)
      }),
      Some {
        import graft.queries.DuckXxHash._
        val ch = chain("l",
          s"""SELECT doc_id, doc_id % 3 AS gen,
              unnest(generate_series(0, 5)) AS idx
            FROM documents""")
          .cte("cand",
            s"""SELECT curl, CAST(min(gen) AS BIGINT) AS gen FROM (
               SELECT gen, ${graft.queries.PipelineQueries.linkCandidateSql}
                 AS curl FROM l) GROUP BY curl""")
          .cte("b",
            "SELECT curl, gen, regexp_extract(curl, 'https://([^/]+)', 1) " +
              "AS host, hex(encode(curl)) AS hhx, " +
              "octet_length(encode(curl)) AS hln FROM cand")
          .steps(hashStringSteps("h"))
        ch.render(
          s"""SELECT curl, host,
            CAST(row_number() OVER w - 1 AS BIGINT) AS seq,
            CAST((row_number() OVER w - 1) *
              (ascii(substr(host, 2, 1)) % 3 + 1) AS BIGINT) AS fetch_at_s
          FROM ${ch.last}
          WINDOW w AS (PARTITION BY host ORDER BY gen, ${signed("hout")})""")
      }),

    // CONTINUOUS repacking: the wds sink's STREAMING half — crawl
    // archive pages stream in (WARC micro-batches), curated samples
    // stream OUT as WebDataset shard generations, one per epoch,
    // exactly once across a real query restart (epoch-idempotent
    // manifest commit; WdsSpec unit-pins the replayed-epoch case). The
    // q169 capstone as a LOOP instead of a batch job. Sample
    // contiguity holds per epoch: Spark plans the sink's required
    // clustered+sorted distribution on the streaming write path too
    // (spread pinned both here and in WdsSpec).
    QueryDef("g134_stream_warc_to_wds",
      (s, d) => streamScoped(s, "g134") { st =>
        import org.apache.spark.sql.functions.{array, concat, countDistinct,
          explode, lit, md5, pmod, struct, when}
        val did = col("doc_id")
        val warcDir = st.dir("warc").toString
        val outDir = st.dir("wds").toString
        val ckptDir = st.dir("ckpt").toString
        def writeGen(g: Long): Unit =
          Tables.read(s, d, "documents")
            .select(col("doc_id").cast("long").as("doc_id"), col("text"))
            .filter(pmod(did, lit(2L)) === g)
            .select(
              concat(lit("urn:repack:"), did.cast("string")).as("record_id"),
              lit("response").as("warc_type"),
              concat(lit("https://w"), pmod(did, lit(5L)).cast("string"),
                lit(".example.com/d/"), did.cast("string")).as("target_uri"),
              lit("2026-01-01T00:00:00Z").as("warc_date"),
              lit("application/http;msgtype=response").as("content_type"),
              when(pmod(did, lit(9L)) === 0, lit(404)).otherwise(lit(200))
                .as("http_status"),
              lit("text/plain; charset=utf-8").as("http_content_type"),
              col("text").cast("binary").as("payload"))
            .coalesce(1)
            .write.format("warc").mode("append").option("path", warcDir).save()
        def runIncarnation(): Unit = {
          val q = s.readStream.format("warc")
            .option("manifestOnly", "true").option("filesPerBatch", "1")
            // intra-segment parallelism via the CDX sidecars (see
            // warcCdxTarget)
            .option("cdxTargetBytes", warcCdxTarget(warcDir, s).toString)
            .load(warcDir)
            .filter(col("http_status") === 200)
            .select(md5(col("target_uri")).as("key"), col("target_uri"),
              col("payload"))
            .select(col("key"),
              explode(array(
                struct(lit("txt").as("ext"), col("payload").as("payload")),
                struct(lit("url").as("ext"),
                  col("target_uri").cast("binary").as("payload"))))
                .as("m"))
            .select(col("key"), col("m.ext").as("ext"),
              col("m.payload").as("payload"))
            .writeStream.format("wds")
            .option("path", outDir).option("checkpointLocation", ckptDir)
            .option("targetShardBytes", "1048576")
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
        }
        writeGen(0)
        runIncarnation()
        writeGen(1) // lands after a REAL stop: the restart must resume
        runIncarnation()
        val back = s.read.format("wds").option("manifestOnly", "true")
          .load(outDir)
        val spread = back.groupBy("key")
          .agg(countDistinct(col("shard")).as("shard_spread"))
        val res = back.join(spread, Seq("key"))
          .select(col("key"), col("ext"), col("size"),
            md5(col("payload")).as("payload_md5"), col("shard_spread"))
        materialized(res)
      },
      Some("""WITH p AS (SELECT doc_id, text,
            'https://w' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/d/' ||
              CAST(doc_id AS VARCHAR) AS uri
          FROM documents WHERE doc_id % 9 <> 0),
        m AS (
          SELECT md5(uri) AS key, 'txt' AS ext, text AS payload FROM p
          UNION ALL
          SELECT md5(uri), 'url', uri FROM p)
        SELECT key, ext, CAST(strlen(payload) AS BIGINT) AS size,
          md5(payload) AS payload_md5, CAST(1 AS BIGINT) AS shard_spread
        FROM m""")),

    // The crawl loop's FEEDBACK edge closed (r13 verdict ask #4): g133
    // composes discovery -> scheduling in one query; here the
    // frontier's scheduled OUTPUT drives a simulated fetcher that
    // writes the NEXT WARC generation into the SAME source directory,
    // consumed by the SAME streaming query across incarnations —
    // schedule -> fetch -> discover -> schedule, two full turns, then a
    // drain turn (leaf pages link to nothing, so the third incarnation
    // schedules zero new candidates). The url universe is a binary
    // tree (seed i links d1 children 2i/2i+1; a d1 page links its d2
    // children; d2 pages are leaves), so the oracle replays ALL loop
    // turns relationally: a candidate's turn is its depth, per-host
    // order is (depth, xxhash64(curl)), fetch_at_s is the politeness
    // prefix sum. The fetcher fetches ONLY what the frontier actually
    // scheduled (require-pinned per turn) — the feedback edge is load-
    // bearing, not decorative.
    QueryDef("g135_stream_crawl_feedback",
      (s, d) => streamScoped(s, "g135")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{array, ascii, broadcast,
          concat, explode, lit, md5, pmod, substring, when, xxhash64}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val warcDir = st.dir("warc").toString
        val ckptDir = st.dir("ckpt").toString
        val outDir = st.dir("out").toString
        val did = col("doc_id")
        def urlOf(dep: Int, j: org.apache.spark.sql.Column) =
          concat(lit("https://h"), pmod(j, lit(5L)).cast("string"),
            lit(s".example.com/d$dep/"), j.cast("string"))
        val seeds = Tables.read(s, d, "documents")
          .select(did.cast("long").as("i")).filter(pmod(col("i"), lit(7L)) === 0)
        val d1 = seeds.select(explode(array(col("i") * 2, col("i") * 2 + 1))
          .as("j")).select(col("j"), lit(1L).as("depth"))
        val d2 = d1.select(explode(array(col("j") * 2, col("j") * 2 + 1))
          .as("j")).select(col("j"), lit(2L).as("depth"))
        // the analytic url universe, frozen once: the fetcher joins the
        // frontier's output ids against it, and the final projection
        // maps ids back to urls
        val uni = {
          val df = d1.unionByName(d2).select(col("j"), col("depth"))
            .withColumn("curl",
              when(col("depth") === 1L, urlOf(1, col("j")))
                .otherwise(urlOf(2, col("j"))))
            .select(col("curl"), col("depth"), col("j"),
              xxhash64(col("curl")).as("id"))
          materialized(df)
        }
        val dcount = uni.groupBy("depth").count().as[(Long, Long)]
          .collect().toMap
        // per-host politeness dim, O(hosts) literal (the g133 shape)
        val delayDf = uni
          .select(graft.ops.UrlOps.canonicalHost(col("curl")).as("host"))
          .distinct()
          .withColumn("delay_s",
            (pmod(ascii(substring(col("host"), 2, 1)), lit(3)) + 1).cast("long"))
        val delayDim = materialized(delayDf)
        def linkPage(target: org.apache.spark.sql.Column,
            hrefs: Seq[org.apache.spark.sql.Column]) = {
          val body =
            if (hrefs.isEmpty) lit("<html><body>leaf</body></html>")
            else concat(Seq(lit("<html><body>")) ++
              hrefs.flatMap(h => Seq(lit("<a href=\""), h, lit("\">x</a>"))) ++
              Seq(lit("</body></html>")): _*)
          (target, body)
        }
        def writePages(pages: org.apache.spark.sql.DataFrame): Long = {
          pages
            .select(
              concat(lit("urn:fb:"), md5(col("target_uri"))).as("record_id"),
              lit("response").as("warc_type"), col("target_uri"),
              lit("2026-01-01T00:00:00Z").as("warc_date"),
              lit("application/http;msgtype=response").as("content_type"),
              lit(200).as("http_status"),
              lit("text/html").as("http_content_type"),
              col("html").cast("binary").as("payload"))
            .coalesce(1) // one segment per generation: manifest order IS batch order
            .write.format("warc").mode("append").option("path", warcDir).save()
          pages.count()
        }
        // generation 0: seed pages, fetched out-of-band (the crawl's
        // entry point), each linking its two d1 children
        val (t0, h0) = linkPage(urlOf(0, col("i")),
          Seq(urlOf(1, col("i") * 2), urlOf(1, col("i") * 2 + 1)))
        val gen0 = writePages(seeds.select(t0.as("target_uri"), h0.as("html")))
        def runIncarnation(): Long = {
          val scheduled = s.readStream.format("warc")
            .option("manifestOnly", "true").option("filesPerBatch", "1")
            // intra-segment parallelism via the CDX sidecars (see
            // warcCdxTarget)
            .option("cdxTargetBytes", warcCdxTarget(warcDir, s).toString)
            .load(warcDir)
            .filter(col("http_status") === 200)
            .select(col("target_uri").as("url"),
              graft.ops.HtmlExtract.decodePayload(col("payload"),
                col("http_content_type")).as("html"))
            .select(col("url"),
              explode(graft.ops.HtmlExtract.extractLinks(col("html"))).as("href"))
            .select(graft.ops.UrlOps.canonicalizeUrl(
              graft.ops.UrlOps.resolveUrl(col("url"), col("href"))).as("curl"))
            .dropDuplicates("curl")
            .join(broadcast(delayDim),
              graft.ops.UrlOps.canonicalHost(col("curl")) === delayDim("host"))
            .select(col("host"), xxhash64(col("curl")).as("ord"),
              xxhash64(col("curl")).as("id"), col("delay_s"))
            .as[(String, Long, Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new graft.streaming.FrontierProcessor,
              TimeMode.None(), OutputMode.Append(),
              implicitly[org.apache.spark.sql.Encoder[
                (Long, String, Long, Long)]])
            .toDF("id", "host", "seq", "fetch_at_s")
          val q = scheduled.writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckptDir)
            .outputMode("append")
            .start()
          try q.processAllAvailable() finally q.stop()
          q.recentProgress.map(_.numInputRows).sum
        }
        // the FEEDBACK edge: fetch exactly what the frontier scheduled
        // this turn, emit the next WARC generation into the same dir
        def fetchTurn(depth: Long): Long = {
          val sched = s.read.parquet(outDir).select(col("id")).distinct()
            .join(broadcast(uni), Seq("id"))
            .filter(col("depth") === depth)
          val n = sched.count()
          require(n == dcount(depth),
            s"turn $depth: frontier scheduled $n of ${dcount(depth)} depth-$depth candidates")
          val pages =
            if (depth == 1L)
              sched.select(col("curl").as("target_uri"),
                linkPage(col("curl"),
                  Seq(urlOf(2, col("j") * 2), urlOf(2, col("j") * 2 + 1)))._2
                  .as("html"))
            else
              sched.select(col("curl").as("target_uri"),
                lit("<html><body>leaf</body></html>").as("html"))
          writePages(pages)
        }
        val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
        val partsKey = "spark.sql.shuffle.partitions"
        val clogKey =
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        val olds = Seq(noDataKey, partsKey, clogKey).map(k =>
          k -> s.conf.getOption(k))
        s.conf.set(noDataKey, "false")
        s.conf.set(partsKey, "4")
        s.conf.set(clogKey, "true")
        def restore(): Unit = olds.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None)    => s.conf.unset(k)
        }
        try {
          val rows1 = runIncarnation() // turn 1: discover+schedule d1
          require(rows1 == gen0, s"turn 1 read $rows1 pages, expected $gen0")
          val fetched1 = fetchTurn(1L) // feedback: fetch what was scheduled
          val rows2 = runIncarnation() // turn 2: resume, discover d2
          require(rows2 == fetched1,
            s"restart must resume, not reprocess: turn 2 read $rows2, " +
              s"expected exactly generation 1's $fetched1")
          val fetched2 = fetchTurn(2L)
          val rows3 = runIncarnation() // turn 3: leaves drain the loop
          require(rows3 == fetched2,
            s"turn 3 read $rows3 source rows, expected $fetched2")
          val total = s.read.parquet(outDir).select(col("id")).distinct().count()
          require(total == dcount(1L) + dcount(2L),
            s"loop did not drain cleanly: $total scheduled vs " +
              s"${dcount(1L) + dcount(2L)} candidates")
        } finally restore()
        val res = s.read.parquet(outDir)
          .join(uni.select(col("curl"), col("id")), Seq("id"))
          .select(col("curl"), col("host"), col("seq"), col("fetch_at_s"))
        materialized(res)
      }),
      Some {
        import graft.queries.DuckXxHash._
        val ch = chain("l",
          """SELECT doc_id * 2 + unnest([0, 1]) AS j FROM documents
            WHERE doc_id % 7 = 0""")
          .cte("cand",
            """SELECT j, 1 AS depth FROM l
              UNION ALL
              SELECT j * 2 + unnest([0, 1]) AS j, 2 AS depth FROM l""")
          .cte("b",
            "SELECT 'https://h' || CAST(j % 5 AS VARCHAR) || " +
              "'.example.com/d' || CAST(depth AS VARCHAR) || '/' || " +
              "CAST(j AS VARCHAR) AS curl, depth, " +
              "'h' || CAST(j % 5 AS VARCHAR) || '.example.com' AS host, " +
              "hex(encode(curl)) AS hhx, " +
              "octet_length(encode(curl)) AS hln FROM cand")
          .steps(hashStringSteps("h"))
        ch.render(
          s"""SELECT curl, host,
            CAST(row_number() OVER w - 1 AS BIGINT) AS seq,
            CAST((row_number() OVER w - 1) *
              (ascii(substr(host, 2, 1)) % 3 + 1) AS BIGINT) AS fetch_at_s
          FROM ${ch.last}
          WINDOW w AS (PARTITION BY host ORDER BY depth, ${signed("hout")})""")
      }),

    // STREAMING revisit resolution: crawl-dedup replay as a live
    // ingest. Revisit stubs and their originals arrive across two
    // micro-batches in BOTH orders (parity-split segments): an
    // original-first pair resolves from carried canon state, a
    // revisit-first pair parks in the pending buffer and flushes the
    // moment its original lands, and digests with no original stay
    // pending forever (absent from the output — the streaming analog
    // of the batch op's null payload). The oracle is order-free
    // because each digest has exactly one original, so the resolved
    // set replays as a plain relational join.
    QueryDef("g136_stream_revisit",
      (s, d) => streamScoped(s, "g136")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.md5
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val dir = graft.queries.PipelineQueries.RevisitStreamFixture.dir(s, d)
        val name = st.sinkName
        val q = s.readStream.format("warc")
          .option("filesPerBatch", "1")
          .load(dir)
          .select(col("payload_digest"), col("warc_type"),
            col("record_id"), col("payload"))
          .as[(String, String, String, Array[Byte])]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.RevisitProcessor,
            TimeMode.None(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[
              (String, String, Array[Byte])]])
          .toDF("record_id", "revisit_of", "payload")
          .select(col("record_id"), col("revisit_of"),
            md5(col("payload")).as("payload_md5"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(name)
      }),
      Some("""WITH d AS (SELECT doc_id AS id FROM documents),
        refs AS (SELECT id,
            CASE WHEN id % 5 = 2 THEN id - 1 ELSE id + 3 END AS ref
          FROM d WHERE id % 5 IN (2, 3))
        SELECT 'urn:graft:rv:' || CAST(id AS VARCHAR) AS record_id,
          CAST(NULL AS VARCHAR) AS revisit_of,
          md5('rvbody-' || CAST(id AS VARCHAR)) AS payload_md5
        FROM d WHERE id % 5 IN (0, 1)
        UNION ALL
        SELECT 'urn:graft:rv:' || CAST(refs.id AS VARCHAR),
          'urn:graft:rv:' || CAST(ref AS VARCHAR),
          md5('rvbody-' || CAST(ref AS VARCHAR))
        FROM refs JOIN d o ON refs.ref = o.id""")),

    QueryDef("g129_stream_warc_ingest",
      (s, d) => streamScoped(s, "g129") { st =>
        import org.apache.spark.sql.functions.md5
        val warcDir = graft.queries.PipelineQueries.WarcSinkFixture.dir(s, d)
        val name = st.sinkName
        val q = s.readStream.format("warc")
          .option("filesPerBatch", "1")
          .load(warcDir)
          .filter(col("http_status") === 200)
          .select(col("record_id"), col("target_uri"),
            md5(col("payload")).as("payload_md5"), col("payload_len"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(name)
      },
      Some("""SELECT 'urn:graft:' || CAST(doc_id AS VARCHAR) AS record_id,
          'https://w' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/d/' ||
            CAST(doc_id AS VARCHAR) AS target_uri,
          md5(text) AS payload_md5,
          CAST(strlen(text) AS BIGINT) AS payload_len
        FROM documents WHERE doc_id % 9 <> 0 AND doc_id % 7 <> 0""")),

    QueryDef("g128_stream_index_window",
      (s, d) => streamScoped(s, "g128")(st => withRocksDb(s) {
        import org.apache.spark.sql.functions.{coalesce, explode, expr, lit,
          min => fmin, pmod, when, xxhash64, max => fmax}
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val maxHamming = 3
        val windowOrd = 500L
        val ids = Tables.read(s, d, "documents")
          .select(col("doc_id").cast("long").as("base_id"))
        val maxId = ids.agg(fmax("base_id")).collect()(0).getLong(0)
        val base = ids.select(col("base_id").as("id"),
          col("base_id").as("ord"), xxhash64(col("base_id")).as("sig"))
        val h = pmod(col("base_id"), lit(3L)) + 1L
        val twins = ids.filter(col("base_id") % 8 === 0)
          .withColumn("a", pmod(col("base_id") * 7, lit(64L)))
          .withColumn("fl", expr("shiftleft(1L, CAST(a AS INT))")
            .bitwiseOR(when(h >= 2L,
              expr("shiftleft(1L, CAST((a + 21) % 64 AS INT))")).otherwise(lit(0L)))
            .bitwiseOR(when(h >= 3L,
              expr("shiftleft(1L, CAST((a + 43) % 64 AS INT))")).otherwise(lit(0L))))
          .select((col("base_id") + 10000000L).as("id"),
            (lit(maxId + 1L) + pmod(col("base_id"), lit(256L)) * 2L).as("ord"),
            xxhash64(col("base_id")).bitwiseXOR(col("fl")).as("sig"))
        val fixture = base.unionByName(twins)
          .select(col("id"), col("ord"), col("sig"))
        val streamDir = st.dir("sigs")
        val half = maxId / 2
        Seq(
          "a_low" -> fixture.filter(col("id") <= half),
          "b_high" -> fixture.filter(col("id") > half && col("id") < 10000000L),
          "c_dups" -> fixture.filter(col("id") >= 10000000L)
        ).pipe(fs => StreamFiles.writeMany(fs, streamDir))
        val banded = s.readStream.schema(fixture.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(streamDir.toString)
          .select(col("id"), col("ord"), col("sig"),
            explode(graft.ops.Dedup.streamBandKeys(col("sig"), maxHamming))
              .as("bkey"))
          .select(col("bkey"), col("ord"), col("id"), col("sig"))
          .as[(Long, Long, Long, Long)]
        val decided = banded
          .groupByKey(_._1)
          .mapValues(r => (r._2, r._3, r._4))
          .transformWithState(
            new graft.streaming.BandedWindowIndexProcessor(maxHamming, windowOrd),
            TimeMode.None(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long)]])
          .toDF("id", "cand")
        st.drain(decided, "append", minBatches = 3).groupBy("id")
          .agg(coalesce(fmin(when(col("cand") >= 0, col("cand"))), lit(-1L))
            .as("dup_of"))
      }),
      SynthQueries.bandedWindowOracle),

    // Avro record-writer breadth with a FULL bit oracle: fast-path
    // columns whose ladders are already hash-proven (g56/g58 XXH64
    // chains) written as Avro container files and read back through the
    // distributed AvroIo source — the DuckDB replay hash-matches ONLY
    // if generation AND the Avro round-trip are both bit-lossless.
    // (Byte-level nullable/array/binary coverage is in ShardSinkSpec.)
    QueryDef("g112_sink_avro",
      (s, _) => {
        val df = Synth.dataFrameAuto(s,
          """[{"name": "i", "class": "id"},
              {"name": "ip", "class": "ipv4"},
              {"name": "n", "class": "int", "min": 0, "max": 1000}]""", 5000)
        val dir = Staging.dir("g112_avro").toString
        graft.api.Processors.writeAvro(df, dir)
        graft.sources.AvroIo.readAvro(s, dir)
      },
      Some(AvroRoundTripOracle.sql)),

    // The multimodal STUB seam with a FULL oracle (rows-only until
    // round 8): text payloads fail the image magic-byte sniff, so every
    // row takes decodeStub — whose SplitMix64 derivation is pure
    // integer/IEEE arithmetic DuckDB can replay exactly (DuckXxHash
    // .mixSteps + the proven uniform()/REAL cast). The oracle recomputes
    // the metadata struct, the stub geometry, all 8 float features, and
    // the frame-sampling fan-out byte offsets. The REAL ImageIO path has
    // its own full oracles (q141/g119); this one certifies the fallback
    // seam a real codec would replace.
    QueryDef("g50_multimodal_decode",
      (s, d) => {
        import org.apache.spark.sql.functions.element_at
        val assets = graft.ops.Multimodal.asAsset(
          Tables.read(s, d, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("payload")),
          "payload", "image", "png")
        val frames = graft.ops.Multimodal.sampleFrames(
          graft.ops.Multimodal.decodeFeatures(assets, "payload"), "payload", 4)
        frames.select(Seq(col("doc_id"),
          col("payload_meta.modality").as("modality"),
          col("payload_meta.format").as("format"),
          col("payload_meta.n_bytes").as("n_bytes"),
          col("payload_decoded.width").as("width"),
          col("payload_decoded.height").as("height"),
          col("payload_decoded.channels").as("channels")) ++
          (0 until 8).map(i =>
            element_at(col("payload_decoded.features"), i + 1).as(s"f$i")) ++
          Seq(col("frame_idx"), col("frame_offset_bytes")): _*)
      },
      Some {
        import graft.queries.DuckXxHash._
        var ch = chain("b",
          """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
              CASE WHEN octet_length(encode(text)) = 0 THEN 0
                ELSE ascii(substr(text, 1, 1)) END AS b0
            FROM documents""")
          .cte("xv", "SELECT doc_id, n, xor(CAST(n AS UBIGINT), " +
            "CAST(b0 * 4294967296 AS UBIGINT))::HUGEINT AS x FROM b")
          .stepsExpr(mixSteps("h", "x"))
        ch = ch.exprStage((0 until 8).map(i => mixSteps(s"m$i",
          s"((hout + $i) % 18446744073709551616::HUGEINT)")))
        val feats = (0 until 8)
          .map(i => s"CAST(${uniform(s"m${i}out")} AS REAL) AS f$i")
          .mkString(", ")
        ch.render(s"""SELECT doc_id, 'image' AS modality, 'png' AS format,
            n AS n_bytes,
            CAST(64 + (hout % 16) * 64 AS INT) AS width,
            CAST(64 + ((hout // 256) % 16) * 64 AS INT) AS height,
            CAST(3 AS INT) AS channels, $feats,
            CAST(fi.range AS INT) AS frame_idx,
            CAST(trunc(fi.range * greatest(n / 4.0, 1.0)) AS BIGINT)
              AS frame_offset_bytes
          FROM ${ch.last}, range(0, 4) fi""")
      }),
  )
}

/** DuckDB oracle for g56_fastpath_bits: recomputes the Catalyst fast
  * path's formulas exactly — `u(field, id) = (xxhash64(id, salt) >>> 11)
  * * 2^-53` with the same SplitMix-derived field salts
  * (ColumnCompiler.scala:24-36), the int lowering `floor(u*(max-min)+min)`,
  * and the uuid lowering's version/variant bit surgery + %016x hex. Both
  * engines run IEEE-754 doubles, so even the double multiply reproduces
  * bit-for-bit.
  */
object FastPathOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq(
      "n" -> "n#0", "uh" -> "u#hi", "ul" -> "u#lo"))
    // RFC-4122 bit surgery on the unsigned-64 domain: version nibble 4
    // (AND ~0xf000 OR 0x4000), variant bits 10 (keep 62 bits, set the top)
    val hiHex = "lower(lpad(to_hex(CAST((CAST(h_uh AS UBIGINT) & " +
      "CAST(18446744073709490175 AS UBIGINT)) | 16384::UBIGINT AS UBIGINT)), 16, '0'))"
    val loHex = "lower(lpad(to_hex(CAST((CAST(h_ul AS UBIGINT) & " +
      "4611686018427387903::UBIGINT) | CAST(9223372036854775808 AS UBIGINT) " +
      "AS UBIGINT)), 16, '0'))"
    ch.render(
      "SELECT i, " +
        s"${fastPathInt("h_n", 0, 1000000)} AS n, " +
        "concat_ws('-', substr(h_hi, 1, 8), substr(h_hi, 9, 4), substr(h_hi, 13, 4), " +
        "substr(h_lo, 1, 4), substr(h_lo, 5, 12)) AS u " +
        s"FROM (SELECT i, h_n, $hiHex AS h_hi, $loHex AS h_lo FROM ${ch.last})")
  }
}

/** DuckDB oracle for g76_scalar_bits: the double lowering's 53-bit
  * payload (`floor(u * 2^53)` = hash >>> 11 exactly — u*1.0+0.0 is an
  * IEEE identity and (h>>>11)*2^-53*2^53 round-trips losslessly), the
  * skew-2 least() ladder over three salted draws, and the foreign-key
  * Zipf CASE ladder with the shared cumWeights double literals.
  */
object ScalarBitsOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq(
      "x" -> "x#0", "xs0" -> "xs#0", "xs1" -> "xs#1", "xs2" -> "xs#2",
      "fk" -> "fk"))
    val fkItems = (0 until 64).map(i => i.toString -> math.pow(i + 1.0, -1.0))
    ch.render(
      "SELECT i, CAST((h_x // 2048) AS BIGINT) AS xb, " +
        "CAST(least(h_xs0 // 2048, h_xs1 // 2048, h_xs2 // 2048) AS BIGINT) AS xsb, " +
        s"${caseLadderLong(uniform("h_fk"), fkItems)} AS fk FROM ${ch.last}")
  }
}

/** DuckDB oracle for g77_vector_bits: one hashInt chain per element
  * index (the sequence() array is array<int>), each element's 53-bit
  * payload recovered exactly — same keying as the flat-series oracles.
  */
object VectorBitsOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq("vec" -> "vec"))
      .exprStage((1 to 8).map(k =>
        hashIntSteps(s"e$k", s"$k::HUGEINT", "h_vec")), slices = 8)
    val poss = (1 to 8).map(k => s"CAST(${k - 1} AS BIGINT)").mkString(", ")
    val bits = (1 to 8).map(k => s"CAST((e${k}out // 2048) AS BIGINT)").mkString(", ")
    ch.render(
      s"SELECT i, unnest([$poss]) AS pos, unnest([$bits]) AS xb FROM ${ch.last}")
  }
}

/** DuckDB oracle for g79_map_bits: the map combinator's child fields
  * recomputed from their path-derived salts (m/a, m/b).
  */
object MapBitsOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq("a" -> "m/a#0", "b" -> "m/b#0"))
    ch.render(
      s"SELECT i, ${fastPathInt("h_a", 0, 1000000)} AS a, " +
        s"CAST((h_b // 2048) AS BIGINT) AS bb FROM ${ch.last}")
  }
}

/** DuckDB oracle for g31_synth_phone: the PhoneNumber canned source's
  * three digit groups recomputed from the join/sequence fast-path chain
  * (same salts as the g61 template oracle).
  */
object PhoneOracle {
  import graft.queries.DuckXxHash._

  def sql(n: Long, area: Int): String = {
    val ch = uniformChain(n, Seq(
      "p0" -> "phone/join/[0]#0", "p1" -> "phone/join/[1]#0",
      "p2" -> "phone/join/[2]#0"))
    val a = fastPathInt("h_p0", area, area + 1)
    val b = fastPathInt("h_p1", 200, 999)
    val c = fastPathInt("h_p2", 1000, 9999)
    ch.render(s"SELECT concat($a, '-', $b, '-', $c) AS phone FROM ${ch.last}")
  }
}

/** DuckDB oracle for g78_dist_histograms: exact bucket-count constants
  * captured from the pinned (seed=42, partitions=8) run — the sampler
  * chains (Box–Muller normal, Marsaglia–Tsang gamma rejection, CRP) are
  * bit-deterministic, so these counts are reproducible facts, like the
  * g70/g71 invariant constants. Regenerate with
  * `runMain graft.Verify <sf> <out> g78_dist_histograms` after any
  * intentional sampler change.
  */
object DistHistOracle {
  lazy val sql: String =
    """SELECT family, CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n
       FROM (VALUES
         ('gamma', 0, 13090),
         ('gamma', 1, 16677),
         ('gamma', 2, 10313),
         ('gamma', 3, 5352),
         ('gamma', 4, 2524),
         ('gamma', 5, 1131),
         ('gamma', 6, 521),
         ('gamma', 7, 217),
         ('gamma', 8, 175),
         ('normal', -4, 70),
         ('normal', -3, 1023),
         ('normal', -2, 6859),
         ('normal', -1, 17035),
         ('normal', 0, 16983),
         ('normal', 1, 6870),
         ('normal', 2, 1091),
         ('normal', 3, 69),
         ('pitman_yor', 0, 5960),
         ('pitman_yor', 1, 8379),
         ('pitman_yor', 2, 2063),
         ('pitman_yor', 3, 2916),
         ('pitman_yor', 4, 4110),
         ('pitman_yor', 5, 1919),
         ('pitman_yor', 6, 2015),
         ('pitman_yor', 7, 1894),
         ('pitman_yor', 8, 2890),
         ('pitman_yor', 9, 1651),
         ('pitman_yor', 10, 16203)
       ) AS t(family, bucket, n)"""
}

/** DuckDB oracles for the sink queries (g61/g62): the generation
  * lowerings (join/sequence phone, browser multinomial, int) recomputed
  * per DuckXxHash, then the sink's own string assembly — template
  * substitution and the XML element wrapping — reproduced as concat.
  */
object SinkOracles {
  import graft.queries.DuckXxHash._

  lazy val templateSql: String = {
    val ch = uniformChain(20000, Seq(
      "p0" -> "phone/join/[0]#0", "p1" -> "phone/join/[1]#0",
      "p2" -> "phone/join/[2]#0"))
    val a = fastPathInt("h_p0", 200, 999)
    val b = fastPathInt("h_p1", 200, 999)
    val c = fastPathInt("h_p2", 1000, 9999)
    ch.render("SELECT concat('call ', " +
      s"$a, '-', $b, '-', $c, ' now (ref ', i, ')') AS rendered FROM ${ch.last}")
  }

  lazy val xmlSql: String = {
    val ch = uniformChain(20000, Seq("b" -> "b", "n" -> "n#0"))
    val b = caseLadder(uniform("h_b"), graft.runtime.SeedData.browsers)
    val n = fastPathInt("h_n", 0, 10)
    ch.render("SELECT concat('<record>', '<i>', i, '</i>', '<b>', " +
      s"$b, '</b>', '<n>', $n, '</n>', '</record>') AS xml FROM ${ch.last}")
  }
}

/** DuckDB oracle for g113_strhash_bits: Spark's `xxhash64(string)`
  * recomputed over the same byte streams — documents' full texts and
  * their 3-word shingles — via the canonical XXH64 stages
  * (DuckXxHash.hashStringSteps). Tokenization mirrors the Spark side
  * exactly (`\s+` on trimmed lowered text — the VT caveat from q53
  * applies and the corpus contains none).
  */
object StrHashOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = chain("u",
      """SELECT kind, key, s FROM (
           SELECT 'doc' AS kind, CAST(doc_id AS VARCHAR) AS key, text AS s
           FROM documents
           UNION ALL
           SELECT DISTINCT 'sh' AS kind, sh AS key, sh AS s FROM (
             SELECT unnest([array_to_string(w[i:i+2], ' ')
                            for i in generate_series(1, len(w) - 2)]) AS sh
             FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
                   FROM documents)))""")
      .cte("b",
        "SELECT kind, key, hex(encode(s)) AS hhx, " +
          "octet_length(encode(s)) AS hln FROM u")
      .steps(hashStringSteps("h"))
    ch.render(
      s"SELECT kind, key, ${signed("hout")} AS h FROM ${ch.last}")
  }
}

/** DuckDB oracle for g46_minhash_lsh: the COMPLETE MinHash-LSH near-dup
  * pipeline replayed bit-for-bit. Stages: distinct (doc, 3-word
  * shingle) pairs; string-XXH64 per DISTINCT shingle (the g113
  * primitive — dedup before hashing keeps every hash stage at the
  * distinct-shingle count, ~16k rows, instead of doc×shingle×64);
  * pre = hashLong(h, 42); the 64-permutation expansion hashInt(j, pre);
  * signatures = signed min per (doc, j); band keys = the multi-arg
  * xxhash64 fold over each band's signature slice (bands/rowsPerBand
  * from the operator's own chooseBanding); bucket equi-self-join with
  * a < b; hashed-set Jaccard verification and the >= threshold filter.
  */
object MinHashLshOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = pairsChain(0.7)
    ch.render("SELECT a, b2 AS b, jaccard FROM pairsout")
  }

  /** g52_dedup_decision's oracle: the SAME pipeline at threshold 0.8
    * (its own chooseBanding), then connected components as a recursive
    * transitive-closure CTE — cluster = min reachable id, exactly the
    * fixpoint the pointer-jumping Spark implementation converges to —
    * and the keep flag for every document (singletons keep themselves).
    */
  lazy val decisionSql: String = {
    val ch = pairsChain(0.8)
    ch.render(
      """SELECT id, cluster, keep FROM (
        WITH RECURSIVE
          bi AS (SELECT a, b2 AS b FROM pairsout UNION SELECT b2, a FROM pairsout),
          reach(id, m) AS (
            SELECT a AS id, b AS m FROM bi
            UNION
            SELECT r.id, e.b FROM reach r JOIN bi e ON e.a = r.m),
          comp AS (SELECT id, least(id, min(m)) AS cluster FROM reach GROUP BY id)
        SELECT d.doc_id AS id, coalesce(c.cluster, d.doc_id) AS cluster,
          (d.doc_id = coalesce(c.cluster, d.doc_id)) AS keep
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)""")
  }

  /** The full LSH pair pipeline as a Chain ending in CTE `pairsout`
    * (a, b2, jaccard — the verified pairs at `threshold`, with the
    * threshold's own chooseBanding).
    */
  private def pairsChain(threshold: Double): Chain = {
    val numHashes = 64
    val slices = 16
    val (nBands, rowsPerBand) = graft.ops.Dedup.chooseBanding(numHashes, threshold)
    var ch = chain("d0",
      "SELECT doc_id AS did, string_split_regex(lower(trim(text)), '\\s+') AS w " +
        "FROM documents")
      .cte("sh",
        "SELECT DISTINCT did, unnest([array_to_string(w[i:i+2], ' ') " +
          "for i in generate_series(1, len(w) - 2)]) AS s FROM d0 WHERE len(w) >= 3")
      .cte("ds", "SELECT DISTINCT s FROM sh")
      .cte("db",
        "SELECT s, hex(encode(s)) AS hhx, octet_length(encode(s)) AS hln FROM ds")
    // string hash per DISTINCT shingle: the step chain (serial but
    // small text — DuckDB's optimizer is superlinear in expression
    // bytes, so the nested-lambda form of THIS hash planned in ~13 s;
    // the chain plans in ms and executes in ~4 s at sf0.01)
    ch = ch.steps(hashStringSteps("h"))
    ch = ch.cte("hp", s"SELECT s, hout FROM ${ch.last}")
    // pre-hash + the 64 signature draws: nested-lambda expression form
    // in slice-parallel UNION ALL branches (small text, plans fast, and
    // replaces the 1M-row x 9-stage materialized expansion that was 28
    // of g46's 37 s — see DuckXxHash.expr/minhashListExpr)
    ch = ch.cte("hp2", sliced(slices, k =>
      s"SELECT s, ${minhashListExpr(hashLongExpr("p", "hout", "42::HUGEINT"), numHashes)} AS sigl " +
        s"FROM hp WHERE hash(s) % $slices = $k"))
    ch = ch
      .cte("qv",
        "SELECT s, unnest(sigl) AS qs, unnest(range(0, 64)) AS j FROM hp2")
      .cte("sig",
        "SELECT did, j, min(qs) AS sig FROM sh JOIN qv USING (s) GROUP BY did, j")
      .cte("sigs", "SELECT did, list(sig ORDER BY j) AS sg FROM sig GROUP BY did")
      .cte("bandrows",
        (0 until rowsPerBand).map(r => s"sg[b*$rowsPerBand + ${r + 1}] AS s$r")
          .mkString(
            s"SELECT did, b, ", ", ",
            s" FROM sigs, generate_series(0, ${nBands - 1}) AS tb(b)"))
    // the multi-arg xxhash64 fold over the band's slice: seed 42, each
    // signature hashed as a long with the running hash as seed. One
    // expression-form stage PER fold round (12 lambda levels each —
    // DuckDB's planner is explosive in nesting depth, so the rounds
    // must not be fused into one 48-level expression)
    (0 until rowsPerBand).foreach { r =>
      val seed = if (r == 0) "42::HUGEINT" else s"k${r - 1}out"
      val keep = (r + 1 until rowsPerBand).map(x => s", s$x")
        .mkString("did, b", "", "")
      ch = ch.cte(s"bf$r",
        s"SELECT $keep, ${hashLongExpr(s"k$r", unsigned(s"s$r"), seed)} " +
          s"AS k${r}out FROM ${if (r == 0) "bandrows" else s"bf${r - 1}"}")
    }
    ch = ch.cte("buckets",
      s"SELECT did, b, k${rowsPerBand - 1}out AS bsig FROM bf${rowsPerBand - 1}")
      .cte("cand",
        "SELECT x.did AS a, y.did AS b2 FROM buckets x JOIN buckets y " +
          "ON x.b = y.b AND x.bsig = y.bsig AND x.did < y.did GROUP BY 1, 2")
      .cte("hsd", "SELECT did, hout FROM sh JOIN hp USING (s)")
      .cte("nsz", "SELECT did, count(*) AS n FROM hsd GROUP BY did")
      .cte("common",
        "SELECT c.a, c.b2, count(DISTINCT xa.hout) AS cm FROM cand c " +
          "JOIN hsd xa ON xa.did = c.a " +
          "JOIN hsd xb ON xb.did = c.b2 AND xb.hout = xa.hout GROUP BY 1, 2")
      .cte("pairsout",
        s"SELECT a, b2, jaccard FROM (" +
          s"SELECT c.a, c.b2, CAST(c.cm AS DOUBLE) / (na.n + nb.n - c.cm) AS jaccard " +
          s"FROM common c JOIN nsz na ON na.did = c.a JOIN nsz nb ON nb.did = c.b2) " +
          s"WHERE jaccard >= $threshold")
    ch
  }
}

/** DuckDB oracle for g47_simhash_pairs: the SimHash near-dup decision
  * replayed exactly — per-token string-XXH64 (hashed once per DISTINCT
  * token, weighted by its in-doc count: the multiset semantics of the
  * per-bit majority counters), signature bits from counter > 0, 4×16-bit
  * band keys (the &mask makes Spark's arithmetic shift equal the
  * unsigned shift), bucket self-join, popcount hamming <= maxHamming.
  */
object SimHashOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val maxHamming = 3
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    var ch = chain("d0",
      "SELECT doc_id AS did, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t " +
        "FROM documents")
      .cte("tc", "SELECT did, t, count(*) AS cnt FROM d0 GROUP BY did, t")
      .cte("dt", "SELECT DISTINCT t FROM tc")
      .cte("db",
        "SELECT t, hex(encode(t)) AS hhx, octet_length(encode(t)) AS hln FROM dt")
      .steps(hashStringSteps("h"))
    ch = ch.cte("th", s"SELECT t, hout FROM ${ch.last}")
      .cte("bits",
        "SELECT tc.did, bi.i, " +
          "SUM(CASE WHEN (th.hout // (1::HUGEINT << bi.i)) % 2 = 1 " +
          "THEN tc.cnt ELSE -tc.cnt END) AS ctr " +
          "FROM tc JOIN th USING (t), generate_series(0, 63) AS bi(i) " +
          "GROUP BY tc.did, bi.i")
      .cte("sig",
        "SELECT did, SUM(CASE WHEN ctr > 0 THEN (1::HUGEINT << i) " +
          "ELSE 0::HUGEINT END)::HUGEINT AS usig FROM bits GROUP BY did")
      .cte("banded",
        s"SELECT did, usig, b, (usig // (1::HUGEINT << (b * $bandBits))) % " +
          s"${BigInt(1) << bandBits} AS key " +
          s"FROM sig, generate_series(0, ${nBands - 1}) AS tb(b)")
      .cte("cand",
        "SELECT x.did AS a, y.did AS b2, x.usig AS ua, y.usig AS ub " +
          "FROM banded x JOIN banded y " +
          "ON x.b = y.b AND x.key = y.key AND x.did < y.did " +
          "GROUP BY 1, 2, 3, 4")
    ch.render(
      s"""SELECT a, b2 AS b, hamming FROM (
           SELECT a, b2, CAST(bit_count(xor(CAST(ua AS UBIGINT),
             CAST(ub AS UBIGINT))) AS BIGINT) AS hamming FROM cand)
         WHERE hamming <= $maxHamming""")
  }
}

/** DuckDB oracle for g48_embed_neardup: the multi-table SRP near-dup
  * decision replayed exactly. The hyperplane signs are pure functions
  * of (seed, table, bit, index) — precomputed here with the SAME XXH64
  * calls expr/SketchExprs.SrpSig makes and embedded as literal ±1.0
  * lists. The perturbed corpus replays the xxhash64(vec_id, i) factor
  * chain; per-bit dots fold ±x in index order; sig = Σ 2^j over
  * dot >= 0 bits; candidates collide in ANY table; cosine verification
  * uses the same three index-order accumulators as cosine_sim.
  */
object EmbedNearDupOracle {
  import graft.queries.DuckXxHash._
  import org.apache.spark.sql.catalyst.expressions.XXH64

  lazy val sql: String = {
    val nBits = 16
    val nTables = 4
    val seed = 42L
    val threshold = 0.98
    val maxDim = 64
    val signRows = (for { t <- 0 until nTables; j <- 0 until nBits } yield {
      val hj = XXH64.hashInt(j, XXH64.hashInt(t, XXH64.hashLong(seed, 42L)))
      val ss = (0 until maxDim)
        .map(i => if ((XXH64.hashInt(i, hj) & 1L) == 1L) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"($t, $j, $ss::DOUBLE[])"
    }).mkString(",\n         ")
    var ch = chain("e0",
      "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")
      .cte("pe",
        "SELECT vec_id + 1000000 AS pid, vec_id, " +
          "unnest(generate_series(1, len(v))) AS i, unnest(v) AS x FROM e0")
      .stepsExpr(hashLongSteps("pa", unsigned("pid"), "42::HUGEINT"))
      .stepsExpr(hashIntSteps("pb", "(i - 1)::HUGEINT", "paout"))
    ch = ch.cte("pv",
      s"SELECT pid, i, CAST(CAST(x * (1.0 + " +
        s"(CAST(${pmod("pbout", 2001L)} - 1000 AS DOUBLE) / 10000.0)) " +
        s"AS REAL) AS DOUBLE) AS px FROM ${ch.last}")
      .cte("pvec", "SELECT pid AS id, list(px ORDER BY i) AS v FROM pv GROUP BY pid")
      .cte("corp",
        "SELECT vec_id AS id, v FROM e0 UNION ALL SELECT id, v FROM pvec")
      .cte("signs", s"SELECT * FROM (VALUES\n         $signRows) AS s(t, j, sg)")
      .cte("dots",
        "SELECT c.id, s.t, s.j, list_reduce(list_prepend(0.0, " +
          "[ c.v[i] * s.sg[i] for i in generate_series(1, len(c.v)) ]), " +
          "(a, x) -> a + x) AS dt FROM corp c, signs s")
      .cte("sig",
        "SELECT id, t, SUM(CASE WHEN dt >= 0 THEN (1::BIGINT << j) " +
          "ELSE 0 END) AS sg FROM dots GROUP BY id, t")
      .cte("cand",
        "SELECT x.id AS a, y.id AS b2 FROM sig x JOIN sig y " +
          "ON x.t = y.t AND x.sg = y.sg AND x.id < y.id GROUP BY 1, 2")
      .cte("cv",
        "SELECT c.a, c.b2, va.v AS va, vb.v AS vb FROM cand c " +
          "JOIN corp va ON va.id = c.a JOIN corp vb ON vb.id = c.b2")
      .cte("cs",
        "SELECT a, b2, " +
          "list_reduce(list_prepend(0.0, [ va[i] * vb[i] " +
          "for i in generate_series(1, len(va)) ]), (x, y) -> x + y) / " +
          "(sqrt(list_reduce(list_prepend(0.0, [ va[i] * va[i] " +
          "for i in generate_series(1, len(va)) ]), (x, y) -> x + y)) * " +
          "sqrt(list_reduce(list_prepend(0.0, [ vb[i] * vb[i] " +
          "for i in generate_series(1, len(vb)) ]), (x, y) -> x + y))) AS c " +
          "FROM cv")
    ch.render(
      s"""SELECT a, b2 AS b, cosine FROM (
           SELECT a, b2, CASE WHEN isnan(c) THEN -1.0 ELSE c END AS cosine
           FROM cs)
         WHERE cosine >= $threshold""")
  }
}

/** DuckDB oracle for g40_synth_measures: exact bucket-count constants
  * captured from the pinned (seed=42, partitions=8) interpreter run —
  * the g78 convention extended to the full measures demo (gamma,
  * truncated normal, Zipf fk digit-lengths, CRP pitman-yor, vector
  * element, date years, burst values).
  */
object MeasuresHistOracle {
  lazy val sql: String =
    """SELECT family, CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n
       FROM (VALUES
         ('burst_value', 0, 2088),
         ('burst_value', 1, 2058),
         ('burst_value', 2, 1966),
         ('burst_value', 3, 2026),
         ('burst_value', 4, 2010),
         ('burst_value', 5, 2018),
         ('burst_value', 6, 1958),
         ('burst_value', 7, 1955),
         ('burst_value', 8, 1953),
         ('burst_value', 9, 1968),
         ('date_year', 2020, 4091),
         ('date_year', 2021, 4065),
         ('date_year', 2022, 3929),
         ('date_year', 2023, 4014),
         ('date_year', 2024, 3901),
         ('fk_digits', 1, 4041),
         ('fk_digits', 2, 3125),
         ('fk_digits', 3, 3164),
         ('fk_digits', 4, 3338),
         ('fk_digits', 5, 3137),
         ('fk_digits', 6, 3195),
         ('gamma', 0, 6517),
         ('gamma', 1, 8649),
         ('gamma', 2, 3580),
         ('gamma', 3, 977),
         ('gamma', 4, 211),
         ('gamma', 5, 52),
         ('gamma', 6, 12),
         ('gamma', 7, 2),
         ('normal', 5, 314),
         ('normal', 6, 869),
         ('normal', 7, 1845),
         ('normal', 8, 3102),
         ('normal', 9, 3813),
         ('normal', 10, 3910),
         ('normal', 11, 3006),
         ('normal', 12, 1898),
         ('normal', 13, 892),
         ('normal', 14, 351),
         ('pitman_yor', 0, 2715),
         ('pitman_yor', 1, 2289),
         ('pitman_yor', 2, 2788),
         ('pitman_yor', 3, 1866),
         ('pitman_yor', 4, 1873),
         ('pitman_yor', 5, 750),
         ('pitman_yor', 6, 894),
         ('pitman_yor', 7, 755),
         ('pitman_yor', 8, 465),
         ('pitman_yor', 9, 660),
         ('pitman_yor', 10, 4945),
         ('vec0', -4, 21),
         ('vec0', -3, 415),
         ('vec0', -2, 2711),
         ('vec0', -1, 6784),
         ('vec0', 0, 6802),
         ('vec0', 1, 2824),
         ('vec0', 2, 411),
         ('vec0', 3, 31),
         ('vec0', 4, 1)
       ) AS t(family, bucket, n)"""
}

/** DuckDB oracle for g53_iot_fast's per-device rollup: the g82 device
  * chains (uuid surgery, public ipv4, shared zip index for lat/lon)
  * over 1000 ids, the constant 100-reading count, and reading 1's
  * formatted event clock (= the first exponential gap, one hashInt
  * chain — min over a nondecreasing clock).
  */
object IotFastRollupOracle {
  import graft.queries.DuckXxHash._
  import graft.runtime.SeedData

  lazy val sql: String = {
    val base = uniformChain(1000, Seq(
      "uh" -> "device-id#hi", "ul" -> "device-id#lo",
      "ip" -> "device-ip", "zp" -> "zip", "tg" -> "seq/time#g"))
    val ch = base.stepsExpr(hashIntSteps("t1", "1::HUGEINT", "h_tg"))
    val hiHex = "lower(lpad(to_hex(CAST((CAST(h_uh AS UBIGINT) & " +
      "CAST(18446744073709490175 AS UBIGINT)) | 16384::UBIGINT AS UBIGINT)), 16, '0'))"
    val loHex = "lower(lpad(to_hex(CAST((CAST(h_ul AS UBIGINT) & " +
      "4611686018427387903::UBIGINT) | CAST(9223372036854775808 AS UBIGINT) " +
      "AS UBIGINT)), 16, '0'))"
    val uuid = "concat_ws('-', substr(h_hi, 1, 8), substr(h_hi, 9, 4), " +
      "substr(h_hi, 13, 4), substr(h_lo, 1, 4), substr(h_lo, 5, 12))"
    def octet(n: Int) = s"((h_ip // ${BigInt(1) << n}::HUGEINT) % 256)"
    val a0 = s"(${octet(24)} % 221 + 1)"
    val a1 = s"($a0 + CASE WHEN $a0 >= 10 THEN 1 ELSE 0 END)"
    val aPub = s"($a1 + CASE WHEN $a1 >= 127 THEN 1 ELSE 0 END)"
    val ipCol = s"concat_ws('.', $aPub, ${octet(16)}, ${octet(8)}, " +
      s"(${octet(0)} % 254 + 1))"
    val rows = SeedData.continentalZips
    val idx = s"(${pmod("h_zp", rows.length.toLong)} + 1)"
    def dlist(xs: Seq[Double]): String =
      xs.map(x => s"'$x'::DOUBLE").mkString("[", ", ", "]")
    val lat = s"(list_extract(${dlist(rows.map(_.latitude))}, $idx))"
    val lon = s"(list_extract(${dlist(rows.map(_.longitude))}, $idx))"
    val gap1 = s"(-ln((t1out // 2048) * 1.1102230246251565e-16 + 1e-300) * 60000.0)"
    val t1 = s"strftime(epoch_ms(1375315200000 + CAST(trunc(0.0 + $gap1) AS BIGINT)), " +
      "'%Y-%m-%d %H:%M:%S')"
    ch.render(
      s"""SELECT $uuid AS "device-id", $ipCol AS "device-ip",
        $lat AS latitude, $lon AS longitude,
        CAST(100 AS BIGINT) AS n_readings, $t1 AS first_time
      FROM (SELECT *, $hiHex AS h_hi, $loHex AS h_lo FROM ${ch.last})""")
  }
}

/** DuckDB oracle for g121_wide_fastpath_1m: exact aggregate constants
  * captured from the pinned (seed 42) 1M-row run — the generation is
  * bit-deterministic and partitioning-invariant, so these are
  * reproducible facts (g78/DistHistOracle convention). The per-cell
  * bitness of the same lowering is proven by g51's full oracle at 20k.
  */
object WideFastpath1mOracle {
  lazy val sql: String =
    """SELECT CAST(1000000 AS BIGINT) AS n_rows,
         CAST(499869949637 AS BIGINT) AS sum_n,
         '2020-01-01' AS min_d, '2024-12-30' AS max_d,
         CAST(50 AS BIGINT) AS n_states,
         CAST(1000000 AS BIGINT) AS n_uuids,
         '200-200-1792' AS min_phone"""
}

/** DuckDB oracle for g51_columns_fast: every proven ladder fragment of
  * the wide fast-path schema composed over 20k ids (matching
  * uniformChain(20000) and the query's generation count) — uuid RFC-4122
  * surgery (g56), public ipv4 (g58), skew-0 int (g56), Box–Muller
  * normal as a clamped floor bucket (g78 convention — the only libm-
  * dependent cell), bounded date (g64), state/browser CASE ladders
  * (g58), and the 3-part phone join (g61).
  */
object ColumnsFastOracle {
  import graft.queries.DuckXxHash._
  import graft.runtime.SeedData

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq(
      "uh" -> "u#hi", "ul" -> "u#lo", "ip" -> "ip", "n" -> "n#0",
      "xa" -> "x#a", "xb" -> "x#b", "d" -> "d", "st" -> "st", "b" -> "b",
      "p0" -> "phone/join/[0]#0", "p1" -> "phone/join/[1]#0",
      "p2" -> "phone/join/[2]#0"))
    val hiHex = "lower(lpad(to_hex(CAST((CAST(h_uh AS UBIGINT) & " +
      "CAST(18446744073709490175 AS UBIGINT)) | 16384::UBIGINT AS UBIGINT)), 16, '0'))"
    val loHex = "lower(lpad(to_hex(CAST((CAST(h_ul AS UBIGINT) & " +
      "4611686018427387903::UBIGINT) | CAST(9223372036854775808 AS UBIGINT) " +
      "AS UBIGINT)), 16, '0'))"
    val uuid = "concat_ws('-', substr(h_hi, 1, 8), substr(h_hi, 9, 4), " +
      "substr(h_hi, 13, 4), substr(h_lo, 1, 4), substr(h_lo, 5, 12))"
    def octet(n: Int) = s"((h_ip // ${BigInt(1) << n}::HUGEINT) % 256)"
    val a0 = s"(${octet(24)} % 221 + 1)"
    val a1 = s"($a0 + CASE WHEN $a0 >= 10 THEN 1 ELSE 0 END)"
    val aPub = s"($a1 + CASE WHEN $a1 >= 127 THEN 1 ELSE 0 END)"
    val ipCol = s"concat_ws('.', $aPub, ${octet(16)}, ${octet(8)}, " +
      s"(${octet(0)} % 254 + 1))"
    val x = s"(sqrt(ln(${uniform("h_xa")} + 1e-300) * -2.0) * " +
      s"cos(${uniform("h_xb")} * 6.283185307179586) * 1.0 + 0.0)"
    val xb = s"CAST(greatest(-4, least(4, floor($x))) AS BIGINT)"
    val ftD = graft.runtime.FancyTime("yyyy-MM-dd")
    val (s1, e1) = (ftD.parseMillis("2020-01-01"), ftD.parseMillis("2024-12-31"))
    val dMs = s"CAST(floor(${uniform("h_d")} * ${e1 - s1} + $s1) AS BIGINT)"
    ch.render(
      s"SELECT i, $uuid AS u, $ipCol AS ip, ${fastPathInt("h_n", 0, 1000000)} AS n, " +
        s"$xb AS xb, strftime(epoch_ms($dMs), '%Y-%m-%d') AS d, " +
        s"${caseLadder(uniform("h_st"), SeedData.states)} AS st, " +
        s"${caseLadder(uniform("h_b"), SeedData.browsers)} AS b, " +
        s"concat(${fastPathInt("h_p0", 200, 999)}, '-', " +
        s"${fastPathInt("h_p1", 200, 999)}, '-', " +
        s"${fastPathInt("h_p2", 1000, 9999)}) AS phone " +
        s"FROM (SELECT *, $hiHex AS h_hi, $loHex AS h_lo FROM ${ch.last})")
  }
}

/** DuckDB oracle for g112_sink_avro: the same public-ipv4 and skew-0
  * int-ladder formulas the g58/g56 oracles prove (salts "ip" and
  * "n#0"), replayed over 5000 ids — a hash match certifies the Avro
  * container round-trip byte-preserved every value.
  */
object AvroRoundTripOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(5000, Seq("ip" -> "ip", "n" -> "n#0"))
    def octet(n: Int) = s"((h_ip // ${BigInt(1) << n}::HUGEINT) % 256)"
    val a0 = s"(${octet(24)} % 221 + 1)"
    val a1 = s"($a0 + CASE WHEN $a0 >= 10 THEN 1 ELSE 0 END)"
    val aPub = s"($a1 + CASE WHEN $a1 >= 127 THEN 1 ELSE 0 END)"
    val lastOct = s"(${octet(0)} % 254 + 1)"
    ch.render(
      s"SELECT i, concat_ws('.', $aPub, ${octet(16)}, ${octet(8)}, $lastOct) AS ip, " +
        s"${fastPathInt("h_n", 0, 1000)} AS n FROM ${ch.last}")
  }
}

/** DuckDB oracle for g58_lookup_bits: the fast path's multinomial
  * lookups (state, browser) and public-ipv4 lowering recomputed exactly.
  * The CASE ladder uses the same cumulative-weight doubles as the Spark
  * side (ColumnCompiler.cumWeights — shortest-roundtrip double literals
  * parse back to the identical IEEE value), and the ipv4 octet shifts /
  * exclusion bumps are pure integer arithmetic.
  */
object LookupOracle {
  import graft.queries.DuckXxHash._
  import graft.runtime.SeedData

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq(
      "st" -> "st", "b" -> "b", "ip" -> "ip"))
    val uSt = uniform("h_st")
    val uB = uniform("h_b")
    def octet(n: Int) = s"((h_ip // ${BigInt(1) << n}::HUGEINT) % 256)"
    // public leading octet: 1..221 draw then bump past 10 and 127
    val a0 = s"(${octet(24)} % 221 + 1)"
    val a1 = s"($a0 + CASE WHEN $a0 >= 10 THEN 1 ELSE 0 END)"
    val aPub = s"($a1 + CASE WHEN $a1 >= 127 THEN 1 ELSE 0 END)"
    val lastOct = s"(${octet(0)} % 254 + 1)"
    ch.render(
      s"SELECT i, ${caseLadder(uSt, SeedData.states)} AS st, " +
        s"${caseLadder(uB, SeedData.browsers)} AS b, " +
        s"concat_ws('.', $aPub, ${octet(16)}, ${octet(8)}, $lastOct) AS ip " +
        s"FROM ${ch.last}")
  }
}

/** DuckDB oracle for g63_names_bits: the name / street-name / username
  * lowerings recomputed exactly — weighted CASE ladders over the same
  * cumulative-weight doubles (ColumnCompiler.multinomialCol via
  * cumWeights), uniform ladders for the street parts, and the
  * rank-weighted username stem + `pmod(hash, 1000)` suffix.
  */
object NamesOracle {
  import graft.queries.DuckXxHash._
  import graft.runtime.SeedData

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq(
      "nf" -> "nm/f", "nl" -> "nm/l",
      "sa" -> "street/a", "sb" -> "street/b", "sc" -> "street/c",
      "us" -> "uname/stem", "ux" -> "uname#sfx"))
    def lad(h: String, items: Seq[(String, Double)]): String =
      caseLadder(uniform(s"h_$h"), items)
    val first = lad("nf", SeedData.maleFirst ++ SeedData.femaleFirst)
    val last = lad("nl", SeedData.lastNames)
    val sa = lad("sa", SeedData.streetFirst.map(_ -> 1.0))
    val sb = lad("sb", SeedData.streetSecond.map(_ -> 1.0))
    val sc = lad("sc", SeedData.streetThird.map(_ -> 1.0))
    val stems = SeedData.usernames.zipWithIndex.map { case (s, i) => s -> (1.0 / (i + 1)) }
    val stem = lad("us", stems)
    // the five CASE ladders are WIDE (hundreds of branches) and the
    // materialized-CTE scan they run over is single-threaded, so the
    // final projection is itself slice-parallelized (see DuckXxHash)
    ch.render(sliced(8, k =>
      s"SELECT i, concat($first, ' ', $last) AS nm, " +
        s"concat($sa, ' ', $sb, ' ', $sc) AS street, " +
        s"concat($stem, CAST(${pmod("h_ux", 1000)} AS VARCHAR)) AS uname " +
        s"FROM ${ch.last} WHERE i % 8 = $k"))
  }
}

/** DuckDB oracle for g64_ssn_date_bits: ssn = uniform pick from the
  * issued-area list + pmod group/serial digits (printf'd to the
  * NNN-NN-NNNN shape); dates = `u * (end - start) + start` in IEEE
  * doubles truncated to millis, formatted in UTC — every step
  * reproduces bit-for-bit in DuckDB.
  */
object SsnDateOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq(
      "ar" -> "ssn#area", "gr" -> "ssn#grp", "se" -> "ssn#ser",
      "d" -> "d", "ts" -> "ts"))
    val areas = graft.runtime.SeedData.ssnAreas.filter(_._3 == "normal").map(_._1)
    val area = s"(list_extract(${areas.mkString("[", ", ", "]")}, " +
      s"${pmod("h_ar", areas.length.toLong)} + 1))"
    val grp = s"(${pmod("h_gr", 99L)} + 1)"
    val ser = s"(${pmod("h_se", 9999L)} + 1)"
    val ftD = graft.runtime.FancyTime("yyyy-MM-dd")
    val (s1, e1) = (ftD.parseMillis("2020-01-01"), ftD.parseMillis("2024-12-31"))
    val ftTs = graft.runtime.FancyTime("yyyy-MM-dd HH:mm:ss")
    val (s2, e2) = (ftTs.parseMillis("2023-01-01 00:00:00"),
      ftTs.parseMillis("2023-12-31 00:00:00"))
    // Spark's `.cast("long")` truncates toward zero; values are positive
    // so floor() is the same function, and DuckDB's rounding CAST is not
    def msExpr(h: String, s: Long, e: Long): String =
      s"CAST(floor(${uniform(s"h_$h")} * ${e - s} + $s) AS BIGINT)"
    ch.render(
      s"SELECT i, printf('%03d-%02d-%04d', $area, $grp, $ser) AS ssn, " +
        s"strftime(epoch_ms(${msExpr("d", s1, e1)}), '%Y-%m-%d') AS d, " +
        s"strftime(epoch_ms(${msExpr("ts", s2, e2)}), '%Y-%m-%d %H:%M:%S') AS ts " +
        s"FROM ${ch.last}")
  }
}

/** DuckDB oracle for g65_geo_bits: country/language/os CASE ladders plus
  * the zip flatten — one shared `pmod(hash, len)` index into the same
  * continental zip table the Spark side inlines (zipColumns), so the
  * projected zip/city/state triple stays row-consistent on both engines.
  */
object GeoOracle {
  import graft.queries.DuckXxHash._
  import graft.runtime.SeedData

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq(
      "co" -> "co", "lg" -> "lang", "os" -> "os", "zp" -> "zip"))
    val rows = SeedData.continentalZips
    def strList(xs: Seq[String]): String =
      xs.map(x => s"'$x'").mkString("[", ", ", "]")
    val idx = s"(${pmod("h_zp", rows.length.toLong)} + 1)"
    ch.render(
      s"SELECT i, ${caseLadder(uniform("h_co"), SeedData.countries)} AS co, " +
        s"${caseLadder(uniform("h_lg"), SeedData.languages)} AS lang, " +
        s"${caseLadder(uniform("h_os"), SeedData.osList)} AS os, " +
        s"(list_extract(${strList(rows.map(_.zip))}, $idx)) AS zip, " +
        s"(list_extract(${strList(rows.map(_.city))}, $idx)) AS city, " +
        s"(list_extract(${strList(rows.map(_.state))}, $idx)) AS state " +
        s"FROM ${ch.last}")
  }
}

/** DuckDB oracle for g68_header_bits: the header fast path recomputed
  * line by line — url printf pieces, host, the browser ladder with the
  * per-browser user-agent pick and `%d` version substitution, the
  * accept/language/encoding draws, and the exact template text
  * (including the curly-quote etag signature). Newlines are embedded
  * literally in the SQL string literals.
  */
object HeaderOracle {
  import graft.queries.DuckXxHash._
  import graft.runtime.SeedData

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq(
      "im" -> "hdr#img", "ua" -> "hdr#ua", "ub" -> "hdr#ub", "ho" -> "hdr#h",
      "b" -> "hdr/b", "ui" -> "hdr#ui", "uv" -> "hdr#uv", "l" -> "hdr/l",
      "e" -> "hdr#e", "ra" -> "hdr#ra", "rb" -> "hdr#rb"))
    val img = s"(${uniform("h_im")} < 0.3)"
    def urlSql(a: String, b: String, ext: String): String =
      s"('http://foo.bar.com/' || printf('%06d', ${pmod(s"h_$a", 1000000L)}) || '/' || " +
        s"printf('%06x', ${pmod(s"h_$b", 16777216L)}) || $ext)"
    val getUrl = urlSql("ua", "ub", s"(CASE WHEN $img THEN '.jpg' ELSE '.html' END)")
    val referer = urlSql("ra", "rb", "'.html'")
    val host = s"printf('x%03d.foo.com', ${pmod("h_ho", 5L)})"
    val bLad = caseLadder(uniform("h_b"), SeedData.browsers)
    val ver = s"CAST(${pmod("h_uv", 40L)} + 90 AS VARCHAR)"
    val uaCase = s"(CASE $bLad " + SeedData.browsers.map(_._1).map { name =>
      val uas = SeedData.userAgents(name)
      val pick = s"list_extract(${uas.map(u => s"'$u'").mkString("[", ", ", "]")}, " +
        s"${pmod("h_ui", uas.length.toLong)} + 1)"
      s"WHEN '$name' THEN replace($pick, '%d', $ver)"
    }.mkString(" ") + " END)"
    val lLad = caseLadder(uniform("h_l"), SeedData.headerLangs)
    val langLine = s"($lLad || '-' || upper($lLad) || ',' || $lLad || ';q=0.5')"
    val enc = s"(CASE ${pmod("h_e", 3L)} WHEN 0 THEN 'gzip' WHEN 1 THEN 'deflate' " +
      "ELSE 'gzip, deflate' END)"
    val accept = s"(CASE WHEN $img THEN 'image/png,image/*;q=0.8,*/*;q=0.5' " +
      "ELSE 'text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8' END)"
    ch.render(
      s"SELECT i, 'GET ' || $getUrl || ' HTTP/1.1\n' || " +
        s"'Host: ' || $host || '\n' || " +
        s"'User-Agent: ' || $uaCase || '\n' || " +
        s"'Accept: ' || $accept || '\n' || " +
        s"'Accept-Language: ' || $langLine || '\n' || " +
        s"'Accept-Encoding: ' || $enc || '\n' || " +
        s"'Referer: ' || $referer || '\n' || " +
        "'Connection: keep-alive\n' || " +
        "'If-None-Match: \"v9”\n' || " +
        s"'Cache-Control: max-age=0\n' AS hdr FROM ${ch.last}")
  }
}

/** DuckDB oracle for g74_series_bits: the event-series lowering for a
  * 3-element flat sequence, fully unrolled — per-element hashes
  * `xxhash64(id, salt, k)` for k = 1..3 (constant third argument, so no
  * window is needed), exponential gaps `-ln(u + 1e-300) * meanMs`, and
  * explicitly left-associated prefix sums matching the Spark
  * accumulator order. Green iff DuckDB's ln() equals JVM Math.log on
  * every sampled input (empirically true here — both are
  * correctly-rounded fdlibm-compatible on this range).
  */
object SeriesOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    // one fused expression per element index: the third xxhash64
    // argument is the CONSTANT element number, hashed as a 4-byte INT
    // (the sequence() array is array<int> — Spark folds it through
    // XXH64.hashInt)
    val ch = uniformChain(20000, Seq("g" -> "seq/ev#g"))
      .exprStage((1 to 3).map(k =>
        hashIntSteps(s"e$k", s"$k::HUGEINT", "h_g")))
    def gap(k: Int): String =
      s"(-ln((e${k}out // 2048) * 1.1102230246251565e-16 + 1e-300) * 60000.0)"
    // left-associated exactly like the Spark accumulator: ((0+g1)+g2)+g3
    val a1 = s"(0.0 + ${gap(1)})"
    val a2 = s"($a1 + ${gap(2)})"
    val a3 = s"($a2 + ${gap(3)})"
    def ev(a: String): String =
      s"CAST(1375315200000 + CAST(trunc($a) AS BIGINT) AS VARCHAR)"
    ch.render(
      s"SELECT i, unnest([${ev(a1)}, ${ev(a2)}, ${ev(a3)}]) AS ev FROM ${ch.last}")
  }
}

/** DuckDB oracle for g80_varlen_bits: the g74 event-series chains plus
  * the hash-keyed length draw — the list literal is sliced to exactly
  * the first `len` elements, reproducing the variable-length explode.
  */
object VarlenSeriesOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq("l" -> "seq#len", "g" -> "seq/ev#g"))
      .exprStage((1 to 3).map(k =>
        hashIntSteps(s"e$k", s"$k::HUGEINT", "h_g")))
    def gap(k: Int): String =
      s"(-ln((e${k}out // 2048) * 1.1102230246251565e-16 + 1e-300) * 60000.0)"
    val a1 = s"(0.0 + ${gap(1)})"
    val a2 = s"($a1 + ${gap(2)})"
    val a3 = s"($a2 + ${gap(3)})"
    def ev(a: String): String =
      s"CAST(1375315200000 + CAST(trunc($a) AS BIGINT) AS VARCHAR)"
    ch.render(
      s"SELECT i, unnest(([${ev(a1)}, ${ev(a2)}, ${ev(a3)}])" +
        s"[1:${fastPathInt("h_l", 1, 4)}]) AS ev FROM ${ch.last}")
  }
}

/** DuckDB oracle for g82_iot_bits: the whole IoT flagship row composed
  * from the proven fragments — FastPathOracle's RFC-4122 hex surgery,
  * LookupOracle's public-ipv4 octets, GeoOracle's zip-table pick,
  * SeriesOracle's exponential arrival clock (formatted render), and
  * WalkOracle's Box–Muller cumulative walk — one SELECT whose 60 000
  * rows must hash-match the fast path bit-for-bit.
  */
object IotBitsOracle {
  import graft.queries.DuckXxHash._
  import graft.runtime.SeedData

  lazy val sql: String = {
    val base = uniformChain(20000, Seq(
      "uh" -> "device-id#hi", "ul" -> "device-id#lo",
      "ip" -> "device-ip", "zp" -> "zip",
      "tg" -> "seq/time#g", "wa" -> "seq/temp#a", "wb" -> "seq/temp#b"))
    val ch = base.exprStage((1 to 3).flatMap(k => Seq(
      hashIntSteps(s"t$k", s"$k::HUGEINT", "h_tg"),
      hashIntSteps(s"wa$k", s"$k::HUGEINT", "h_wa"),
      hashIntSteps(s"wb$k", s"$k::HUGEINT", "h_wb"))), slices = 8)
    // uuid: version-4 / variant-10 bit surgery on the unsigned domain
    val hiHex = "lower(lpad(to_hex(CAST((CAST(h_uh AS UBIGINT) & " +
      "CAST(18446744073709490175 AS UBIGINT)) | 16384::UBIGINT AS UBIGINT)), 16, '0'))"
    val loHex = "lower(lpad(to_hex(CAST((CAST(h_ul AS UBIGINT) & " +
      "4611686018427387903::UBIGINT) | CAST(9223372036854775808 AS UBIGINT) " +
      "AS UBIGINT)), 16, '0'))"
    val uuid = "concat_ws('-', substr(h_hi, 1, 8), substr(h_hi, 9, 4), " +
      "substr(h_hi, 13, 4), substr(h_lo, 1, 4), substr(h_lo, 5, 12))"
    // ipv4: 1..221 leading draw bumped past 10 and 127; last octet 1..254
    def octet(n: Int) = s"((h_ip // ${BigInt(1) << n}::HUGEINT) % 256)"
    val a0 = s"(${octet(24)} % 221 + 1)"
    val a1 = s"($a0 + CASE WHEN $a0 >= 10 THEN 1 ELSE 0 END)"
    val aPub = s"($a1 + CASE WHEN $a1 >= 127 THEN 1 ELSE 0 END)"
    val ipCol = s"concat_ws('.', $aPub, ${octet(16)}, ${octet(8)}, " +
      s"(${octet(0)} % 254 + 1))"
    // zip-table pick: one shared hash index keeps lat/lon row-consistent.
    // '<shortest-repr>'::DOUBLE forces the correctly-rounded string→
    // double parse — a bare numeric literal would land as DECIMAL and
    // round differently in the low bits
    val rows = SeedData.continentalZips
    val idx = s"(${pmod("h_zp", rows.length.toLong)} + 1)"
    def dlist(xs: Seq[Double]): String =
      xs.map(x => s"'$x'::DOUBLE").mkString("[", ", ", "]")
    val lat = s"(list_extract(${dlist(rows.map(_.latitude))}, $idx))"
    val lon = s"(list_extract(${dlist(rows.map(_.longitude))}, $idx))"
    // event clock: exponential gaps, left-associated prefix sums,
    // formatted UTC render
    def gap(k: Int): String =
      s"(-ln((t${k}out // 2048) * 1.1102230246251565e-16 + 1e-300) * 60000.0)"
    val a1e = s"(0.0 + ${gap(1)})"
    val a2e = s"($a1e + ${gap(2)})"
    val a3e = s"($a2e + ${gap(3)})"
    def evt(a: String): String =
      s"strftime(epoch_ms(1375315200000 + CAST(trunc($a) AS BIGINT)), " +
        "'%Y-%m-%d %H:%M:%S')"
    // random walk: Box-Muller steps, cumulative, +30 start, micro floor
    def uu(pfx: String): String = s"((${pfx}out // 2048) * 1.1102230246251565e-16)"
    def step(k: Int): String =
      s"(sqrt(ln(${uu(s"wa$k")} + 1e-300) * -2.0) * " +
        s"cos(${uu(s"wb$k")} * 6.283185307179586) * 1.0 + 0.0)"
    val c1 = s"(0.0 + ${step(1)})"
    val c2 = s"($c1 + ${step(2)})"
    val c3 = s"($c2 + ${step(3)})"
    def wq(c: String): String = s"CAST(floor(($c + 30.0) * 1000000.0) AS BIGINT)"
    ch.render(
      s"""SELECT i, $uuid AS "device-id", $ipCol AS "device-ip",
        $lat AS latitude, $lon AS longitude,
        unnest([${evt(a1e)}, ${evt(a2e)}, ${evt(a3e)}]) AS time,
        unnest([${wq(c1)}, ${wq(c2)}, ${wq(c3)}]) AS tempq
      FROM (SELECT *, $hiHex AS h_hi, $loHex AS h_lo FROM ${ch.last})""")
  }
}

/** DuckDB oracle for g75_walk_bits: Box-Muller steps from two keyed
  * uniform streams (per-element hashInt chains), cumulative sum in the
  * exact accumulator order, micro-unit floor.
  */
object WalkOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq("wa" -> "seq/w#a", "wb" -> "seq/w#b"))
      .exprStage((1 to 3).flatMap(k => Seq(
        hashIntSteps(s"a$k", s"$k::HUGEINT", "h_wa"),
        hashIntSteps(s"b$k", s"$k::HUGEINT", "h_wb"))), slices = 8)
    def u(pfx: String): String = s"((${pfx}out // 2048) * 1.1102230246251565e-16)"
    // step = sqrt(ln(uA + 1e-300) * -2.0) * cos(uB * 2pi) * sd + mean,
    // evaluated with sd = 1, mean = 0 exactly as the Spark lowering does
    def step(k: Int): String =
      s"(sqrt(ln(${u(s"a$k")} + 1e-300) * -2.0) * " +
        s"cos(${u(s"b$k")} * 6.283185307179586) * 1.0 + 0.0)"
    val c1 = s"(0.0 + ${step(1)})"
    val c2 = s"($c1 + ${step(2)})"
    val c3 = s"($c2 + ${step(3)})"
    def wq(c: String): String =
      s"CAST(floor(($c + 30.0) * 1000000.0) AS BIGINT)"
    ch.render(
      s"SELECT i, unnest([${wq(c1)}, ${wq(c2)}, ${wq(c3)}]) AS wq FROM ${ch.last}")
  }
}

/** DuckDB oracle for g72_dist_bits: the user-supplied multinomials as
  * CASE ladders over the identical spec-order cumulative weights.
  */
object DistOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq("st" -> "st", "tb" -> "tb"))
    val st = caseLadder(uniform("h_st"),
      Seq("alpha" -> 5.0, "beta" -> 3.0, "gamma" -> 1.5, "delta" -> 0.5))
    val tb = caseLadder(uniform("h_tb"),
      Seq("lorem ipsum" -> 2.0, "dolor sit amet" -> 1.0, "consectetur" -> 1.0))
    ch.render(s"SELECT i, $st AS st, $tb AS tb FROM ${ch.last}")
  }
}

/** DuckDB oracle for g69_toll_bits: the toll struct's zip-row pick
  * (shared pmod index keeps zip/city/state row-consistent), the 365-day
  * range timestamp in UTC, and the country constant.
  */
object TollOracle {
  import graft.queries.DuckXxHash._
  import graft.runtime.SeedData

  lazy val sql: String = {
    val ch = uniformChain(20000, Seq("zp" -> "t/location", "d" -> "t/timestamp"))
    val rows = SeedData.continentalZips
    def strList(xs: Seq[String]): String =
      xs.map(x => s"'$x'").mkString("[", ", ", "]")
    val idx = s"(${pmod("h_zp", rows.length.toLong)} + 1)"
    val e0 = 1375315200000L
    val s0 = e0 - 365L * 86400000L
    val ms = s"CAST(floor(${uniform("h_d")} * ${e0 - s0} + $s0) AS BIGINT)"
    ch.render(
      s"SELECT i, (list_extract(${strList(rows.map(_.zip))}, $idx)) AS zip, " +
        s"(list_extract(${strList(rows.map(_.city))}, $idx)) AS city, " +
        s"(list_extract(${strList(rows.map(_.state))}, $idx)) AS state, " +
        s"strftime(epoch_ms($ms), '%Y-%m-%d %H:%M:%S') AS ts, " +
        s"'usa' AS country FROM ${ch.last}")
  }
}

/** DuckDB oracle for g54_tx_fanout: per order key, the deterministic
  * transaction fan-out (`pmod(xxhash64(key, 42), 6)` sequences) and each
  * transaction's amount (`pmod(xxhash64(key, seq, 'amt', 42), 20000)+1`),
  * with (-1, -1) rows marking zero-fan-out keys (Spark's explode_outer).
  * Built from DuckXxHash stages; validated bit-equal to Spark xxhash64.
  */
object TxFanoutOracle {
  import graft.queries.DuckXxHash._

  lazy val sql: String = {
    // Spark's xxhash64(key, lit(42L)) is TWO chained rounds: the running
    // hash starts at 42, absorbs the key, then absorbs the literal 42.
    // The amount chain re-seeds from the single-round hash of the key:
    // h2 = xxh64(seq | h1), h3 = xxh64('amt' | h2), h4 = xxh64(42 | h3).
    val hashed = chain("s0",
      s"SELECT o_orderkey, ${unsigned("o_orderkey")} AS v FROM orders")
      .stepsExpr(hashLongSteps("h1", "v", "42::HUGEINT"))
      .stepsExpr(hashLongSteps("h1b", "42::HUGEINT", "h1out"))
    val ch = hashed
      .cte("keyss",
        s"SELECT o_orderkey, h1out, ${pmod("h1bout", 6)} AS n_tx FROM ${hashed.last}")
      .cte("expl", "SELECT o_orderkey, h1out, " +
        "unnest(generate_series(1, CAST(n_tx AS INT))) AS seq FROM keyss WHERE n_tx > 0")
      .cte("expl2", s"SELECT o_orderkey, seq, h1out, ${unsigned("seq")} AS vs FROM expl")
      .exprStage(Seq(hashLongSteps("h2", "vs", "h1out")),
        slices = 8, sliceKey = "o_orderkey")
      .exprStage(Seq(hashShortBytesSteps("h3",
        "amt".getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq.map(_.toInt), "h2out")),
        slices = 8, sliceKey = "o_orderkey")
      .exprStage(Seq(hashLongSteps("h4", "42::HUGEINT", "h3out")),
        slices = 8, sliceKey = "o_orderkey")
    ch.render(
      "SELECT o_orderkey, CAST(seq AS BIGINT) AS seq, " +
        s"CAST(${pmod("h4out", 20000)} + 1 AS BIGINT) AS amount_cents FROM ${ch.last} " +
        "UNION ALL SELECT o_orderkey, CAST(-1 AS BIGINT) AS seq, " +
        "CAST(-1 AS BIGINT) AS amount_cents FROM keyss WHERE n_tx = 0")
  }
}

/** The hash-IVF serving-path oracle shared by g110 (batch serve) and
  * g114 (streamed serve): the full index lifecycle — pseudo-centroid
  * routing, probe choice, partition-pruned candidate scan, int8 ADC
  * scoring, ranking — replayed in DuckDB as exact integers.
  */
object HashIvfOracle {
  def sql: String = sqlWhere("")

  /** g127's oracle: the same full replay over the corpus MINUS the
    * tombstoned ids, each expected row emitted once per serving leg
    * (pre-compaction tombstone anti-join == post-compaction physical
    * removal). Query ids (vec_id % 50 = 0) are never tombstoned
    * (% 5 = 1 excludes them), so the probe set is unchanged.
    */
  def sqlDeleted: String = {
    val inner = sqlWhere("WHERE vec_id % 5 <> 1")
    s"""SELECT l.leg, q.* FROM ($inner) q CROSS JOIN
      (SELECT 'tomb' AS leg UNION ALL SELECT 'compact' AS leg) l"""
  }

  private def sqlWhere(corpusWhere: String): String = {
        import graft.queries.DuckXxHash._
        val k = 8
        val nProbe = 2
        val ch = chain("e",
          "SELECT vec_id, [CAST(round(x * 1000000) AS BIGINT) " +
            "for x in CAST(embedding AS DOUBLE[])] AS vq FROM embeddings " +
            corpusWhere)
          .cte("comp",
            "SELECT vec_id, unnest(generate_series(1, len(vq))) AS i, " +
              "unnest(vq) AS x FROM e")
          .cte("cells",
            s"SELECT c, i FROM generate_series(0, ${k - 1}) AS tc(c), " +
              "(SELECT DISTINCT i FROM comp) ti")
          .stepsExpr(hashLongSteps("h1", unsigned("c"), "42::HUGEINT"))
          .stepsExpr(hashLongSteps("h2", unsigned("i"), "h1out"))
        val ch2 = ch
          .cte("cent",
            s"SELECT c, i, ${pmod("h2out", 2001L)} - 1000 AS comp FROM ${ch.last}")
          .cte("scores",
            "SELECT vec_id, c, CAST(SUM(x * comp) AS BIGINT) AS score " +
              "FROM comp JOIN cent USING (i) GROUP BY 1, 2")
          .cte("assign",
            "SELECT vec_id, c AS cluster FROM (SELECT vec_id, c, " +
              "row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) AS rn " +
              "FROM scores) WHERE rn = 1")
          .cte("un",
            "SELECT vec_id, CASE WHEN sqrt(list_sum([x * x for x in v])) = 0 " +
              "THEN [0.0 for x in v] " +
              "ELSE [x / sqrt(list_sum([y * y for y in v])) for x in v] END AS v " +
              "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v " +
              s"FROM embeddings $corpusWhere)")
          .cte("mm", "SELECT vec_id, v, list_max([abs(x) for x in v]) AS m FROM un")
          .cte("z",
            "SELECT vec_id, [CASE WHEN m = 0 THEN 0 " +
              "ELSE CAST(floor(v[x] * 127 / m + 0.5) AS BIGINT) END " +
              "for x in generate_series(1, len(v))] AS codes, " +
              "CAST(floor(m * 1e6 + 0.5) AS BIGINT) AS sm FROM mm")
          .cte("probes",
            s"SELECT vec_id AS qid, c AS probe FROM (SELECT vec_id, c, " +
              "row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) AS rn " +
              s"FROM scores WHERE vec_id % 50 = 0) WHERE rn <= $nProbe")
          .cte("qz", "SELECT vec_id AS qid, codes AS qcodes FROM z WHERE vec_id % 50 = 0")
          .cte("sc",
            "SELECT p.qid, z.vec_id, CAST(list_sum([z.codes[i] * q.qcodes[i] " +
              "for i in generate_series(1, len(z.codes))]) * z.sm AS BIGINT) AS score " +
              "FROM probes p JOIN assign a ON a.cluster = p.probe " +
              "JOIN z ON z.vec_id = a.vec_id JOIN qz q ON q.qid = p.qid " +
              "WHERE z.vec_id <> p.qid")
        ch2.render(
          "SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id AS neighbor, score " +
            "FROM (SELECT qid, vec_id, score, row_number() OVER " +
            "(PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM sc) " +
            "WHERE rnk <= 10")  }
}
