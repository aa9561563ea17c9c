package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-pass idx-sidecar backfill for FOREIGN WebDataset shards (r12
  * verdict ask #2): shards this engine's sink wrote carry a
  * `<shard>.idx` sample-offset sidecar (ranged splits + point lookup
  * ride on it), but the corpora a user ingests FIRST — LAION-style
  * shard sets written by other tooling — have none, so they fall back
  * to one-partition-per-file and cannot be point-looked-up. This job
  * streams each sidecar-less shard ONCE through the
  * [[TarIo.memberStarts]] header walk (payloads skipped, task memory
  * one header block) and writes the same sidecar format the sink
  * emits: `offset<TAB>key` at each sample's FIRST member unit — GNU
  * `L`/pax preludes included in the unit, so a ranged split or seek
  * opening at the offset re-parses the long name. After a backfill the
  * entire ranged-split/point-lookup scale story applies to data this
  * engine did not write.
  *
  * Scale shape: one task per shard (Spark distributes the shard list);
  * a shard's cost is a header-stride read of its bytes — `in.skip`
  * over payloads, no allocation. Sidecars publish complete-or-absent
  * ([[ArchiveFs.publish]]).
  * Gzipped shards are skipped: a `.tar.gz` stream is not seekable, so
  * offsets could never be used.
  */
object WdsIndexBackfill {

  /** One shard's header-stride walk + temp/rename sidecar publish —
    * executor-side, shared with [[WdsTranscode]]'s crash-recovery leg.
    * Returns the sample count.
    */
  private[sources] def backfillOne(f: String, overwrite: Boolean): Long = {
    val in = new java.io.BufferedInputStream(ArchiveFs.open(f), 1 << 16)
    val idx = try Archive.indexTar(in) finally in.close()
    ArchiveFs.publishBytes(f + ".idx", idx.bytes, overwrite)
    idx.samples
  }

  /** Backfill `dir` (or a single shard path); returns one row per
    * shard: (shard, samples, wrote) — `wrote = false` when a sidecar
    * already existed (samples = -1) or the shard is gzipped.
    */
  def run(spark: SparkSession, dir: String,
      overwrite: Boolean = false): DataFrame = {
    import spark.implicits._
    val shards = Archive.listFiles(dir, TarDataSource.Layout)
    val confSer = ArchiveFs.carrier()
    val slots = math.max(1, math.min(shards.size,
      spark.sparkContext.defaultParallelism))
    spark.createDataset(shards).repartition(slots).map { f =>
      confSer.install()
      if (f.endsWith(".gz")) (f, -1L, false)
      else if (!overwrite && ArchiveFs.exists(f + ".idx")) (f, -1L, false)
      else (f, backfillOne(f, overwrite), true)
    }.toDF("shard", "samples", "wrote")
  }
}
