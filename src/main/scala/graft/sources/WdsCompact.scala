package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SELECTIVE WebDataset compaction (r13 verdict ask #2): rewrite only
  * the fragmented tail of a corpus — the streaming sink's small
  * per-epoch generations — leaving already-large shards' files
  * byte-identical on disk. The q173 overwrite mode rewrites the whole
  * corpus in place, which is correct but at 100 TB means routine
  * compaction of a long-running stream costs a full-corpus rewrite;
  * this job's cost is proportional to the FRAGMENTED bytes only.
  *
  * Shape:
  *   1. plan from the manifest + ONE sized directory listing
  *      ([[ArchiveFs.listWithLen]]): shards below `maxShardBytes` are
  *      the fragmented set (never re-reads corpus bytes to decide);
  *   2. read ONLY those shards (the scan's `shards` option — the big
  *      shards are never opened) and write them back through the batch
  *      sink with `replaceShards`: Spark re-clusters + re-sorts by key
  *      (the sink's required distribution), so keys scattered across
  *      epoch generations regain sample contiguity;
  *   3. the sink's commit swaps the replaced entries out of the
  *      manifest in the SAME atomic publish that adds the compacted
  *      generation, then deletes their files — a manifest-order reader
  *      sees the old shards or the new ones, never both, never
  *      neither.
  *
  * Contiguity scope: keys confined to the rewritten set regain
  * shard_spread = 1; a key that ALSO lives in a kept big shard keeps
  * that spread (fixing it would mean rewriting the big shard — that is
  * the full-rewrite mode's job). For the streaming sink's usual shape
  * (each epoch's keys fresh), selective compaction restores corpus-wide
  * contiguity at tail-proportional cost.
  *
  * Concurrency: planning reads the manifest without a lock; the swap
  * re-reads it UNDER the lock, so entries appended by concurrent
  * writers in between survive. Running two compactions of the same
  * directory concurrently is not supported (both would replace
  * overlapping shards).
  */
object WdsCompact {

  /** Compact every manifest shard smaller than `maxShardBytes` into
    * fresh `targetShardBytes`-sized shards, in place. Returns one row
    * per pre-compaction shard: (shard, bytes, action) with action
    * `kept` | `compacted`; no-op (empty plan) when fewer than two
    * shards are fragmented.
    */
  def run(spark: SparkSession, dir: String, maxShardBytes: Long,
      targetShardBytes: Long = TarDataSource.DefaultTargetShardBytes): DataFrame = {
    import spark.implicits._
    val manifest = Archive.entries(dir, TarDataSource.Layout)
    require(manifest.nonEmpty,
      s"selective compaction needs a manifest-managed corpus: $dir")
    val entries = manifest.get.map(_._1)
    val sizes = ArchiveFs.listWithLen(dir)
      .map { case (p, len) => (ArchiveFs.name(p), len) }.toMap
    val planned = entries.map { n =>
      val len = sizes.getOrElse(n,
        throw new IllegalStateException(s"manifest names a missing shard: $n"))
      (n, len, len < maxShardBytes)
    }
    val small = planned.collect { case (n, _, true) => n }
    if (small.size > 1) {
      spark.read.format("wds")
        .option("shards", small.mkString(","))
        .load(dir)
        .select("key", "ext", "payload")
        .write.format("wds").mode("append")
        .option("path", dir)
        .option("targetShardBytes", targetShardBytes.toString)
        .option("replaceShards", small.mkString(","))
        .save()
    }
    val acted = small.size > 1
    planned.map { case (n, len, frag) =>
      (n, len, if (frag && acted) "compacted" else "kept")
    }.toDF("shard", "bytes", "action")
  }
}
