package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index-driven POINT ACCESS to WebDataset shards — the serving path
  * that completes the `wds` connector the way [[WarcRandomAccess]]
  * completes `warc`: "give me these N samples out of a petabyte of
  * shards" must cost N bounded seeks, not a corpus scan. The sink's
  * `<shard>.idx` sidecar (`offset<TAB>key` per sample) is the lookup
  * table; sample CONTIGUITY (guaranteed by the sink's required
  * clustering+ordering) is what makes "seek to the offset, read
  * members while the key matches" complete and exact.
  *
  * Scale shape: the idx table is a plain distributed text read (one
  * small sidecar per shard — no payload bytes touched during lookup
  * planning); the key-to-sample join runs broadcast when the wanted
  * side is small (it is — that's the point of a point lookup); and
  * `fetch` repartitions hits BY SHARD and sorts within partitions by
  * offset, so each task opens each shard once and seeks monotonically
  * forward — sequential-friendly IO, never a whole-shard read.
  */
object WdsRandomAccess {

  final case class Fetched(shard: String, key: String, ext: String,
      name: String, size: Long, payload: Array[Byte])

  /** The idx sidecars under `dir` as a DataFrame (shard, offset, key). */
  def idx(spark: SparkSession, dir: String): DataFrame =
    Archive.sidecarTable(spark, dir, ".idx").select(
      col("file").as("shard"),
      element_at(col("fields"), 1).cast("long").as("offset"),
      element_at(col("fields"), 2).as("key"))

  /** Fetch exactly the samples named by `lookups` (shard, offset,
    * key) through [[Archive.seekEach]]: members are consumed WHILE
    * their sample key matches — contiguity bounds the walk to the
    * sample itself.
    */
  def fetch(lookups: DataFrame): DataFrame = {
    import lookups.sparkSession.implicits._
    Archive.seekEach[String, Fetched](lookups.select(col("shard").cast("string"),
      col("offset").cast("long"), col("key").cast("string"))) { (f, off, in, key) =>
      // a fresh buffer after every seek (a reused one would serve stale
      // read-ahead)
      val ms = TarIo.members(new java.io.BufferedInputStream(in, 1 << 16))
        .takeWhile(m => TarDataSource.splitKeyExt(m.name)._1 == key).toVector
      require(ms.nonEmpty, s"no sample '$key' at $f:$off")
      ms.map { m =>
        val (k, e) = TarDataSource.splitKeyExt(m.name)
        Fetched(f, k, e, m.name, m.size, m.payload)
      }
    }.toDF()
  }
}
