package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.runtime.Staging

/** Shared file-stream plumbing for the bounded streaming replays: the
  * one-parquet-part-per-micro-batch writer and its helpers lived as
  * near-identical private copies in SynthQueries, BandedIndexSpec and
  * the scale benches — one definition here so staging-dir cleanup and
  * part-file selection cannot drift per copy.
  */
object StreamFiles {

  /** First .parquet part file in `dir`, closing the directory stream
    * (Files.list pins an fd until closed).
    */
  def firstParquet(dir: java.nio.file.Path): java.nio.file.Path = {
    val ls = java.nio.file.Files.list(dir)
    try ls.filter(p => p.toString.endsWith(".parquet")).findFirst.get
    finally ls.close()
  }

  /** Materialize `df` into `streamDir` as a single parquet part named
    * `sub.parquet` (one file = one maxFilesPerTrigger micro-batch). The
    * write goes through a [[Staging]] scratch dir, released with its
    * _SUCCESS/.crc leftovers when the write returns or throws.
    */
  def writeOne(df: DataFrame, streamDir: java.nio.file.Path,
      sub: String): Unit = scratch(s"graft_$sub") { tmp =>
    df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val part = firstParquet(tmp)
    java.nio.file.Files.move(part, streamDir.resolve(s"$sub.parquet"))
  }

  /** Materialize SEVERAL same-schema split files in ONE Spark job:
    * the per-file [[writeOne]] costs a full job (repartition + write +
    * rename) each, and the bounded replays stage 2-4 fixture files per
    * invocation — at suite scale that is pure job-scheduling overhead.
    * The union is tagged, repartitioned BY the tag (each tag's rows
    * land in exactly one task) and written `partitionBy(tag)`, so every
    * split still becomes exactly one parquet part, renamed to
    * `sub.parquet` like writeOne would.
    *
    * Micro-batch order: the file stream source orders ties by
    * modification time, which a single parallel job no longer makes
    * strictly increasing — so stamp each target with an explicit,
    * strictly increasing mtime in `dfs` order (all in the past relative
    * to any later writeOne call, preserving restart-rig phase order).
    */
  def writeMany(dfs: Seq[(String, DataFrame)],
      streamDir: java.nio.file.Path): Unit =
    if (dfs.sizeIs <= 1) dfs.foreach { case (sub, df) =>
      writeOne(df, streamDir, sub)
    } else {
      import org.apache.spark.sql.functions.{col, lit}
      val t0 = System.currentTimeMillis() - dfs.size - 1L
      scratch("graft_many") { tmp =>
        val tagged = dfs.map { case (sub, df) =>
          df.withColumn("__sub", lit(sub))
        }.reduce(_ unionByName _)
        // deterministic row order inside each part: a hash repartition
        // interleaves upstream tasks nondeterministically (writeOne's
        // round-robin repartition(1) was implicitly sorted by
        // sortBeforeRepartition), so impose a total order per file
        val cols = tagged.columns.toSeq.map(col)
        tagged.repartition(col("__sub")).sortWithinPartitions(cols: _*)
          .write.mode("overwrite").partitionBy("__sub").parquet(tmp.toString)
        dfs.zipWithIndex.foreach { case ((sub, _), i) =>
          val target = streamDir.resolve(s"$sub.parquet")
          java.nio.file.Files.move(firstParquet(tmp.resolve(s"__sub=$sub")),
            target)
          java.nio.file.Files.setLastModifiedTime(target,
            java.nio.file.attribute.FileTime.fromMillis(t0 + i))
        }
      }
    }

  /** Runs `f` on a fresh [[Staging]] dir under `key` and releases the dir
    * when `f` returns or throws.
    */
  private def scratch(key: String)(f: java.nio.file.Path => Unit): Unit = {
    val tmp = Staging.dir(key)
    try f(tmp) finally Staging.release(_ == key)
  }
}
