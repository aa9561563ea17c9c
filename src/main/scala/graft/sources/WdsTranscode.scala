package graft.sources

import java.io.{InputStream, OutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Transcode gzipped foreign WebDataset shards to seekable `.tar` +
  * idx sidecar (r13 verdict ask #3): a `.tar.gz` stream cannot seek,
  * so gz corpora were permanently outside the ranged-split /
  * point-lookup scale story — [[WdsIndexBackfill]] honestly skips
  * them. This job streams each gz shard ONCE: the gunzipped bytes are
  * copied VERBATIM to `<name minus .gz>` under `outDir` (no re-framing
  * — every header oddity the original carries survives bit-for-bit)
  * while the SAME pass walks [[TarIo.memberStarts]] through a tee to
  * build the sample-offset sidecar, so the output is immediately
  * ranged-splittable and point-lookable. Both files publish
  * complete-or-absent ([[ArchiveFs.publish]]).
  *
  * Scale shape: one task per shard (Spark distributes the list); cost
  * is one decompression pass per shard, memory one buffer. `outDir`
  * may equal the source dir ONLY for corpora read in manifest mode —
  * in listing mode `x.tar.gz` and `x.tar` would both be listed and
  * every sample would double, so the job refuses same-dir unless
  * `deleteSource = true` (the gz original is deleted after its
  * replacement publishes).
  */
object WdsTranscode {

  /** Decompressed-byte tee: everything the tar walk consumes — reads
    * AND skips — is copied to `out`, so the walk's clean-EOF/trailer
    * stop point leaves only the drainable tail uncopied.
    */
  private final class TeeInputStream(in: InputStream, out: OutputStream)
      extends InputStream {
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) out.write(b)
      b
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val k = in.read(buf, off, len)
      if (k > 0) out.write(buf, off, k)
      k
    }
    // a skipped byte still belongs in the transcoded output
    private val skipBuf = new Array[Byte](8192)
    override def skip(n: Long): Long = {
      var left = n
      while (left > 0) {
        val k = read(skipBuf, 0, math.min(left, skipBuf.length.toLong).toInt)
        if (k < 0) return n - left
        left -= k
      }
      n
    }
    override def close(): Unit = in.close()
  }

  /** Transcode every `.tar.gz` under `dir` (non-gz shards are already
    * seekable and are left alone). Returns one row per gz shard:
    * (shard, out_shard, samples, wrote) — `wrote = false` with
    * samples = -1 when the output already existed (idempotent re-run).
    */
  def run(spark: SparkSession, dir: String, outDir: String,
      deleteSource: Boolean = false): DataFrame = {
    import spark.implicits._
    require(dir != outDir || deleteSource,
      "same-dir transcode needs deleteSource=true: x.tar.gz and x.tar " +
        "would otherwise both be listed and double every sample")
    val shards = Archive.listFiles(dir, TarDataSource.Layout).filter(_.endsWith(".tar.gz"))
    val confSer = ArchiveFs.carrier()
    val slots = math.max(1, math.min(shards.size,
      spark.sparkContext.defaultParallelism))
    ArchiveFs.mkdirs(outDir)
    spark.createDataset(shards).repartition(slots).map { f =>
      confSer.install()
      val outName = ArchiveFs.name(f).stripSuffix(".gz")
      val outPath = ArchiveFs.child(outDir, outName)
      if (ArchiveFs.exists(outPath)) {
        // idempotent re-run; a crash between the two renames can leave
        // a complete tar (rename is atomic) without its sidecar —
        // backfill just the idx, never re-transcode
        val repaired =
          if (!ArchiveFs.exists(outPath + ".idx"))
            WdsIndexBackfill.backfillOne(outPath, overwrite = false)
          else -1L
        (f, outPath, repaired, repaired >= 0)
      } else {
        val idx = ArchiveFs.publish(outPath, overwrite = false) { out =>
          val gunzip = new java.util.zip.GZIPInputStream(ArchiveFs.open(f), 1 << 16)
          try {
            val tee = new TeeInputStream(gunzip, out)
            val idx = Archive.indexTar(tee)
            // the walk stops at the first trailer block / clean EOF; the
            // rest of the archive (second zero block, padding) copies
            // verbatim so the output is byte-equal to the gunzipped input
            val buf = new Array[Byte](8192)
            while (tee.read(buf, 0, buf.length) >= 0) ()
            idx
          } finally gunzip.close()
        }
        ArchiveFs.publishBytes(outPath + ".idx", idx.bytes, overwrite = false)
        if (deleteSource) ArchiveFs.delete(f)
        (f, outPath, idx.samples, true)
      }
    }.toDF("shard", "out_shard", "samples", "wrote")
  }
}
