package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.WarcIo

class WarcStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  /** n segment files named to sort in write order, k records each;
    * numbering starts at segment `from`.
    */
  private def writeSegments(dir: String, n: Int, perFile: Int,
      from: Int = 0): Unit = {
    for (f <- from until from + n) {
      val fos = new WarcIo.CountingOutputStream(
        new java.io.FileOutputStream(f"$dir/seg-$f%03d.warc.gz"))
      val cdx = new java.lang.StringBuilder()
      try (0 until perFile).foreach { i =>
        val id = f * perFile + i
        val off = fos.count
        WarcIo.writeRecordGzip(fos, "resource", s"urn:s:$id",
          "2026-03-01T00:00:00Z", s"https://x.example.com/$id",
          "text/plain", s"payload-$id".getBytes("UTF-8"))
        cdx.append(off).append('\t').append(fos.count - off).append('\n')
      } finally fos.close()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"$dir/seg-$f%03d.warc.gz.cdx"), cdx.toString)
    }
  }

  private def runStream(dir: String, filesPerBatch: Int): (Seq[String], Int) = {
    val name = s"warc_stream_${filesPerBatch}_" +
      java.util.UUID.randomUUID.toString.take(8)
    val q = spark.readStream.format("warc")
      .option("filesPerBatch", filesPerBatch.toString)
      .load(dir)
      .select("record_id")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table(name).as[String].collect().sorted.toSeq
      val batches = q.recentProgress.count(_.numInputRows > 0)
      (rows, batches)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("micro-batch ingestion is batch-layout independent and actually batches") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("warcstream1")
      writeSegments(dir, 6, 5)
      val (one, batchesOne) = runStream(dir, 1)
      val (all, batchesAll) = runStream(dir, 100)
      assert(one.length == 30 && one == all)
      assert(batchesOne == 6, s"expected 6 single-file batches, got $batchesOne")
      assert(batchesAll == 1)
    }
  }

  test("new segments appearing mid-stream are picked up in later batches") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("warcstream2")
      writeSegments(dir, 2, 3)
      val name = "warc_stream_grow_" + java.util.UUID.randomUUID.toString.take(8)
      val q = spark.readStream.format("warc").option("filesPerBatch", "1")
        .load(dir).select("record_id")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table(name).count() == 6)
        // a third segment lands (sorts after — the archive convention)
        val fos = new WarcIo.CountingOutputStream(
          new java.io.FileOutputStream(s"$dir/seg-900.warc.gz"))
        try WarcIo.writeRecordGzip(fos, "resource", "urn:s:late",
          "2026-03-01T00:00:00Z", "https://x.example.com/late",
          "text/plain", "late".getBytes("UTF-8"))
        finally fos.close()
        q.processAllAvailable()
        assert(spark.table(name).count() == 7)
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }

  test("a segment sorting into committed history fails loudly, not silently") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("warcstream3")
      writeSegments(dir, 3, 2)
      val name = "warc_stream_mut_" + java.util.UUID.randomUUID.toString.take(8)
      val q = spark.readStream.format("warc").option("filesPerBatch", "10")
        .load(dir).select("record_id")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table(name).count() == 6)
        // a file that sorts BEFORE the ingested prefix shifts every index
        val fos = new java.io.FileOutputStream(s"$dir/aaa-000.warc.gz")
        try {
          val gz = new java.util.zip.GZIPOutputStream(fos)
          WarcIo.writeRecord(gz, "resource", "urn:s:bad", "2026-03-01T00:00:00Z",
            null, "text/plain", "bad".getBytes("UTF-8"))
          gz.finish()
        } finally fos.close()
        val e = intercept[Exception] { q.processAllAvailable() }
        assert(Option(e.getMessage).getOrElse("").contains("mutated") ||
          e.getCause != null)
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }

  test("AvailableNow incarnations over one checkpoint: all present files, then only new ones") {
    import org.apache.spark.sql.streaming.Trigger
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("warcstream_an")
      val ckpt = tmp("warcstream_an_ckpt")
      val out = tmp("warcstream_an_out")
      // one incarnation: the input rows of each micro-batch that read any
      def incarnation(): Seq[Long] = {
        val q = spark.readStream.format("warc").option("filesPerBatch", "2")
          .load(dir).select("record_id")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
      }
      def ids(): Seq[String] =
        spark.read.parquet(out).as[String].collect().sorted.toSeq
      writeSegments(dir, 3, 4)
      val first = incarnation()
      assert(first.sum === 12L, s"first incarnation read $first of 3 files x 4")
      assert(first.forall(_ <= 8L), s"a batch read more than 2 files: $first")
      assert(ids() === (0 until 12).map(i => s"urn:s:$i").sorted)
      writeSegments(dir, 3, 4, from = 3) // land after the first stopped
      val second = incarnation()
      assert(second.sum === 12L, s"second incarnation read $second, not the 3 new files")
      assert(second.forall(_ <= 8L), s"a batch read more than 2 files: $second")
      assert(ids() === (0 until 24).map(i => s"urn:s:$i").sorted)
    }
  }
}
