package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{WarcDataSource, WarcIo, WarcRandomAccess}

class WarcSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def mkRecords(n: Int) = {
    (0 until n).map { i =>
      val meta = i % 5 == 0
      (s"urn:t:$i",
        if (meta) "metadata" else "response",
        if (i % 7 == 0) null else s"https://h$i.example.com/p/$i",
        "2026-02-01T00:00:00Z",
        if (meta) "application/json" else "application/http;msgtype=response",
        if (meta) None else Some(if (i % 3 == 0) 404 else 200),
        if (meta || i % 4 == 0) null else "text/html",
        s"body-$i-${"x" * (i % 50)}".getBytes("UTF-8"))
    }.toDF("record_id", "warc_type", "target_uri", "warc_date", "content_type",
      "http_status", "http_content_type", "payload")
  }

  test("sink round-trips all fields and payloads through the reader") {
    val dir = java.nio.file.Files.createTempDirectory("warcsink1").toString
    mkRecords(60).repartition(3)
      .write.format("warc").mode("append").option("path", dir).save()
    val back = spark.read.format("warc").load(dir)
      .select("record_id", "warc_type", "target_uri", "http_status",
        "http_content_type", "payload", "payload_len")
      .collect().map(r => (r.getString(0), (r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getString(4),
        new String(r.getAs[Array[Byte]](5), "UTF-8"), r.getLong(6))))
      .toMap
    assert(back.size == 60)
    for (i <- 0 until 60) {
      val meta = i % 5 == 0
      val (t, uri, st, hct, body, len) = back(s"urn:t:$i")
      assert(t == (if (meta) "metadata" else "response"))
      assert(uri == (if (i % 7 == 0) null else s"https://h$i.example.com/p/$i"))
      assert(st == (if (meta) -1 else if (i % 3 == 0) 404 else 200))
      assert(hct == (if (meta || i % 4 == 0) null else "text/html"))
      val want = s"body-$i-${"x" * (i % 50)}"
      assert(body == want && len == want.length)
    }
  }

  test("every segment gets a CDX sidecar whose offsets are valid seek targets") {
    val dir = java.nio.file.Files.createTempDirectory("warcsink2").toString
    mkRecords(40).repartition(2)
      .write.format("warc").mode("append").option("path", dir).save()
    val segs = WarcDataSource.listFiles(dir)
    assert(segs.size == 2 && segs.forall(_.endsWith(".warc.gz")))
    for (seg <- segs) {
      val offs = WarcDataSource.cdxOffsets(seg).get
      assert(offs.nonEmpty && offs.head == 0L)
      // every offset must start a parseable gzip member/record
      val lookups = offs.map(o => (seg, o, java.nio.file.Files.size(
        java.nio.file.Paths.get(seg)) - o)).toSeq.toDF("segment", "offset", "length")
      assert(WarcRandomAccess.fetch(lookups).count() == offs.length)
    }
  }

  test("cdx() exposes uri column; fetch returns exactly the looked-up records") {
    val dir = java.nio.file.Files.createTempDirectory("warcsink3").toString
    mkRecords(40).repartition(2)
      .write.format("warc").mode("append").option("path", dir).save()
    val cdx = WarcRandomAccess.cdx(spark, dir)
    assert(cdx.count() == 40)
    // null-uri records surface as null, not '-'
    assert(cdx.filter(col("target_uri").isNull).count() ==
      (0 until 40).count(_ % 7 == 0))
    val wanted = Seq("https://h1.example.com/p/1", "https://h9.example.com/p/9")
      .toDF("target_uri")
    val hits = cdx.join(wanted, "target_uri").select("segment", "offset", "length")
    val got = WarcRandomAccess.fetch(hits).select("record_id").as[String]
      .collect().sorted
    assert(got.toSeq == Seq("urn:t:1", "urn:t:9"))
  }

  test("overwrite mode truncates the previous generation, segments and sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("warcsink4").toString
    mkRecords(20).repartition(2)
      .write.format("warc").mode("append").option("path", dir).save()
    mkRecords(10).repartition(1)
      .write.format("warc").mode("overwrite").option("path", dir).save()
    assert(WarcDataSource.listFiles(dir).size == 1)
    assert(spark.read.format("warc").load(dir).count() == 10)
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      val names = ls.iterator().asScala.map(_.getFileName.toString).toVector
      assert(names.count(_.endsWith(".cdx")) == 1)
    } finally ls.close()
  }

  test("uncompressed sink output round-trips too") {
    val dir = java.nio.file.Files.createTempDirectory("warcsink5").toString
    mkRecords(12).repartition(1)
      .write.format("warc").mode("append").option("path", dir)
      .option("compression", "none").save()
    assert(WarcDataSource.listFiles(dir).forall(f =>
      f.endsWith(".warc") && !f.endsWith(".warc.gz")))
    assert(spark.read.format("warc").load(dir).count() == 12)
  }

  test("manifestOnly read sees exactly the committed segments, not strays") {
    val dir = java.nio.file.Files.createTempDirectory("warcsink7").toString
    mkRecords(20).repartition(2)
      .write.format("warc").mode("append").option("path", dir).save()
    // a stray unmanifested segment (e.g. a crashed foreign writer)
    val fos = new java.io.FileOutputStream(s"$dir/stray.warc")
    try WarcIo.writeRecord(fos, "resource", "urn:t:stray",
      "2026-02-01T00:00:00Z", null, "text/plain", "stray".getBytes("UTF-8"))
    finally fos.close()
    assert(spark.read.format("warc").load(dir).count() == 21) // listing sees it
    val strict = spark.read.format("warc").option("manifestOnly", "true").load(dir)
    assert(strict.count() == 20) // manifest does not
    // a second append generation lands in the manifest
    mkRecords(5).repartition(1)
      .write.format("warc").mode("append").option("path", dir).save()
    assert(spark.read.format("warc").option("manifestOnly", "true").load(dir)
      .count() == 25)
  }

  test("manifest-mode streaming ingests appended generations in manifest order") {
    val dir = java.nio.file.Files.createTempDirectory("warcsink8").toString
    mkRecords(12).repartition(2)
      .write.format("warc").mode("append").option("path", dir).save()
    val name = "warc_stream_man_" + java.util.UUID.randomUUID.toString.take(8)
    val q = spark.readStream.format("warc")
      .option("manifestOnly", "true").option("filesPerBatch", "1")
      .load(dir).select("record_id")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 12)
      // generation prefixes are random uuids — the new segment may sort
      // ANYWHERE by name; manifest append order makes that irrelevant
      mkRecords(30)
        .filter(col("record_id").isin((25 until 30).map(i => s"urn:t:$i"): _*))
        .repartition(1)
        .write.format("warc").mode("append").option("path", dir).save()
      q.processAllAvailable()
      assert(spark.table(name).count() == 17)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("missing required column fails loudly at write time") {
    val dir = java.nio.file.Files.createTempDirectory("warcsink6").toString
    val bad = Seq(("a", "b")).toDF("record_id", "warc_type")
    val e = intercept[Exception] {
      bad.write.format("warc").mode("append").option("path", dir).save()
    }
    assert(e.getMessage != null)
  }

  test("warcCdxTarget lists segments through the Hadoop FileSystem (file: URI directory)") {
    val dir = java.nio.file.Files.createTempDirectory("warc_cdx_target")
    def write(name: String, bytes: Int): Unit =
      java.nio.file.Files.write(dir.resolve(name), new Array[Byte](bytes))
    write("a.warc.gz", 1000000)
    write("b.warc", 300000)
    write("a.warc.gz.cdx", 5000000) // sidecars and other files are not segments
    val want = 1000000L / spark.sparkContext.defaultParallelism
    assert(want > 65536L)
    assert(SynthQueries.warcCdxTarget(dir.toUri.toString, spark) == want)
    assert(SynthQueries.warcCdxTarget(dir.toString, spark) == want)
    // no segments: the 64 KiB floor
    val empty = java.nio.file.Files.createTempDirectory("warc_cdx_empty")
    assert(SynthQueries.warcCdxTarget(empty.toUri.toString, spark) == 65536L)
  }
}
