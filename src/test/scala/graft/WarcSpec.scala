package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WarcIo

class WarcSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  private def http(status: Int, reason: String, ct: String, body: String): Array[Byte] =
    (s"HTTP/1.1 $status $reason\r\nContent-Type: $ct\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n$body").getBytes(US_ASCII)

  test("WarcIo round-trip: plain and per-record-gzip framings, all record kinds") {
    for (gz <- Seq(false, true)) {
      val bos = new ByteArrayOutputStream()
      def w(t: String, id: String, uri: String, ct: String, block: Array[Byte]): Unit =
        if (gz) WarcIo.writeRecordGzip(bos, t, id, "2025-01-01T00:00:10Z", uri, ct, block)
        else WarcIo.writeRecord(bos, t, id, "2025-01-01T00:00:10Z", uri, ct, block)
      w("warcinfo", "urn:uuid:w0", null, "application/warc-fields",
        "software: graft\r\n".getBytes(US_ASCII))
      w("response", "urn:uuid:r1", "http://a.com/x",
        "application/http;msgtype=response", http(200, "OK", "text/html", "<p>hi</p>"))
      w("request", "urn:uuid:q1", "http://a.com/x",
        "application/http;msgtype=request",
        "GET /x HTTP/1.1\r\nHost: a.com\r\n\r\n".getBytes(US_ASCII))
      w("response", "urn:uuid:r2", "http://a.com/y",
        "application/http;msgtype=response", http(404, "Not Found", "text/plain", "no"))
      val rs = WarcIo.records(new ByteArrayInputStream(bos.toByteArray), gz).toVector
      assert(rs.map(_.warcType) == Vector("warcinfo", "response", "request", "response"))
      assert(rs(0).targetUri == null && rs(0).httpStatus == null)
      assert(new String(rs(0).payload, US_ASCII) == "software: graft\r\n")
      // response: payload is the BODY, status/content-type parsed
      assert(rs(1).httpStatus == 200 && rs(1).httpContentType == "text/html")
      assert(new String(rs(1).payload, US_ASCII) == "<p>hi</p>")
      assert(rs(1).payloadLen == 9 && rs(1).recordId == "urn:uuid:r1")
      assert(rs(1).warcDate == "2025-01-01T00:00:10Z")
      // request: raw block, no status
      assert(rs(2).httpStatus == null)
      assert(new String(rs(2).payload, US_ASCII).startsWith("GET /x HTTP/1.1"))
      assert(rs(3).httpStatus == 404 && rs(3).httpContentType == "text/plain")
      assert(new String(rs(3).payload, US_ASCII) == "no")
    }
  }

  test("WarcIo: payload pruning keeps exact lengths; malformed input fails loudly") {
    val bos = new ByteArrayOutputStream()
    WarcIo.writeRecord(bos, "metadata", "urn:uuid:m1", "2025-01-01T00:00:00Z",
      "http://a.com/x", "application/warc-fields", ("x" * 1000).getBytes(US_ASCII))
    WarcIo.writeRecord(bos, "response", "urn:uuid:r1", "2025-01-01T00:00:00Z",
      "http://a.com/x", "application/http;msgtype=response",
      http(200, "OK", "text/html", "body!"))
    val rs = WarcIo.records(new ByteArrayInputStream(bos.toByteArray),
      gzipped = false, wantPayload = false).toVector
    assert(rs(0).payloadLen == 1000 && rs(0).payload.isEmpty)
    // HTTP heads are parsed even under pruning (status lives there)
    assert(rs(1).httpStatus == 200 && rs(1).payloadLen == 5)
    // truncated block → EOFException, not a silent resync
    val full = bos.toByteArray
    val truncated = java.util.Arrays.copyOf(full, full.length - 30)
    val err = intercept[Exception] {
      WarcIo.records(new ByteArrayInputStream(truncated), gzipped = false).toVector
    }
    assert(err.isInstanceOf[java.io.EOFException] ||
      err.getMessage.contains("truncated") || err.getMessage.contains("separator"),
      err.toString)
    // garbage header → loud failure
    val bad = "NOPE/1.0\r\n\r\n".getBytes(US_ASCII)
    val err2 = intercept[IllegalArgumentException] {
      WarcIo.records(new ByteArrayInputStream(bad), gzipped = false).toVector
    }
    assert(err2.getMessage.contains("not a WARC record header"))
  }

  test("warc DSv2: reads a mixed directory, prunes columns, pushes the type filter") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("warcspec")
      val f1 = new FileOutputStream(s"$dir/a.warc.gz")
      try {
        WarcIo.writeRecordGzip(f1, "response", "urn:uuid:r1", "2025-01-01T00:00:01Z",
          "http://a.com/1", "application/http;msgtype=response",
          http(200, "OK", "text/html", "alpha body"))
        WarcIo.writeRecordGzip(f1, "request", "urn:uuid:q1", "2025-01-01T00:00:01Z",
          "http://a.com/1", "application/http;msgtype=request",
          "GET /1 HTTP/1.1\r\n\r\n".getBytes(US_ASCII))
      } finally f1.close()
      val f2 = new FileOutputStream(s"$dir/b.warc")
      try WarcIo.writeRecord(f2, "response", "urn:uuid:r2", "2025-01-01T00:00:02Z",
        "http://b.com/2", "application/http;msgtype=response",
        http(404, "Not Found", "text/plain", "gone"))
      finally f2.close()

      val df = spark.read.format("warc").load(dir)
      assert(df.count() == 3)
      val got = df.select("record_id", "warc_type", "http_status", "payload_len")
        .collect().map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) -1 else r.getInt(2), r.getLong(3))).toSet
      assert(got == Set(("urn:uuid:r1", "response", 200, 10L),
        ("urn:uuid:q1", "request", -1, 19L),
        ("urn:uuid:r2", "response", 404, 4L)))
      // payload bytes round the full trip through the scan
      val body = df.filter(col("record_id") === "urn:uuid:r1")
        .select(col("payload").cast("string")).collect().head.getString(0)
      assert(body == "alpha body")
      // column pruning reaches the scan: ReadSchema narrows
      val pruned = df.select("warc_type")
      val scanLine = pruned.queryExecution.executedPlan.toString
      assert(scanLine.contains("warc_type") && !scanLine.contains("payload,"),
        scanLine)
      // the warc_type filter is consumed at the framer (pushed, and rows
      // of other types never materialize)
      val resp = df.filter(col("warc_type") === "response")
      assert(resp.queryExecution.executedPlan.toString.contains("warc_type=response"),
        resp.queryExecution.executedPlan.toString)
      assert(resp.count() == 2)
      // one partition per file
      assert(df.rdd.getNumPartitions == 2)
    }
  }

  test("CDX sidecar splits a gz-member file into range scans; record set identical") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("warccdx")
      val fos = new WarcIo.CountingOutputStream(
        new FileOutputStream(s"$dir/seg.warc.gz"))
      val cdx = new java.lang.StringBuilder()
      for (i <- 0 until 40) {
        val off = fos.count
        WarcIo.writeRecordGzip(fos, "response", s"urn:uuid:r$i",
          "2025-01-01T00:00:01Z", s"http://a.com/$i",
          "application/http;msgtype=response",
          http(200, "OK", "text/html", s"body $i " + ("x" * 200)))
        cdx.append(off).append('\t').append(fos.count - off).append('\n')
      }
      fos.close()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/seg.warc.gz.cdx"), cdx.toString)
      val whole = spark.read.format("warc").load(dir)
      // default 64 MB target: one split for this tiny file
      assert(whole.rdd.getNumPartitions == 1)
      val split = spark.read.format("warc")
        .option("cdxTargetBytes", "600").load(dir)
      assert(split.rdd.getNumPartitions > 4,
        s"expected many range scans, got ${split.rdd.getNumPartitions}")
      def recs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("record_id"), col("payload_len")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(recs(split) == recs(whole) && recs(whole).size == 40,
        "split read must see exactly the whole-file record set")
    }
  }
}
