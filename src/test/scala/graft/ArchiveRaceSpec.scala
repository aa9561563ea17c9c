package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ArchiveFs

/** A batch commit renames its part files, publishes the manifest and
  * sweeps old generations all under `_MANIFEST.lock`. Otherwise a
  * truncating write that sweeps while an append commits can delete the
  * append's renamed files, and the append then publishes names that are
  * gone. The spec holds the lock while another thread appends: no
  * final-name part file may appear while it is held, and once the lock
  * is released every manifest entry must exist on disk.
  */
class ArchiveRaceSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def inWithLock(t: Thread): Boolean =
    t.getStackTrace.exists(f =>
      f.getClassName == "graft.sources.ArchiveFs$" && f.getMethodName == "withLock")

  private val Part = """(shard|part)-[0-9a-f]{8}-\d{5}\..*""".r

  private def append(format: String, dir: String): Unit = format match {
    case "graft-shards" =>
      (0 until 20).map(i => (i.toLong, s"doc $i")).toDF("id", "text").repartition(2)
        .write.format(format).mode("append").option("path", dir).save()
    case "warc" =>
      (0 until 20).map(i => (s"urn:t:$i", "resource", "2026-02-01T00:00:00Z",
        "text/plain", s"body $i".getBytes("UTF-8")))
        .toDF("record_id", "warc_type", "warc_date", "content_type", "payload")
        .selectExpr("*", "CAST(NULL AS STRING) AS target_uri",
          "CAST(NULL AS INT) AS http_status", "CAST(NULL AS STRING) AS http_content_type")
        .repartition(2)
        .write.format(format).mode("append").option("path", dir).save()
    case "wds" =>
      (0 until 20).map(i => (f"s$i%03d", "txt", s"text $i".getBytes("UTF-8")))
        .toDF("key", "ext", "payload")
        .write.format(format).mode("append").option("path", dir).save()
  }

  Seq("graft-shards", "warc", "wds").foreach { format =>
    test(s"$format: a batch append renames nothing while another writer holds the lock") {
      TempDirs.withTempDirs { tmp =>
        val dir = tmp(s"race_${format}")
        ArchiveFs.mkdirs(dir)
        var failure: Throwable = null
        val writer = new Thread(() =>
          try append(format, dir) catch { case e: Throwable => failure = e })
        ArchiveFs.withLock(ArchiveFs.child(dir, "_MANIFEST.lock")) {
          writer.start()
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (writer.isAlive && !inWithLock(writer) && System.nanoTime() < deadline)
            Thread.sleep(20)
          assert(inWithLock(writer), s"the append never reached the manifest lock ($failure)")
          val named = new java.io.File(dir).list().filter(n => Part.matches(n))
          assert(named.isEmpty,
            s"part files renamed outside the manifest lock: ${named.mkString(", ")}")
        }
        writer.join()
        assert(failure == null, s"the append failed: $failure")
        val manifest = ArchiveFs.readManifest(dir).get
        val entries = """"(shard|segment)":"([^"]+)"""".r
          .findAllMatchIn(manifest).map(_.group(2)).toSeq
        assert(entries.nonEmpty, manifest)
        entries.foreach(n => assert(new java.io.File(dir, n).isFile, s"$n missing"))
      }
    }
  }
}
