package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ArchiveFs

/** Pins the on-disk layout the three archive sinks (`graft-shards`,
  * `warc`, `wds`) share. Each sink runs four writes into one dir: an
  * append, a second append, an overwrite, and an append whose one task
  * throws mid-partition. After each write the spec checks the data-file
  * names (`<prefix>-<gen>-NNNNN<ext>`), the sidecar pairing, the
  * manifest's entry keys and counts, and what reads back through the
  * manifest. The failing write must leave the previous generation as it
  * was and no `_tmp` under the path.
  */
class ArchiveLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  /** One sink: its data-file pattern, sidecar suffix ("" for none),
    * manifest entry keys, a frame of `n` units (rows, records or
    * samples) numbered from `first`, a one-task frame whose write
    * throws mid-partition, and the units readable through the manifest.
    */
  private case class Sink(format: String, data: String, sidecar: String,
      nameKey: String, countKey: String, units: (Int, Int) => DataFrame,
      failing: () => DataFrame, readBack: String => Long)

  private val shards = Sink("graft-shards", """shard-[0-9a-f]{8}-\d{5}\.jsonl""", "",
    "shard", "rows",
    (first, n) => (first until first + n).map(i => (i.toLong, s"doc $i"))
      .toDF("id", "text").repartition(2),
    () => spark.range(0, 40, 1, 1).select(col("id"),
      when(col("id") === 20, raise_error(lit("boom")))
        .otherwise(lit("doc")).as("text")),
    dir => {
      val files = ArchiveFs.readManifest(dir).toSeq.flatMap(m =>
        "\"shard\":\"([^\"]+)\"".r.findAllMatchIn(m).map(x => s"$dir/${x.group(1)}"))
      spark.read.schema("id LONG, text STRING").json(files: _*).count()
    })

  private def warcRecords(ids: Seq[Int]): DataFrame =
    ids.map(i => (s"urn:t:$i", "resource", s"https://h.example.com/$i",
      "2026-02-01T00:00:00Z", "text/plain", Option.empty[Int], Option.empty[String],
      s"body $i".getBytes("UTF-8")))
      .toDF("record_id", "warc_type", "target_uri", "warc_date", "content_type",
        "http_status", "http_content_type", "payload")

  private val warc = Sink("warc", """part-[0-9a-f]{8}-\d{5}\.warc\.gz""", ".cdx",
    "segment", "records",
    (first, n) => warcRecords(first until first + n).repartition(2),
    () => warcRecords(0 until 40).coalesce(1).withColumn("payload",
      when(col("record_id") === "urn:t:20", raise_error(lit("boom")))
        .otherwise(col("payload"))),
    dir => spark.read.format("warc").option("manifestOnly", "true").load(dir).count())

  private def samples(ids: Seq[Int]): DataFrame =
    ids.flatMap(i => Seq((f"s$i%05d", "txt", s"text $i".getBytes("UTF-8")),
      (f"s$i%05d", "json", s"""{"i":$i}""".getBytes("UTF-8"))))
      .toDF("key", "ext", "payload")

  // the writer rejects a null payload: the one write task fails after
  // it has flushed the samples that sort before s00020
  private val wds = Sink("wds", """part-[0-9a-f]{8}-\d{5}\.tar""", ".idx",
    "shard", "samples",
    (first, n) => samples(first until first + n).repartition(3),
    () => samples(0 until 40).withColumn("payload",
      when(col("key") === "s00020", lit(null).cast("binary"))
        .otherwise(col("payload"))),
    dir => spark.read.format("wds").option("manifestOnly", "true").load(dir)
      .select("key").distinct().count())

  private val ManifestFile = """_MANIFEST(-\d{12})?\.json""".r

  /** Asserts the layout of `dir` after a write; returns the manifest. */
  private def check(sink: Sink, dir: String, units: Long, gens: Int): String = {
    val names = new java.io.File(dir).list().toSeq
    val data = names.filter(_.matches(sink.data)).toSet
    val sidecars = names.filter(n => sink.sidecar.nonEmpty && n.endsWith(sink.sidecar))
    val other = names.filterNot(n => data(n) || sidecars.contains(n) ||
      ManifestFile.matches(n))
    assert(other.isEmpty, s"${sink.format}: unexpected files $other in $names")
    assert(!names.contains("_tmp"), s"${sink.format}: _tmp left behind")
    // every data file has its sidecar and every sidecar its data file
    assert(sidecars.map(_.stripSuffix(sink.sidecar)).toSet ===
      (if (sink.sidecar.isEmpty) Set.empty[String] else data), sink.format)
    assert(data.map(_.split("-")(1)).size === gens, s"${sink.format}: $data")

    val manifest = ArchiveFs.readManifest(dir).get
    val entry = ("""\{"""" + sink.nameKey + """":"([^"]+)","""" + sink.countKey +
      """":(\d+)\}""").r
    val entries = entry.findAllMatchIn(manifest).toSeq
    assert(manifest === entries.map(_.matched).mkString("[", ",", "]"),
      s"${sink.format}: manifest holds more than its entries: $manifest")
    assert(entries.map(_.group(1)).toSet === data,
      s"${sink.format}: manifest and data files differ")
    assert(entries.map(_.group(2).toLong).sum === units, manifest)
    assert(sink.readBack(dir) === units, s"${sink.format}: read back")
    manifest
  }

  private def write(sink: Sink, df: DataFrame, mode: String, dir: String): Unit =
    df.write.format(sink.format).mode(mode).option("path", dir).save()

  Seq(shards, warc, wds).foreach { sink =>
    test(s"${sink.format}: append, append, overwrite and a failed append keep the layout") {
      TempDirs.withTempDirs { tmp =>
        val dir = tmp(s"layout_${sink.format}")
        write(sink, sink.units(0, 30), "append", dir)
        check(sink, dir, 30, 1)
        write(sink, sink.units(30, 20), "append", dir)
        check(sink, dir, 50, 2)
        write(sink, sink.units(100, 10), "overwrite", dir)
        val before = check(sink, dir, 10, 1)
        val partitions = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "1") // one wds write task
        try intercept[Exception](write(sink, sink.failing(), "append", dir))
        finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
        assert(check(sink, dir, 10, 1) === before,
          s"${sink.format}: the failed write changed the manifest")
      }
    }
  }
}
