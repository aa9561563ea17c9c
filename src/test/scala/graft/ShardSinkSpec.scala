package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** DataSource V2 write path: the exactly-once sharded JSONL sink. */
class ShardSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("shard sink: rows round-trip as JSONL, manifest lists exactly the shards") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("shard_sink")
      val df = (0L until 1000L).map(i => (i, s"doc $i", i % 7)).toDF("id", "text", "grp")
        .repartition(4)
      df.write.format("graft-shards").mode("append").option("path", dir).save()

      // manifest exists and lists only shard files that exist
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
      val shardNames = "\"shard\":\"([^\"]+)\"".r
        .findAllMatchIn(manifest).map(_.group(1)).toSeq
      val rowCounts = "\"rows\":(\\d+)".r
        .findAllMatchIn(manifest).map(_.group(1).toLong).toSeq
      assert(shardNames.nonEmpty && shardNames.distinct.size == shardNames.size)
      assert(rowCounts.sum == 1000L)
      val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .map(_.getFileName.toString).toArray.map(_.toString).toSet
      assert(shardNames.toSet.subsetOf(onDisk))
      assert(!onDisk.contains("_tmp")) // temp dir cleaned after publish

      // shard row counts match the manifest file-by-file
      shardNames.zip(rowCounts).foreach { case (name, n) =>
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(dir, name))
        assert(lines.size.toLong == n, s"$name: ${lines.size} != $n")
      }

      // content round-trips through Spark's own JSON reader
      val back = spark.read.schema(df.schema)
        .json(shardNames.map(n => s"$dir/$n"): _*)
      assert(back.count() == 1000L)
      val got = back.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = (0L until 1000L).map(i => (i, s"doc $i", i % 7)).toSet
      assert(got == want)
    }
  }

  test("shard sink: overwrite truncates the previous shard set") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("shard_sink_trunc")
      (0L until 100L).map(i => (i, s"v1 $i")).toDF("id", "text").repartition(5)
        .write.format("graft-shards").mode("append").option("path", dir).save()
      val firstShards = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .map(_.getFileName.toString).toArray.map(_.toString)
        .filter(_.startsWith("shard-")).toSet
      assert(firstShards.nonEmpty)
      // overwrite with FEWER shards: stale shard files from the first
      // write must not survive (they would shadow the manifest's truth)
      (0L until 10L).map(i => (i, s"v2 $i")).toDF("id", "text").repartition(1)
        .write.format("graft-shards").mode("overwrite").option("path", dir).save()
      val after = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .map(_.getFileName.toString).toArray.map(_.toString)
        .filter(_.startsWith("shard-")).toSet
      val manifest2 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
      val names2 = "\"shard\":\"([^\"]+)\"".r
        .findAllMatchIn(manifest2).map(_.group(1)).toSet
      // on-disk shard set is EXACTLY the new manifest: no stale files
      // from the first generation, nothing referenced but missing
      assert(names2.size == 1, s"expected one shard, got $names2")
      assert(after == names2, s"disk $after != manifest $names2")
      assert(firstShards.intersect(after).isEmpty, s"stale shards survived: $after")
      val back = spark.read.schema("id LONG, text STRING")
        .json(s"$dir/${names2.head}")
      assert(back.count() == 10L)
      assert(back.agg(max("text")).collect()(0).getString(0).startsWith("v2"))
    }
  }

  test("shard sink: empty partitions produce no shards, missing path rejects") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("shard_sink_empty")
      spark.range(0).select(col("id")).repartition(3)
        .write.format("graft-shards").mode("append").option("path", dir).save()
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
      assert(manifest == "[]")
      intercept[Exception] {
        spark.range(3).write.format("graft-shards").mode("append").save()
      }
    }
  }
}
