package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.Staging
import graft.streaming.LocalCheckpointFileManager

/** The fork-free checkpoint manager commits the same files, sidecars
  * and modes as Spark's default manager, keeps its overwrite and cancel
  * semantics, leaves non-local file systems to Spark, and reads and
  * writes checkpoints interchangeably with it.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  private def withTempDir(f: JPath => Unit): Unit = {
    val d = Files.createTempDirectory("cfm_spec")
    try f(d) finally Staging.deleteTree(d)
  }

  private def manager(dir: JPath, conf: Configuration = new Configuration())
      : LocalCheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def at(dir: JPath, rel: String): Path = new Path(new Path(dir.toUri), rel)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every entry under `root` (hidden ones too) with its mode. */
  private def tree(root: JPath): Map[String, String] = {
    val all = Files.walk(root)
    try all.iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))
    }.toMap finally all.close()
  }

  test("a local path is served by Spark's FileSystem-based manager") {
    withTempDir { d =>
      assert(manager(d).impl.isInstanceOf[FileSystemBasedCheckpointFileManager])
      assert(manager(d).isLocal)
    }
  }

  test("createAtomic + close leaves the file and its .crc, and no temp file") {
    withTempDir { d =>
      val fm = manager(d)
      val p = at(d, "offsets/0")
      fm.mkdirs(p.getParent)
      write(fm, p, "v1\n{}", overwrite = false)
      assert(tree(d.resolve("offsets")).keySet === Set("0", ".0.crc"))
      assert(read(fm, p) === "v1\n{}")
      assert(fm.exists(p))
      assert(fm.list(p.getParent).map(_.getPath.getName).toSeq === Seq("0"))
    }
  }

  test("no-overwrite over an existing file throws and keeps the old bytes") {
    withTempDir { d =>
      val fm = manager(d)
      val p = at(d, "commits/3")
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException] {
        write(fm, p, "second", overwrite = false)
      }
      assert(read(fm, p) === "first")
      write(fm, p, "third, longer than the first", overwrite = true)
      // read through the checksummed FileSystem: the moved .crc matches
      assert(read(fm, p) === "third, longer than the first")
      // a refused rename leaves its temp file, as Spark's managers do
      assert(tree(d.resolve("commits")).keySet.filterNot(_.contains(".tmp")) ===
        Set("3", ".3.crc"))
    }
  }

  test("cancel() leaves neither the target nor a temp file") {
    withTempDir { d =>
      val fm = manager(d)
      val p = at(d, "state/1.delta")
      fm.mkdirs(p.getParent)
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // a no-op after cancel
      assert(tree(d.resolve("state")).isEmpty)
      assert(!fm.exists(p))
    }
  }

  test("files, sidecars and modes match Spark's default manager's") {
    withTempDir { d =>
      val conf = new Configuration()
      def commit(fm: CheckpointFileManager, root: JPath): Unit = {
        fm.createCheckpointDirectory()
        fm.mkdirs(at(root, "offsets"))
        write(fm, at(root, "offsets/0"), "o0", overwrite = false)
        fm.mkdirs(at(root, "state/0/1"))
        write(fm, at(root, "state/0/1/1.delta"), "d1", overwrite = true)
        write(fm, at(root, "state/0/1/1.delta"), "d1b", overwrite = true)
      }
      val ref = Files.createDirectory(d.resolve("spark_default"))
      val ours = Files.createDirectory(d.resolve("local"))
      val sparkFm = CheckpointFileManager.create(new Path(ref.toUri), conf)
      assert(sparkFm.isInstanceOf[FileContextBasedCheckpointFileManager])
      commit(sparkFm, ref)
      commit(manager(ours, conf), ours)
      assert(tree(ours) === tree(ref))
      assert(tree(ours).contains("state/0/1/.1.delta.crc"))
    }
  }

  test("a non-LocalFileSystem path gets Spark's default manager, also when pinned") {
    withTempDir { d =>
      val conf = new Configuration()
      conf.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      conf.setBoolean("fs.file.impl.disable.cache", true)
      conf.set(LocalCheckpointFileManager.ConfKey,
        classOf[LocalCheckpointFileManager].getName)
      val pinned = CheckpointFileManager.create(new Path(d.toUri), conf)
      assert(pinned.isInstanceOf[LocalCheckpointFileManager])
      val impl = pinned.asInstanceOf[LocalCheckpointFileManager].impl
      assert(impl.isInstanceOf[FileContextBasedCheckpointFileManager])
      write(pinned, at(d, "x"), "raw", overwrite = false)
      assert(read(pinned, at(d, "x")) === "raw")
    }
  }

  /** A running count per key over JSON files staged in `in`, drained
    * under AvailableNow one file per micro-batch, with the checkpoint
    * manager named by `fm` (None: Spark's default). Returns the number
    * of micro-batches that read input, the rows they read, and the
    * final counts.
    */
  private def drainCounts(in: JPath, ckpt: JPath, fm: Option[String])
      : (Int, Long, Map[String, Long]) = {
    val key = LocalCheckpointFileManager.ConfKey
    val old = spark.conf.getOption(key)
    fm.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val name = "cfm_spec_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      val q = spark.readStream.schema("k STRING").option("maxFilesPerTrigger", "1")
        .json(in.toString).groupBy("k").count()
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val fed = q.recentProgress.filter(_.numInputRows > 0)
      val counts = spark.table(name).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (fed.length, fed.map(_.numInputRows).sum, counts)
    } finally {
      spark.catalog.dropTempView(name)
      old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  private def stage(in: JPath, file: String, keys: Seq[String], mtime: Long): Unit = {
    val p = in.resolve(file)
    Files.writeString(p, keys.map(k => s"""{"k":"$k"}""").mkString("", "\n", "\n"))
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  private val ours = Some(classOf[LocalCheckpointFileManager].getName)
  for {
    (provider, provName) <- Seq(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider" -> "HDFS",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider" -> "RocksDB")
    (first, second, dir) <- Seq((None, ours, "default -> local"), (ours, None, "local -> default"))
  } test(s"a stateful query resumes across managers ($dir, $provName state)") {
    withTempDir { d =>
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProv = spark.conf.getOption(provKey)
      spark.conf.set(provKey, provider)
      try {
        val in = Files.createDirectory(d.resolve("in"))
        val ckpt = d.resolve("ckpt")
        val t0 = System.currentTimeMillis() - 60000L
        stage(in, "a.json", Seq("x", "y", "x"), t0)
        stage(in, "b.json", Seq("y", "z"), t0 + 1000L)
        val (batches1, rows1, counts1) = drainCounts(in, ckpt, first)
        assert((batches1, rows1) === ((2, 5L)))
        assert(counts1 === Map("x" -> 2L, "y" -> 2L, "z" -> 1L))
        stage(in, "c.json", Seq("z", "w"), t0 + 2000L)
        val (batches2, rows2, counts2) = drainCounts(in, ckpt, second)
        assert((batches2, rows2) === ((1, 2L)), "the resumed query re-read old input")
        assert(counts2 === Map("x" -> 2L, "y" -> 2L, "z" -> 2L, "w" -> 1L))
        assert(!tree(ckpt).keySet.exists(_.endsWith(".tmp")))
      } finally oldProv.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
    }
  }
}
