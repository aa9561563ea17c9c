package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem,
  Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
  .CancellableFSDataOutputStream

/** Spark `CheckpointFileManager` that commits local checkpoints without
  * starting a process. Spark's default for a `file:` path,
  * `FileContextBasedCheckpointFileManager`, forks twice per committed
  * file and its `.crc` for every side of the rename (`readlink`, from
  * `RawLocalFileSystem.getFileLinkStatus`), and Hadoop's local file
  * system forks `chmod` for every file and dir it creates when
  * libhadoop is absent. A micro-batch commits several such files
  * (offsets, commits, state deltas or RocksDB zips and changelogs), so
  * the forks, not the writes, made up the per-batch floor.
  *
  * For a path whose FileSystem is Hadoop's `LocalFileSystem` this is
  * Spark's own `FileSystemBasedCheckpointFileManager` — its temp-file
  * naming, no-overwrite check, rename and cancel/close semantics —
  * over a checksummed `LocalFileSystem` whose raw layer sets modes
  * through `java.nio` ([[LocalCheckpointFileManager.NioChmodFileSystem]]).
  * The rename is rename(2) via `File.renameTo`, and the checksum layer
  * moves the `.crc` with it, so the layout is byte-compatible with the
  * default manager's: same files, sidecars and modes. Any other
  * FileSystem gets exactly what `CheckpointFileManager.create` returns
  * without this class pinned.
  *
  * Pinned through [[LocalCheckpointFileManager.ConfKey]]; Spark builds
  * one per checkpoint log or state-store provider, on the driver and on
  * each executor, reflectively through this `(Path, Configuration)`
  * constructor.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** The manager every call goes to; visible for the spec. */
  private[graft] val impl: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem => new LocalCheckpointFileManager.Local(path, hadoopConf)
      case _ => LocalCheckpointFileManager.sparkDefault(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** Spark's (internal) key naming the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's own choice for `path`: `CheckpointFileManager.create` over
    * a copy of `conf` with [[ConfKey]] unset.
    */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val unpinned = new Configuration(conf)
    unpinned.unset(ConfKey)
    CheckpointFileManager.create(path, unpinned)
  }

  /** Spark's FileSystem-based manager over a fork-free local FileSystem. */
  private final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioChmodFileSystem)
      local.initialize(java.net.URI.create("file:///"), conf)
      local
    }
  }

  /** `RawLocalFileSystem` whose `setPermission` sets the same bits with
    * `Files.setPosixFilePermissions` instead of forking `chmod`. A mode
    * with bits beyond rwx (sticky) goes to the parent, since POSIX
    * permission sets cannot express it.
    */
  private final class NioChmodFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission lists owner r/w/x .. others r/w/x: bits 8..0
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(bit)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
