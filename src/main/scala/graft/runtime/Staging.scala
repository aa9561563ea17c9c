package graft.runtime

import java.nio.file.{Files, LinkOption, Path}
import java.util.concurrent.ConcurrentHashMap

/** The one owner of the temp dirs the engine stages files in: a batch
  * query's fixture or round-trip output, a streaming rig's input,
  * checkpoint and sink dirs, a [[BuildOnce]] index or fixture, and the
  * stream writers' scratch dirs. Every dir lives in `java.io.tmpdir`
  * under a key, which is its name prefix, and is deleted at the first
  * of:
  *  - the next [[dir]] call with the same key, so a batch query's lazy
  *    read of its staged dir stays valid until that query is built
  *    again;
  *  - a [[release]] that names its key (a streaming scope on exit,
  *    [[BuildOnce.clear]], a writer's `finally`);
  *  - the end of the JVM (one shutdown hook).
  *
  * Keys must be unique among the dirs alive at once: a key names one
  * query's, rig's, build's or writer's dir.
  */
object Staging {

  /** The live dir of each key. */
  private val live = new ConcurrentHashMap[String, Path]()

  /** Deletes what no [[release]] did, when the JVM exits. */
  private lazy val deleteOnExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => release(_ => true)))

  /** A fresh dir named `<key>_<random digits>`. The dir the previous
    * call with `key` returned is deleted first.
    */
  def dir(key: String): Path = {
    deleteOnExit
    val d = Files.createTempDirectory(s"${key}_")
    Option(live.put(key, d)).foreach(deleteTree)
    d
  }

  /** Deletes now the live dir of every key that `keys` accepts. */
  def release(keys: String => Boolean): Unit =
    live.forEach { (k, d) => if (keys(k) && live.remove(k, d)) deleteTree(d) }

  /** Recursive delete, best-effort. Symlinks are never followed: a link
    * is removed and its target kept (a streaming rig links the sf
    * `events.parquet` into a staged dir).
    */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => try { Files.deleteIfExists(p); () }
          catch { case _: Exception => () })
      finally all.close()
    }
}
