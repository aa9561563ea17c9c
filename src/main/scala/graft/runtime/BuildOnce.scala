package graft.runtime

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** JVM-wide build-once memo for values that are expensive to build and
  * cheap to serve: ANN index directories, driver-side fits (k-means
  * centroids, PQ codebooks) and the WARC fixture corpora. Build and
  * serve are different operations with different cost models — an index
  * is built once and served many times — so a bench rep that rebuilt per
  * invocation would time the wrong thing. Each build prints one
  * `[graft] <name> build` line to stderr, so a bench run still surfaces
  * its cost.
  *
  * Keys are (name, sfDir), so one map serves every caller without
  * collisions. Callers of one key block until its single build finishes;
  * a build that throws is not memoized, and the next call retries it.
  * Builds of different keys may nest (an index build may read a fit).
  */
object BuildOnce {

  private final class Cell {
    private var value: AnyRef = _
    def get(build: => AnyRef): AnyRef = synchronized {
      if (value == null) value = build
      value
    }
  }

  private val cells = new ConcurrentHashMap[String, Cell]()

  private def key(name: String, sfDir: String): String = s"$name|$sfDir"

  private def once[T <: AnyRef](name: String, sfDir: String)(build: => T)(
      suffix: T => String): T =
    cells.computeIfAbsent(key(name, sfDir), _ => new Cell).get {
      val t0 = System.nanoTime()
      val r = build
      System.err.println(
        f"[graft] $name build: ${(System.nanoTime() - t0) / 1e9}%.2f s${suffix(r)}")
      r
    }.asInstanceOf[T]

  /** The value `build` returns, built once per (name, sfDir). */
  def apply[T <: AnyRef](name: String, sfDir: String)(build: => T): T =
    once(name, sfDir)(build)(_ => "")

  /** A fresh [[Staging]] dir (prefix `name`) filled by `write`, once per
    * (name, sfDir); returns its path. The dir lives until [[clear]]
    * releases it from [[Staging]] or the JVM exits (Staging's shutdown
    * hook), whichever comes first.
    */
  def dir(name: String, sfDir: String)(write: String => Unit): String =
    once(name, sfDir) {
      val d = Staging.dir(stagingKey(key(name, sfDir))).toString
      write(d)
      d
    }(d => s" -> $d")

  /** The [[Staging]] key of cell `key`: its name plus a digest of its
    * sfDir, so the same name built for two sfDirs stages two dirs.
    */
  private def stagingKey(key: String): String =
    key.takeWhile(_ != '|') + "_" + Integer.toHexString(key.hashCode)

  /** Forget every memoized value, so the next call of each key rebuilds
    * it, and release the [[Staging]] dirs [[dir]] built (no other staged
    * dir). The parity harness calls this between passes: without it, a
    * pass under a new master would serve what the previous master built,
    * and a topology-dependent bug in a build's write path could never
    * surface.
    */
  def clear(): Unit = {
    val built = cells.keySet.asScala.map(stagingKey).toSet
    cells.clear()
    Staging.release(built)
  }
}
