package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.runtime.Staging

/** Temp dirs for the specs, so a test run leaves nothing in
  * `java.io.tmpdir`.
  */
object TempDirs {

  /** Runs `body` with a temp-dir factory (prefix => dir) and deletes every
    * dir it made when `body` returns or throws.
    */
  def withTempDirs[A](body: (String => String) => A): A = {
    val made = ArrayBuffer[Path]()
    try body { prefix =>
      val d = Files.createTempDirectory(prefix)
      made += d
      d.toString
    } finally made.foreach(Staging.deleteTree)
  }
}
