package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.{BuildOnce, Staging}

/** [[graft.runtime.Staging]] owns every temp dir `src/main` stages: a
  * dir lives until the next `dir` call with its key, a `release` of its
  * key, or the end of the JVM.
  */
class StagingSpec extends AnyFunSuite {

  private def fill(d: Path): Unit = {
    Files.createDirectories(d.resolve("sub/deeper"))
    Files.writeString(d.resolve("top"), "x")
    Files.writeString(d.resolve("sub/deeper/leaf"), "y")
  }

  test("dir(key) again deletes the previous dir and returns a new one") {
    val d1 = Staging.dir("spec_again")
    fill(d1)
    val d2 = Staging.dir("spec_again")
    assert(d2 !== d1)
    assert(!Files.exists(d1))
    assert(Files.isDirectory(d2))
    assert(d2.getFileName.toString.startsWith("spec_again"))
    Staging.release(_ == "spec_again")
    assert(!Files.exists(d2))
  }

  test("release deletes a tree of files and subdirs, and only the keys it names") {
    val d = Staging.dir("spec_tree")
    val kept = Staging.dir("spec_kept")
    fill(d)
    Staging.release(Set("spec_tree"))
    assert(!Files.exists(d))
    assert(Files.isDirectory(kept))
    Staging.release(Set("spec_kept"))
    assert(!Files.exists(kept))
  }

  test("a symlink in a staged dir is removed, its target kept") {
    val target = Files.createTempDirectory("staging_spec_target")
    try {
      fill(target)
      val d = Staging.dir("spec_links")
      Files.createSymbolicLink(d.resolve("to_file"), target.resolve("top"))
      Files.createSymbolicLink(d.resolve("to_dir"), target.resolve("sub"))
      Staging.release(Set("spec_links"))
      assert(!Files.exists(d))
      assert(Files.readString(target.resolve("top")) === "x")
      assert(Files.readString(target.resolve("sub/deeper/leaf")) === "y")
    } finally Staging.deleteTree(target)
  }

  test("BuildOnce.clear() releases only what BuildOnce.dir built") {
    val other = Staging.dir("spec_not_built")
    val built = BuildOnce.dir("spec_built", "sf")(d => fill(java.nio.file.Paths.get(d)))
    BuildOnce.clear()
    assert(!Files.exists(java.nio.file.Paths.get(built)))
    assert(Files.isDirectory(other))
    Staging.release(Set("spec_not_built"))
  }

  test("src/main creates temp dirs and files only in Staging") {
    val needle = "createTemp(Directory|File)".r
    val sites = MainSources.files.filter(_.getName != "Staging.scala")
      .map(f => f.getPath -> needle.findAllMatchIn(MainSources.text(f)).size)
      .filter(_._2 > 0)
    assert(sites.isEmpty, s"temp dirs made outside Staging: ${sites
      .map { case (f, k) => s"$f x$k" }.mkString(", ")}; stage through graft.runtime.Staging.dir")
  }
}
