package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the streaming-rig fold from growing back: the events symlink
  * and the AvailableNow memory-sink drain each live in one helper of
  * `SynthQueries` (SparkEntry.scala), and nanosAsLong is set in one
  * place in all of `src/main` (graft.runtime.Tables).
  */
class StreamRigGuardSpec extends AnyFunSuite {

  private lazy val sparkEntry: String = {
    val f = new java.io.File("src/main/scala/graft/SparkEntry.scala")
    assert(f.isFile, s"expected source file at ${f.getAbsolutePath}")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  private def occurrences(needle: String): Int =
    java.util.regex.Pattern.quote(needle).r.findAllMatchIn(sparkEntry).size

  test("events are staged through one symlink helper") {
    val n = occurrences("createSymbolicLink")
    assert(n <= 1, s"$n createSymbolicLink sites; stage events through StreamScope.events")
  }

  test("nanosAsLong is set in one place") {
    // the key as a string literal: a conf set, not a doc mention
    val needle = java.util.regex.Pattern.quote("\"spark.sql.legacy.parquet.nanosAsLong\"").r
    val sites = MainSources.files
      .map(f => f.getName -> needle.findAllMatchIn(MainSources.text(f)).size)
      .filter(_._2 > 0)
    val n = sites.map(_._2).sum
    assert(n <= 1, s"$n nanosAsLong sites (${sites.map { case (f, k) => s"$f x$k" }
      .mkString(", ")}); read sf tables through graft.runtime.Tables")
  }

  test("memory sinks go through the one drain") {
    // the drain plus the four processAllAvailable rigs (g129, g130, g132,
    // g136), whose custom sources the AvailableNow wrapper cannot drive
    val n = occurrences("""format("memory")""")
    assert(n <= 5, s"$n memory-sink sites; drain through StreamScope.drain")
  }
}
