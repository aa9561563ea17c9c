package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session fold from growing back: every main, tool and
  * fixture gets its session from [[graft.runtime.LocalSession]].
  */
class SessionGuardSpec extends AnyFunSuite {

  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"expected source tree at ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root)
  }

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("SparkSession.builder appears only in LocalSession and XxhStringRef") {
    // XxhStringRef is the plain-Spark xxhash64 reference DuckXxHash replays
    val allowed = Set("LocalSession.scala", "XxhStringRef.scala")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val offenders = mainSources.filterNot(f => allowed(f.getName))
      .filter(f => builder.findFirstIn(text(f)).isDefined).map(_.getPath)
    assert(offenders.isEmpty,
      s"build sessions through graft.runtime.LocalSession: ${offenders.mkString(", ")}")
  }

  test("no source reads SPARK_GRAFT_CODEGEN_CACHE") {
    val offenders = mainSources
      .filter(f => text(f).contains("SPARK_GRAFT_CODEGEN_CACHE")).map(_.getPath)
    assert(offenders.isEmpty,
      s"the codegen cache size is LocalSession.CodegenCacheEntries: ${offenders.mkString(", ")}")
  }
}
