package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session fold from growing back: every main, tool and
  * fixture gets its session from [[graft.runtime.LocalSession]].
  */
class SessionGuardSpec extends AnyFunSuite {

  import MainSources.{files => mainSources, text}

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
