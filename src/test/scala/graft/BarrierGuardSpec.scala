package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the materialization fold from growing back: outside
  * `graft/tools`, every spread, eager cut and scoped persist of
  * `src/main` goes through `graft.runtime.Barrier`. Two persists stay
  * plain because the lazy frame each returns still reads them:
  * `Graph.pageRank` (3) and `Collocations.pmiBigrams` (1).
  */
class BarrierGuardSpec extends AnyFunSuite {

  /** (total, per-file counts) of `pattern` outside `graft/tools`. */
  private def count(pattern: String,
      in: Seq[java.io.File] = MainSources.outsideTools): (Int, Seq[String]) = {
    val sites = MainSources.sites(pattern.r, in)
    (sites.map(_._2).sum, MainSources.labels(sites))
  }

  private def quoted(s: String) = java.util.regex.Pattern.quote(s)

  test("one eager cut") {
    val (n, sites) = count(quoted("localCheckpoint("))
    assert(n <= 1, s"$n localCheckpoint sites (${sites.mkString(", ")}); cut through Barrier.cut")
  }

  test("one unpersist") {
    val (n, sites) = count(quoted(".unpersist("))
    assert(n <= 1, s"$n unpersist sites (${sites.mkString(", ")}); persist through Barrier.scoped")
  }

  test("one defaultParallelism spread") {
    val (n, sites) = count("""repartition\(\s*[\w.]*defaultParallelism""")
    assert(n <= 1, s"$n defaultParallelism spreads (${sites.mkString(", ")}); spread through Barrier.spread")
  }

  test("plain persists only in Graph.pageRank and Collocations.pmiBigrams") {
    // a scope's persist is released by the scope; any other is plain
    val plain = """(?<!scope)\.persist\("""
    val (n, sites) = count(plain, MainSources.outsideTools.filterNot(_.getName == "Barrier.scala"))
    assert(sites.toSet == Set("Graph.scala x3", "Collocations.scala x1"),
      s"$n plain persists (${sites.mkString(", ")}); persist through Barrier.scoped")
  }
}
