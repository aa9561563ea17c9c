package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the archive-layout fold from growing back: outside
  * `graft/tools`, the manifest commit, the writer factory, the split
  * planner, the point-access cursor, the sidecar-table read and the
  * `.idx` builder of the `graft-shards`, `warc` and `wds` connectors
  * each have one site, in `graft.sources.Archive`, and every
  * temp-then-rename goes through `ArchiveFs.publish`.
  */
class ArchiveGuardSpec extends AnyFunSuite {

  private lazy val outsideFs =
    MainSources.outsideTools.filterNot(_.getName == "ArchiveFs.scala")

  private def capped(what: String, pattern: String, cap: Int,
      in: Seq[java.io.File] = MainSources.outsideTools): Unit = {
    val sites = MainSources.sites(pattern.r, in)
    val n = sites.map(_._2).sum
    assert(n <= cap, s"$n $what sites (${MainSources.labels(sites)
      .mkString(", ")}); at most $cap, in graft.sources.Archive")
  }

  private def quoted(s: String) = java.util.regex.Pattern.quote(s)

  test("one manifest lock and one manifest publish outside ArchiveFs") {
    capped("withLock", quoted("withLock("), 1, outsideFs)
    capped("publishManifest", quoted("publishManifest("), 1, outsideFs)
  }

  test("one commit message and one writer factory") {
    capped("WriterCommitMessage", quoted("extends WriterCommitMessage"), 1)
    capped("writer factory", """extends\s+[\w.]*DataWriterFactory""", 1)
  }

  test("one split planner, one seek cursor, one sidecar-table read, one idx builder") {
    capped("ArrayOfCuts.build", quoted("ArrayOfCuts.build"), 1)
    capped("NonClosingInputStream", quoted("class NonClosingInputStream"), 1)
    capped("pathGlobFilter", quoted("pathGlobFilter"), 1)
    capped("#graft-wds-idx", quoted("#graft-wds-idx"), 1)
  }

  test("no temp-then-rename outside ArchiveFs.publish") {
    capped(".tmp- temp name", quoted(".tmp-"), 0, outsideFs)
  }
}
