package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the per-row fold from growing back: outside `graft/tools`, a
  * frame gains fields computed by a Scala function only through
  * `graft.runtime.PerRow`. The one row append left is
  * `Processors.correlate`, which fans rows out. The row encoders left
  * are PerRow's and nine sites of another shape: `Synth.dataFrame` and
  * `SynthStream.stream` (per-partition compile and RNG state) and the
  * fixtures of q141, q144, q153, q172, q175, g119 and g122 (they drop
  * or reorder their input columns).
  */
class PerRowGuardSpec extends AnyFunSuite {

  private def capped(what: String, pattern: String, cap: Int): Unit = {
    val sites = MainSources.sites(pattern.r)
    val n = sites.map(_._2).sum
    assert(n <= cap, s"$n $what sites (${MainSources.labels(sites)
      .mkString(", ")}); at most $cap, append through graft.runtime.PerRow")
  }

  test("one row append outside PerRow") {
    capped("Row.fromSeq(_.toSeq :+|++ _)", """Row\.fromSeq\(\w+\.toSeq\s*(:\+|\+\+)""", 1)
  }

  test("row encoders only in PerRow and the nine sites of another shape") {
    capped("Encoders.row(", java.util.regex.Pattern.quote("Encoders.row("), 10)
  }
}
