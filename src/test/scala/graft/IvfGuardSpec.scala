package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the IVF serving fold from growing back: the index layout, the
  * probe step and the fit sample each live once, in `graft.ops.Ivf`.
  */
class IvfGuardSpec extends AnyFunSuite {

  private lazy val sources: String = Seq("Similarity", "Quantization", "Pq", "Ivf")
    .map(name => MainSources.source(s"graft/ops/$name.scala")).mkString("\n")

  private def occurrences(needle: String): Int =
    java.util.regex.Pattern.quote(needle).r.findAllMatchIn(sources).size

  /** (reads, writes) of one metadata table under an index path. */
  private def readsAndWrites(table: String): (Int, Int) = {
    // a read with or without a declared schema
    val reads = raw"""read(\.schema\(\w+\))?\.parquet\(s"\$$\w+/$table"\)""".r
      .findAllMatchIn(sources).size
    (reads, occurrences(s"""/$table")""") - reads)
  }

  test("the centroid table has one reader and one writer") {
    val (r, w) = readsAndWrites("centroids")
    assert(r <= 1 && w <= 1, s"$r reads, $w writes; go through Ivf.readCentroids/writeCentroids")
  }

  test("the codebook table has one reader and one writer") {
    val (r, w) = readsAndWrites("codebooks")
    assert(r <= 1 && w <= 1, s"$r reads, $w writes; go through Ivf.readCodebooks/writeCodebooks")
  }

  test("probes reach the scan through one isin") {
    val n = occurrences("""col("cluster").isin(""")
    assert(n <= 1, s"$n probe filters; serve through Ivf.scan")
  }

  test("candidates come from one probe join") {
    val n = occurrences("""col("cluster") === col("probe")""")
    assert(n <= 1, s"$n probe joins; join through Ivf.probeJoin")
  }

  test("fits draw one bounded sample") {
    val n = occurrences("sampled.limit(sampleSize)")
    assert(n <= 1, s"$n sample sites; sample through Ivf.sample")
  }
}
