package graft

import org.scalatest.funsuite.AnyFunSuite

/** Streaming rigs stage their inputs, checkpoints and sinks under
  * `java.io.tmpdir`; the scope they run in must delete all of it when
  * the rig returns, and the rig's result must still be readable after.
  */
class StreamRigCleanupSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sf = "/root/testdata/sf0.001"
  private val rigs = Seq("g55_stream_counts", "g101_stream_dedup_counts",
    "g104_stream_file_sink", "g108_stream_multibatch", "g114_stream_ann_serve")

  private def rigEntries(): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.matches("g[0-9]+_.*"))
  }

  test("streaming rigs leave no staging dirs behind") {
    // g114 serves from g110's index, a build-once dir that lives as long
    // as the JVM by design; build it before taking the snapshot
    SparkEntry.queries("g110_ann_hash_ivf")(spark, sf).collect()
    val before = rigEntries()
    rigs.foreach { name =>
      val rows = SparkEntry.queries(name)(spark, sf).collect()
      assert(rows.nonEmpty, s"$name returned no rows")
    }
    val added = rigEntries() -- before
    assert(added.isEmpty, s"left in java.io.tmpdir: ${added.toSeq.sorted.mkString(", ")}")
  }
}
