package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.Staging
import graft.tools.ParityHarness.digest

/** Streaming rigs stage their inputs, checkpoints and sinks under
  * `java.io.tmpdir`; the scope they run in must delete all of it when
  * the rig returns, and the rig's result must still be readable after.
  * A batch query that returns a lazy read of its staged dir keeps one
  * dir per staging key: building it again replaces the previous one.
  */
class StreamRigCleanupSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sf = "/root/testdata/sf0.001"
  private val rigs = Seq("g55_stream_counts", "g101_stream_dedup_counts",
    "g104_stream_file_sink", "g108_stream_multibatch", "g114_stream_ann_serve")

  // each batch query with a staged dir, and its staging keys
  private val batch = Seq(
    "g83_lookup_hist" -> Seq("g83"),
    "g105_shard_sink" -> Seq("g105_shards"),
    "g112_sink_avro" -> Seq("g112_avro"),
    "q124_schema_evolution" -> Seq("q124_evo"),
    "q127_csv_roundtrip" -> Seq("q127_csv"),
    "q158_wet_roundtrip" -> Seq("wet_out"),
    "q167_wds_roundtrip" -> Seq("wds_rt"),
    "q169_warc_to_wds" -> Seq("wds_pack"),
    "q170_wds_lookup" -> Seq("wds_lkp"),
    "q172_wds_backfill" -> Seq("wds_foreign"),
    "q173_wds_compact" -> Seq("wds_compact"),
    "q174_wds_compact_select" -> Seq("wds_selcomp"),
    "q175_wds_transcode" -> Seq("wds_gzsrc", "wds_gzout"))

  private def tmpEntries(): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
  }

  private def rigEntries(): Set[String] = tmpEntries().filter(_.matches("g[0-9]+_.*"))

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

  test("batch queries keep one staged dir per key until released") {
    val keys = batch.flatMap(_._2)
    val before = tmpEntries()
    // new entries in java.io.tmpdir, counted per staging key
    def staged(): Map[String, Int] = {
      val added = tmpEntries() -- before
      keys.map(k => k -> added.count(_.startsWith(k))).filter(_._2 > 0).toMap
    }
    batch.foreach { case (name, _) =>
      val first = digest(SparkEntry.queries(name)(spark, sf))
      val second = digest(SparkEntry.queries(name)(spark, sf))
      assert(first.rows > 0, s"$name returned no rows")
      assert(second === first, name)
    }
    val afterBuilds = staged()
    assert(afterBuilds.forall(_._2 <= 1),
      s"more than one dir per key: ${afterBuilds.toSeq.sorted.mkString(", ")}")
    Staging.release(keys.toSet)
    assert(staged().isEmpty, s"left after release: ${staged().toSeq.sorted.mkString(", ")}")
  }
}
