package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the streaming-rig fold from growing back. In `SynthQueries`
  * (SparkEntry.scala) the events symlink, the memory-sink drain, the
  * parquet file-sink incarnation and the conf save/restore loop each
  * live in one helper of `streamScoped`/`StreamScope`, and every rig
  * runs under the scope's one AvailableNow run step, so no
  * `processAllAvailable` is left. A read-only stream input is written
  * once per sf dir through `StreamScope.fixtureFiles`; only the restart
  * rigs write their files per replay. The scope's state width is the
  * only shuffle-partition pin. The rigs' shared pipelines (the split-file
  * reader, the event-time prefix, the CUSUM, banded-index and crawl
  * steps, the restart leg, the WARC response record) each have one
  * definition. nanosAsLong is set in one place in all of `src/main`
  * (graft.runtime.Tables).
  */
class StreamRigGuardSpec extends AnyFunSuite {

  private lazy val sparkEntry: String = MainSources.source("graft/SparkEntry.scala")

  private def occurrences(needle: String): Int =
    java.util.regex.Pattern.quote(needle).r.findAllMatchIn(sparkEntry).size

  test("events are staged through one symlink helper") {
    val n = occurrences("createSymbolicLink")
    assert(n <= 1, s"$n createSymbolicLink sites; stage events through StreamScope.events")
  }

  test("read-only stream inputs are build-once fixtures") {
    // the scope's fixtureFiles and events sentinel, plus landSplits' two
    // phases of the split-file restart legs
    val n = "StreamFiles\\.write(Many|One)\\(".r.findAllMatchIn(sparkEntry).size
    assert(n <= 4, s"$n StreamFiles.write sites; stage a read-only input " +
      "through StreamScope.fixtureFiles, a restart rig's through landSplits")
  }

  // each repeated rig building block and the one helper that owns it
  Seq(
    "option(\"maxFilesPerTrigger\"" -> "StreamScope.splitFiles",
    "withWatermark(\"event_time\", \"1 hour\")" -> "eventTime",
    "streamBandKeys(" -> "bandedIndex",
    "new graft.streaming.CusumProcessor(" -> "cusumStream",
    "new graft.streaming.FrontierProcessor" -> "frontier",
    "restart must resume" -> "StreamScope.restart",
    "lit(\"application/http;msgtype=response\")" -> "warcResponse"
  ).foreach { case (needle, helper) =>
    test(s"one site of $needle") {
      val n = occurrences(needle)
      assert(n <= 1, s"$n sites of $needle; use $helper")
    }
  }

  test("nanosAsLong is set in one place") {
    // the key as a string literal: a conf set, not a doc mention
    val needle = java.util.regex.Pattern.quote("\"spark.sql.legacy.parquet.nanosAsLong\"").r
    val sites = MainSources.sites(needle, MainSources.files)
    val n = sites.map(_._2).sum
    assert(n <= 1, s"$n nanosAsLong sites (${MainSources.labels(sites)
      .mkString(", ")}); read sf tables through graft.runtime.Tables")
  }

  test("memory sinks go through the one drain") {
    val n = occurrences("""format("memory")""")
    assert(n <= 1, s"$n memory-sink sites; drain through StreamScope.drain")
  }

  test("every rig runs under the scope's AvailableNow run step") {
    val n = occurrences("processAllAvailable()")
    assert(n == 0, s"$n processAllAvailable sites; run through StreamScope.run")
  }

  test("checkpointed sinks go through the one incarnation") {
    // StreamScope.incarnation plus g134's wds sink
    val n = occurrences("\"checkpointLocation\"")
    assert(n <= 2, s"$n checkpointLocation sites; use StreamScope.incarnation")
  }

  test("RocksDB pins are streamScoped pairs") {
    assert(occurrences("def withRocksDb") == 0,
      "pass the RocksDb pins to streamScoped instead")
  }

  test("the state width is the scope's one shuffle-partition pin") {
    // the key as a string literal: a pin, not a doc mention
    val n = occurrences("\"spark.sql.shuffle.partitions\"")
    assert(n <= 1, s"$n shuffle-partition pins; pass a state cap to streamScoped")
  }

  test("conf pins go through the scope's one save/restore loop") {
    // the loop's set and its restore
    val n = occurrences("conf.set(")
    assert(n <= 2, s"$n conf.set sites; pin through streamScoped or StreamScope.withConf")
  }
}
