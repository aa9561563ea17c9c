package graft

import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.streaming.FrontierProcessor]]'s class-doc claims
  * directly — above all the one g131's fixture used not to reach: a
  * host whose published crawl-delay CHANGES mid-crawl respaces later
  * fetches by the new value from the already-committed timeline, never
  * rewriting history (r12 verdict What's wrong #2).
  */
class FrontierProcessorSpec extends AnyFunSuite {

  private val spark = SparkSessionFixture.spark
  import spark.implicits._

  /** Run (host, ord, id, delayS) rows through the processor, one
    * micro-batch per input group, and return (id -> (host, seq,
    * fetchAtS)).
    */
  private def schedule(batches: Seq[Seq[(String, Long, Long, Long)]])
      : Map[Long, (String, Long, Long)] = {
    TempDirs.withTempDirs { tmp =>
      val streamDir = java.nio.file.Paths.get(tmp("frontier_spec"))
      val schema = batches.head.toDF("host", "ord", "id", "delay_s").schema
      batches.zipWithIndex.foreach { case (rows, i) =>
        graft.streaming.StreamFiles.writeOne(
          rows.toDF("host", "ord", "id", "delay_s"), streamDir, f"b$i%03d")
      }
      val name = "frontier_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProv = spark.conf.getOption(provKey)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.FrontierProcessor,
          TimeMode.None(), OutputMode.Append(),
          implicitly[org.apache.spark.sql.Encoder[(Long, String, Long, Long)]])
        .toDF("id", "host", "seq", "fetch_at_s")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally {
        oldProv match {
          case Some(p) => spark.conf.set(provKey, p)
          case None    => spark.conf.unset(provKey)
        }
      }
      val got = spark.table(name)
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      spark.catalog.dropTempView(name)
      got
    }
  }

  test("a delay change mid-crawl respaces LATER fetches only") {
    // host a: two fetches at delay 2, then the published delay becomes
    // 5 — committed slots (0, 2) stand; the next fetch lands at 4
    // (nextFree carried from the old spacing) and spacing AFTER it is 5
    val got = schedule(Seq(
      Seq(("a", 1L, 101L, 2L), ("a", 2L, 102L, 2L)),
      Seq(("a", 3L, 103L, 5L), ("a", 4L, 104L, 5L), ("a", 5L, 105L, 5L))))
    assert(got(101L) === (("a", 0L, 0L)))
    assert(got(102L) === (("a", 1L, 2L)))
    assert(got(103L) === (("a", 2L, 4L)))
    assert(got(104L) === (("a", 3L, 9L)))
    assert(got(105L) === (("a", 4L, 14L)))
  }

  test("a delay change WITHIN one batch respaces from the changed row") {
    // (ord, id) order inside the batch decides who commits first; the
    // third row carries the new delay and only rows after it respace
    val got = schedule(Seq(Seq(
      ("a", 3L, 203L, 7L), ("a", 1L, 201L, 2L), // shuffled arrival order
      ("a", 2L, 202L, 2L), ("a", 4L, 204L, 7L))))
    assert(got(201L)._3 === 0L)
    assert(got(202L)._3 === 2L)
    assert(got(203L)._3 === 4L) // committed under the OLD spacing
    assert(got(204L)._3 === 11L) // 4 + the new delay 7
  }

  test("hosts are independent; seq is dense per host across batches") {
    val got = schedule(Seq(
      Seq(("a", 1L, 1L, 10L), ("b", 1L, 2L, 1L)),
      Seq(("b", 2L, 3L, 1L), ("a", 2L, 4L, 10L), ("b", 3L, 5L, 4L)),
      Seq(("b", 4L, 6L, 4L))))
    assert(got(1L) === (("a", 0L, 0L)) && got(4L) === (("a", 1L, 10L)))
    assert(got(2L) === (("b", 0L, 0L)) && got(3L) === (("b", 1L, 1L)))
    assert(got(5L) === (("b", 2L, 2L))) // 1+1, then respaced by 4 after
    assert(got(6L) === (("b", 3L, 6L)))
  }
}
