package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ParityHarness.{Digest, digest}

/** A streaming rig's scope sizes its state stores to the session's task
  * slots: every stateful operator of every micro-batch runs
  * `min(cap, defaultParallelism)` shuffle partitions (cap 8, and 4 for
  * the two-operator crawl loops), whatever the session's own shuffle
  * partition count is, and the scope restores that count when the rig
  * returns. On a host with 8 or more slots g122 runs 8 partitions either
  * way.
  */
class StreamStatePartitionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sf = "/root/testdata/sf0.001"
  private val Key = "spark.sql.shuffle.partitions"

  /** `name`'s result digest and every progress's per-operator state
    * partition counts.
    */
  private def replay(name: String): (Digest, Seq[Long]) = {
    val widths = new ConcurrentLinkedQueue[Long]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => widths.add(o.numShufflePartitions))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val df = try {
      val built = SparkEntry.queries(name)(spark, sf)
      PlanBridge.drainListeners(spark.sparkContext)
      built
    } finally spark.streams.removeListener(listener)
    (digest(df), widths.asScala.toSeq)
  }

  Seq("g122_stream_banded_dedup" -> 8, "g133_stream_crawl_loop" -> 4).foreach {
    case (name, cap) =>
      test(s"$name: state partitions follow the task slots, capped at $cap") {
        val width = math.min(cap, spark.sparkContext.defaultParallelism).toLong
        val own = spark.conf.get(Key)
        val (first, widths) = replay(name)
        assert(spark.conf.get(Key) === own)
        assert(widths.nonEmpty, s"$name reported no stateful operator")
        assert(widths.forall(_ == width), s"state partitions ${widths.mkString(",")}" +
          s", expected $width")
        // the session's own count does not reach the state width
        val other = (own.toInt + 3).toString
        spark.conf.set(Key, other)
        val (second, again) = try {
          val r = replay(name)
          assert(spark.conf.get(Key) === other)
          r
        } finally spark.conf.set(Key, own)
        assert(again.nonEmpty && again.forall(_ == width),
          s"state partitions ${again.mkString(",")} under $Key=$other, expected $width")
        assert(second === first)
      }
  }
}
