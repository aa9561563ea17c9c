package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.BuildOnce
import graft.tools.ParityHarness.{Digest, digest}

/** A streaming rig's read-only input is a fixture: built once per
  * (rig, name, sf dir) through [[BuildOnce]], so a warm replay runs only
  * its stream, and rebuilt after [[BuildOnce.clear]]. The rigs cover the
  * three fixture shapes: g122's split files behind a driver-side
  * maximum, g101's events symlink plus sentinel, and g111's event
  * thirds.
  */
class StreamFixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sf = "/root/testdata/sf0.001"
  private val rigs = Seq("g122_stream_banded_dedup", "g101_stream_dedup_counts",
    "g111_stream_tws_multibatch")

  /** What one build of `name` ran besides its stream: the writes and the
    * driver collects, as `<action>:<plan node>`. A micro-batch is a
    * collect of its sink write, so it is not counted.
    */
  private def fixtureWork(name: String): (Digest, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed match {
          case _: DataWritingCommand => seen.add(s"$action:${qe.analyzed.nodeName}")
          case p if action == "collect" && p.nodeName != "WriteToMicroBatchDataSource" =>
            seen.add(s"$action:${p.nodeName}")
          case _ => ()
        }
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    PlanBridge.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    val df = try {
      val built = SparkEntry.queries(name)(spark, sf)
      PlanBridge.drainListeners(spark.sparkContext)
      built
    } finally spark.listenerManager.unregister(listener)
    (digest(df), seen.asScala.toSeq)
  }

  rigs.foreach { name =>
    test(s"$name: a warm replay streams the fixture the first one built") {
      BuildOnce.clear()
      val (first, cold) = fixtureWork(name)
      assert(first.rows > 0, s"$name returned no rows")
      assert(cold.exists(_.contains("InsertIntoHadoopFsRelationCommand")),
        s"the first replay wrote no fixture: ${cold.mkString(", ")}")
      val (second, warm) = fixtureWork(name)
      assert(second === first)
      assert(warm.isEmpty, s"the warm replay ran ${warm.mkString(", ")}")
      BuildOnce.clear()
      val (third, rebuilt) = fixtureWork(name)
      assert(third === first)
      assert(rebuilt.exists(_.contains("InsertIntoHadoopFsRelationCommand")),
        s"the replay after BuildOnce.clear() wrote no fixture: ${rebuilt.mkString(", ")}")
    }
  }

  test("a build-once dir named after a rig survives the rig's scope") {
    BuildOnce.clear()
    val own = BuildOnce.dir("g122_spec_survivor", sf) { d =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "marker"), "x")
    }
    SparkEntry.queries("g122_stream_banded_dedup")(spark, sf).collect()
    val dirs = BuildOnce.dirs
    assert(dirs.map(_.getFileName.toString.takeWhile(_ != '_')) === Set("g122"),
      s"build-once dirs: ${dirs.mkString(", ")}")
    assert(dirs.size === 2, s"build-once dirs: ${dirs.mkString(", ")}")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(own, "marker")))
    dirs.foreach { d =>
      val ls = java.nio.file.Files.list(d)
      try assert(ls.count() > 0, s"$d was emptied") finally ls.close()
    }
    BuildOnce.clear()
    assert(dirs.forall(d => !java.nio.file.Files.exists(d)))
  }
}
