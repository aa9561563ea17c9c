package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ParityHarness.{Digest, digest}

/** Every streaming rig's result at sf0.001 against a pinned digest: the
  * safety net under a refactor of the rigs' shared building blocks (the
  * split-file reader, the event-time prefix, the CUSUM, banded-index and
  * crawl pipelines, the restart leg). A rig whose stream, pins or oracle
  * moved shows here as a digest change.
  *
  * The pins live in `src/test/resources/graft/stream_rig_digests.txt`,
  * one `name rows xor sum` line per rig. Recapture them only for an
  * intended change of a rig's result:
  * `sbt "Test/runMain graft.StreamRigDigestSpec src/test/resources/graft/stream_rig_digests.txt"`.
  */
class StreamRigDigestSpec extends AnyFunSuite {
  import StreamRigDigestSpec._

  private lazy val spark = SparkSessionFixture.spark

  test("every streaming rig has a pin or a stated exclusion") {
    val unpinned = rigs.filterNot(pins.contains)
    assert(unpinned.isEmpty, s"no pin for ${unpinned.mkString(", ")}")
    val stale = pins.keySet -- rigs
    assert(stale.isEmpty, s"pins for unknown rigs ${stale.mkString(", ")}")
  }

  rigs.foreach { name =>
    test(s"$name: result digest at sf0.001") {
      pins.get(name).foreach(pin => assert(digestOf(spark, name) === pin))
    }
  }
}

object StreamRigDigestSpec {
  val Sf = "/root/testdata/sf0.001"
  val PinFile = "graft/stream_rig_digests.txt"

  /** Rigs that cannot be built at sf0.001, with the reason. */
  val Excluded = Map(
    "g123_stream_cusum_adaptive" ->
      "its downward-alarm require needs more events than sf0.001 holds")

  /** The streaming rigs (their names carry `_stream`) in name order,
    * minus [[Excluded]].
    */
  lazy val rigs: Seq[String] = SparkEntry.queries.keys.toSeq
    .filter(_.contains("_stream")).filterNot(Excluded.contains).sorted

  lazy val pins: Map[String, Digest] = {
    val in = getClass.getClassLoader.getResourceAsStream(PinFile)
    assert(in != null, s"missing test resource $PinFile")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val Array(name, rows, xor, sum) = line.split(' ')
        name -> Digest(rows.toLong, xor.toLong, sum.toLong)
      }.toMap
    finally in.close()
  }

  def digestOf(spark: SparkSession, name: String): Digest =
    digest(SparkEntry.queries(name)(spark, Sf))

  /** Writes the pin file at `args(0)` from the rigs' current results,
    * and each rig's wall time to stderr.
    */
  def main(args: Array[String]): Unit = {
    val spark = SparkSessionFixture.spark
    val lines = rigs.map { name =>
      val t0 = System.nanoTime()
      val d = digestOf(spark, name)
      System.err.println(s"[digest] $name ${(System.nanoTime() - t0) / 1000000} ms")
      s"$name ${d.rows} ${d.xor} ${d.sum}"
    }
    Files.write(Paths.get(args(0)), lines.asJava, UTF_8)
    spark.stop()
  }
}
