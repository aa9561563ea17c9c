package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}

/** The transformWithState processors buffer-and-sort ONE KEY's rows of
  * ONE micro-batch (`rows.toArray.sortBy`) — the documented memory
  * bound. This spec drives the worst case that bound allows: a single
  * hot key receiving its entire (deliberately skewed) feed in one
  * batch, plus correctness of the first-seen decision under that skew.
  */
class SkewedKeySpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("FirstSeenProcessor survives a 200k-row single-key micro-batch and keeps first-seen order") {
    TempDirs.withTempDirs { tmp =>
      val s = spark
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val oldProv = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val n = 200000L
        // ONE signature key carries every row; ids arrive REVERSED vs ts
        // so the (ts, id) in-batch sort is what decides the survivor
        val feed = s.range(n).select(
          lit(7L).as("key"),
          (col("id") * 1000L).as("ts"),
          (lit(n) - col("id")).as("rid"))
        val dir = java.nio.file.Paths.get(tmp("skew_feed"))
        feed.repartition(1).write.mode("overwrite").parquet(dir.toString)
        val name = "skew_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val out = s.readStream.schema(feed.schema).parquet(dir.toString)
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.FirstSeenProcessor,
            TimeMode.None(), OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long)]])
          .toDF("id", "key", "dup_of")
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val res = s.table(name)
        assert(res.count() == n)
        // the ts-first row (ts=0 -> rid=n) is the survivor; everyone else
        // attributes to it
        assert(res.filter(col("dup_of") === -1L).select("id")
          .collect().map(_.getLong(0)).toSeq == Seq(n))
        assert(res.filter(col("dup_of") =!= -1L).count() == n - 1)
        assert(res.filter(col("dup_of") =!= -1L && col("dup_of") =!= n).count() == 0)
        s.sql(s"DROP TABLE IF EXISTS $name")
      } finally {
        oldProv match {
          case Some(p) => s.conf.set(provKey, p)
          case None    => s.conf.unset(provKey)
        }
      }
    }
  }
}
