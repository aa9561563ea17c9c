package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Frontier

class FrontierSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def candidates(n: Int) =
    (0L until n.toLong).map(i => (i, s"h${i % 4}", ((i * 13) % 50).toDouble))
      .toDF("id", "host", "score")

  test("schedule ranks best-first per host, caps the queue, spaces by delay") {
    val cand = candidates(100)
    val delays = Seq(("h0", 2L), ("h1", 5L), ("h2", 1L)) // h3 missing -> default
      .toDF("host", "crawl_delay_s")
    val got = Frontier.schedule(cand, "id", "host", "score", delays, 3,
        defaultDelayS = 7L)
      .collect().map(r => (r.getString(1), r.getLong(2)) ->
        (r.getLong(0), r.getLong(3))).toMap
    // brute force per host
    val byHost = (0L until 100L).map(i => (i, s"h${i % 4}", (i * 13) % 50))
      .groupBy(_._2)
    for ((h, rs) <- byHost) {
      val top = rs.sortBy { case (id, _, sc) => (-sc, id) }.take(3)
      val delay = Map("h0" -> 2L, "h1" -> 5L, "h2" -> 1L).getOrElse(h, 7L)
      for (((id, _, _), i) <- top.zipWithIndex) {
        assert(got((h, i + 1L)) == ((id, i.toLong * delay)),
          s"host $h rank ${i + 1}")
      }
    }
    assert(got.size == 12) // 4 hosts x cap 3
  }

  test("the ranking window compiles to the bounded-heap topk_agg, not a Window") {
    val cand = candidates(1000)
    val delays = Seq(("h0", 1L)).toDF("host", "crawl_delay_s")
    val out = Frontier.schedule(cand, "id", "host", "score", delays, 3)
    val optimized = out.queryExecution.optimizedPlan.toString
    assert(optimized.contains("topk_agg"), optimized)
    assert(!optimized.contains("Window"), optimized)
  }

  test("rewrite also fires when candidates come from parquet (nullable schema)") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("frontier")
      candidates(500).write.mode("overwrite").parquet(dir)
      val cand = spark.read.parquet(dir)
      val delays = Seq(("h0", 1L)).toDF("host", "crawl_delay_s")
      val out = Frontier.schedule(cand, "id", "host", "score", delays, 2)
      val optimized = out.queryExecution.optimizedPlan.toString
      assert(optimized.contains("topk_agg"), optimized)
      assert(!optimized.contains("Window"), optimized)
      assert(out.count() == 8) // 4 hosts x 2
    }
  }

  test("null scores rank last, never crash") {
    val cand = Seq((1L, "h", Some(5.0)), (2L, "h", None), (3L, "h", Some(9.0)))
      .toDF("id", "host", "score")
    val delays = Seq(("h", 1L)).toDF("host", "crawl_delay_s")
    val got = Frontier.schedule(cand, "id", "host", "score", delays, 3)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(got == Seq(3L, 1L, 2L))
  }

  test("duplicate delay rows never fan out the schedule (min delay wins)") {
    val cand = Seq((1L, "h", 5.0), (2L, "h", 4.0)).toDF("id", "host", "score")
    // the API must enforce per-host uniqueness itself (r11 advice) —
    // callers are not required to pre-distinct
    val delays = Seq(("h", 7L), ("h", 7L), ("h", 3L)).toDF("host", "crawl_delay_s")
    val rows = Frontier.schedule(cand, "id", "host", "score", delays, 5)
      .orderBy("rank").select("id", "fetch_at_s").as[(Long, Long)]
      .collect().toSeq
    assert(rows == Seq((1L, 0L), (2L, 3L)), rows) // 2 rows, strictest delay
  }
}
