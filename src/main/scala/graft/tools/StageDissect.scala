package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-stage and per-job wall/GC dissection for a single query (guide
  * §1 / §7.1 without a UI): prints every job's wall and every stage's
  * task count, summed executor run time, GC time, and the stage's own
  * wall — the data that separates "many small stages each paying fixed
  * cost" from "one stage burning CPU" from "GC pressure".
  *
  * Usage: StageDissect <sfDir> <query> [reps]
  */
object StageDissect {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.LocalSession(cpus)

    @volatile var enabled = false
    val jobStart = scala.collection.concurrent.TrieMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (enabled) jobStart(j.jobId) = System.nanoTime()
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (enabled) jobStart.get(j.jobId).foreach { t0 =>
          println(f"[job] id=${j.jobId} wall=${(System.nanoTime() - t0) / 1e6}%.0f ms")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (enabled) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          println(f"[stage] id=${si.stageId} tasks=${si.numTasks} " +
            f"wall=${wall}ms run=${m.executorRunTime}ms gc=${m.jvmGCTime}ms " +
            f"deser=${m.executorDeserializeTime}ms " +
            f"serRes=${m.resultSerializationTime}ms " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}KB " +
            f"fetchWait=${m.shuffleReadMetrics.fetchWaitTime}ms " +
            f"name=${si.name.take(60)}")
        }
    })

    val fn = graft.SparkEntry.queries(name)
    try {
      graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    (1 to reps).foreach { r =>
      if (r == reps) { Thread.sleep(500); enabled = true }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val w = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[dissect] $name rep$r wall=$w%.3f s")
    }
    spark.stop()
    sys.exit(0)
  }
}
