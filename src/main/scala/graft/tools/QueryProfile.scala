package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query profile for the optimization rounds (guide §1: measure
  * first): wall time over N reps (noop sink, same methodology as
  * [[graft.Bench]]) plus the per-invocation job/stage/task counts and
  * byte totals a plan-shape diagnosis needs — a query whose bytes are
  * kilobytes but whose stage count is high is fixed-cost-bound
  * (exchanges, job barriers, codegen), not data-bound, and the guide's
  * shuffle-bytes levers won't move it.
  *
  * Usage: QueryProfile <sfDir> <q1,q2,...|batch|stream|all> [tag] [planDir]
  * With planDir set, writes `<planDir>/<query>_<tag>.txt` containing
  * `.explain("formatted")` for each profiled query.
  * Env: QP_REPS (default 3), SPARK_GRAFT_CPUS (default 32).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val sel = if (args.length > 1) args(1) else "batch"
    val tag = if (args.length > 2) args(2) else "profile"
    val planDir = if (args.length > 3) Some(args(3)) else None
    val reps = sys.env.getOrElse("QP_REPS", "3").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.LocalSession(cpus)

    val all = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val queries = sel match {
      case "all"    => all
      case "batch"  => all.filterNot(_._1.contains("_stream"))
      case "stream" => all.filter(_._1.contains("_stream"))
      case list     => val want = list.split(",").toSet
        all.filter(q => want.contains(q._1))
    }

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val input = new AtomicLong
    val spill = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks.toLong)
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(m.inputMetrics.bytesRead)
          spill.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    def resetCounters(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      shufRead.set(0); shufWrite.set(0); input.set(0); spill.set(0)
    }

    // untimed warmup, same as Bench
    try {
      graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      graft.synth.Synth.dataFrameAuto(spark,
        graft.api.CannedSources.iotSchemaJson, 100)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    println("name,best_s,reps_s,jobs,stages,tasks,input_mb,shuf_read_mb,shuf_write_mb,spill_mb")
    queries.foreach { case (name, fn) =>
      try {
        spark.sparkContext.setJobDescription(name)
        val times = (1 to reps).map { i =>
          if (i == reps) resetCounters() // counters from the LAST rep only
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        Thread.sleep(300) // let the async listener bus drain
        val mb = (l: AtomicLong) => l.get / 1e6
        println(f"$name,${times.min}%.3f," +
          times.map(t => f"$t%.2f").mkString("[", " ", "]") +
          f",${jobs.get},${stages.get},${tasks.get}" +
          f",${mb(input)}%.1f,${mb(shufRead)}%.1f,${mb(shufWrite)}%.1f,${mb(spill)}%.1f")
        planDir.foreach { pd =>
          Files.createDirectories(Paths.get(pd))
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(pd, s"${name}_$tag.txt"),
            plan.getBytes("UTF-8"))
        }
      } catch {
        case e: Throwable =>
          println(s"$name,ERROR,${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
