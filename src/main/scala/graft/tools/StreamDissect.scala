package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch cost dissection for the streaming rigs (guide §1:
  * measure first). Runs the named queries with a StreamingQueryListener
  * attached and prints every progress event's durationMs map plus the
  * state-operator commit/total times — the breakdown QueryProfile's
  * job counters cannot see (planning vs WAL vs state commit vs addBatch).
  *
  * Usage: StreamDissect <sfDir> <q1,q2,...> [reps]
  */
object StreamDissect {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.LocalSession(cpus)

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(f"[dissect] started ${e.id} at ${System.nanoTime() / 1e9}%.3f")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        val keys = Seq("triggerExecution", "latestOffset", "getBatch",
          "queryPlanning", "walCommit", "commitOffsets", "addBatch")
        val parts = keys.flatMap(k => Option(dm.get(k)).map(v => s"$k=$v"))
        val so = p.stateOperators.map { s =>
          val cm = s.customMetrics
          val interesting = Seq("rocksdbCommitFlushLatency",
            "rocksdbCommitCheckpointLatency", "rocksdbCommitFileSyncLatencyMs",
            "rocksdbCommitCompactLatency", "rocksdbWriterAcquireLockLatency",
            "rocksdbFilesCopied", "rocksdbBytesCopied",
            "rocksdbTotalBytesWritten", "rocksdbZipFileBytesUncompressed",
            "loadedMapCacheHitCount", "stateOnCurrentVersionSizeBytes")
            .flatMap(k => Option(cm.get(k)).filter(_ != 0L).map(v => s"$k=$v"))
          s"op(commit=${s.allUpdatesTimeMs}+${s.commitTimeMs}ms rows=${s.numRowsTotal} " +
            interesting.mkString(",") + ")"
        }.mkString(" ")
        println(s"[dissect] batch=${p.batchId} rows=${p.numInputRows} " +
          parts.mkString(" ") + " " + so)
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(f"[dissect] terminated at ${System.nanoTime() / 1e9}%.3f")
    })

    val all = graft.SparkEntry.queries
    // warmup, same as Bench
    try {
      graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    names.foreach { n =>
      val fn = all(n)
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[dissect] $n rep$r wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
