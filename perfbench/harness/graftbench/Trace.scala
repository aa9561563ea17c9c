package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval around a call into a layer. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    run: String, startNs: Long, endNs: Long)

/** In-memory span recorder; a no-op when `on` is false, so the untraced
  * run pays only the closure call.
  */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  var run = ""

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, layer, name, run, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Seconds of each layer's spans (those `keep` selects) not covered by
    * their child spans.
    */
  def selfSeconds(keep: Span => Boolean): Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.filter(keep).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def writeJsonl(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"run":${Json.str(s.run)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** One streaming micro-batch, as its progress event reports it. */
final case class Batch(batchId: Long, triggerMs: Long, durations: Map[String, Long],
    rowsIn: Long, stateCommitMs: Long, stateRows: Long, stateBytes: Long)

/** Streaming micro-batches, from a StreamingQueryListener; registered in
  * both runs because the micro-batch latency is an end-to-end metric.
  */
final class BatchListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // AvailableNow ends with a progress event for a trigger that found no
    // data; it is not a micro-batch
    if (p.numInputRows > 0 || d.contains("addBatch")) {
      val ops = p.stateOperators.toSeq
      batches.add(Batch(p.batchId, d.getOrElse("triggerExecution", 0L), d, p.numInputRows,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum))
    }
  }
  def snapshot: Vector[Batch] = batches.asScala.toVector
}

/** Executor work, from a SparkListener (traced run only). */
final class ExecListener extends SparkListener {
  var jobs, stages, tasks, taskFailures = 0L
  var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  // per stage: (longest task, summed task run time), both in ms
  private val stageTimes = scala.collection.mutable.Map[(Int, Int), (Long, Long)]()
  var maxTaskMs, sumTaskMs = 0L

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageTimes.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach {
      case (mx, sum) => maxTaskMs += mx; sumTaskMs += sum
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val key = (e.stageId, e.stageAttemptId)
      val (mx, sum) = stageTimes.getOrElse(key, (0L, 0L))
      stageTimes(key) = (math.max(mx, m.executorRunTime), sum + m.executorRunTime)
    }
  }
  def counters: Map[String, Double] = synchronized(Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_failures" -> taskFailures.toDouble, "cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_read_mb" -> shuffleRead / 1e6,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "spill_mb" -> spill / 1e6,
    "max_task_ms" -> maxTaskMs.toDouble, "sum_task_ms" -> sumTaskMs.toDouble))
}

/** Analysis, optimization and planning time of every executed query,
  * from `QueryExecution.tracker` (traced run only).
  */
final class PlanListener extends QueryExecutionListener {
  private val ms = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => ms(phase) += s.durationMs }
  }
  def counters: Map[String, Double] = synchronized(
    Seq("analysis", "optimization", "planning").map(p => p -> ms(p).toDouble).toMap)
}

/** The listeners of one run, and the bus drain that makes their counts
  * attributable.
  */
final class Probes(spark: SparkSession, traced: Boolean) {
  val batches = new BatchListener
  val exec = new ExecListener
  val plans = new PlanListener
  spark.streams.addListener(batches)
  if (traced) {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
  }
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
