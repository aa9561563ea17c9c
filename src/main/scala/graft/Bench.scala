package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ambient-load probe for the bench (r13 verdict ask #5: the host
  * carries intermittent EXTERNAL load, and artifacts need the evidence
  * inline so a judge can adjudicate per-query deltas without
  * re-benching). Two signals per suite pass:
  *
  *   - `loadavg`: /proc/loadavg's 1-minute field — the conventional
  *     number, but once OUR OWN local[32] run is hot it is dominated by
  *     ourselves, so mid-run it only bounds (ambient <= loadavg);
  *   - `ext_cores`: average EXTERNAL busy cores over the pass interval,
  *     from /proc/stat total busy jiffies minus /proc/self/stat's own
  *     utime+stime — self-load subtracts out, so this stays a true
  *     ambient measure while the suite runs (USER_HZ assumed 100, the
  *     Linux default; only the thousandths would shift otherwise).
  *
  * Passes with ext_cores above [[NoisyExtCores]] are flagged in the
  * artifact (`noisy_passes`) — their per-query numbers are smeared and
  * should not drive cross-round comparisons.
  */
object LoadProbe {
  val NoisyExtCores = 1.5

  final case class Snap(wallNanos: Long, busyJiffies: Long, selfJiffies: Long)

  private def slurp(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8"))
    catch { case _: Throwable => None }

  def loadavg1m(): Double =
    slurp("/proc/loadavg").flatMap(_.split(" ").headOption)
      .flatMap(_.toDoubleOption).getOrElse(-1.0)

  def snap(): Snap = {
    val busy = slurp("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map { l =>
        // user nice system idle iowait irq softirq steal: busy = all - idle - iowait
        val f = l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
        f.sum - f(3) - f(4)
      }.getOrElse(-1L)
    val self = slurp("/proc/self/stat").map { l =>
      // utime/stime are fields 14/15, counted after the ")" that ends
      // the comm field (which may itself contain spaces)
      val rest = l.substring(l.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong
    }.getOrElse(-1L)
    Snap(System.nanoTime(), busy, self)
  }

  /** Average external busy cores between two snaps; -1 when unreadable. */
  def extCores(a: Snap, b: Snap): Double = {
    if (a.busyJiffies < 0 || b.busyJiffies < 0 ||
        a.selfJiffies < 0 || b.selfJiffies < 0) return -1.0
    val wallSec = (b.wallNanos - a.wallNanos) / 1e9
    if (wallSec <= 0.1) return -1.0
    val ext = (b.busyJiffies - a.busyJiffies) - (b.selfJiffies - a.selfJiffies)
    math.max(0.0, ext / 100.0 / wallSec)
  }
}

/** Benchmark main: times every SparkEntry query at the driver-given scale
  * factor and prints ONE JSON line. Failures are reported per-query in an
  * "errors" map (never silently folded into a timing — a broken query must
  * not look like a fast green one). Each suite pass carries ambient-load
  * evidence ([[LoadProbe]]) so noisy-host artifacts are self-describing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.LocalSession(cpus)

    // untimed warmup: the first query otherwise absorbs all JVM/codegen/
    // scheduler startup (~2-3 s attributed to whatever sorts first)
    try {
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      graft.synth.Synth.dataFrameAuto(spark, graft.api.CannedSources.iotSchemaJson, 100)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    // best-of-N per query, reps taken as WHOLE-SUITE PASSES rather than
    // back-to-back runs (r11 verdict What's wrong #1): machine-level
    // contention windows last minutes, so two back-to-back reps of one
    // query routinely sit in the SAME window and their min still reads
    // ~1.7x smeared — r11's driver artifact did exactly that on a busy
    // machine (q13 1.41 s recorded vs 0.32 s quiet, ten queries alike).
    // Interleaving the passes puts a query's reps minutes apart, so a
    // window can smear one pass but the min comes from the other. The
    // min over decorrelated reps is the standard low-noise estimator
    // for a deterministic workload.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2")
      .toIntOption.getOrElse(2).max(1)
    // optional comma-separated subset (local iteration aid; the driver
    // always benches the full suite)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Streaming replays run LAST: alphabetical order put g100-g108 (state
    // store instances, checkpoint dirs, memory sinks, RocksDB native
    // memory) BEFORE every batch query in the same JVM, and r6 measured a
    // uniform ~1.5x suite-context slowdown on unchanged batch queries
    // (g51_columns_fast 3.3->9.0 s in-suite vs unchanged isolated).
    // Batch queries now see a streaming-free session; the streaming
    // family pays its own fixed costs at the end.
    val (streamQs, batchQs) = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .partition(_._1.contains("_stream"))

    val times = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    val failed = scala.collection.mutable.Set[String]()
    // a failure removes the query from later passes (re-running a broken
    // query repeats an expensive failure, and its fastest failure is not
    // a timing); errored queries get NO timing entry — a broken query
    // must not look like a fast green one
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame): Unit =
      if (!failed(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          times.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer[Double]()) +=
            (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            failed += name
            times.remove(name)
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
    // per-pass ambient-load evidence: (label, wall_s, ext_cores, loadavg)
    val loadSamples =
      scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double)]()
    val loadavgStart = LoadProbe.loadavg1m()
    def probed[T](label: String)(body: => T): T = {
      val a = LoadProbe.snap()
      val r = body
      val b = LoadProbe.snap()
      loadSamples += ((label, (b.wallNanos - a.wallNanos) / 1e9,
        LoadProbe.extCores(a, b), LoadProbe.loadavg1m()))
      r
    }
    def runFamily(family: String,
        qs: Seq[(String, (SparkSession, String) => DataFrame)])
        : Seq[(String, Double)] = {
      (1 to reps).foreach { r =>
        probed(s"$family-pass$r") {
          qs.foreach { case (n, f) => timeOne(n, f) }
        }
      }
      // straggler tie-breakers AFTER the passes (by now the window that
      // smeared a rep has usually moved): disagreeing reps (max/min >
      // 1.5x) or an implausible >20 s min get ONE more rep; sub-second
      // queries (worst relative noise) get one cheap extra.
      probed(s"$family-stragglers") {
        qs.foreach { case (n, f) =>
          times.get(n).foreach { ts =>
            if ((ts.max / ts.min > 1.5) || ts.min > 20.0 || ts.min < 1.0)
              timeOne(n, f)
          }
        }
      }
      qs.flatMap { case (n, _) => times.get(n).map(ts => n -> ts.min) }
    }
    val batchResults = runFamily("batch", batchQs)
    // family boundary hygiene: drop anything cached and let the JVM
    // settle before the streaming replays start paying their own costs
    spark.catalog.clearCache()
    System.gc()
    val streamResults = runFamily("streaming", streamQs)
    val results = batchResults ++ streamResults

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // millisecond precision: sub-ms digits are pure noise and double the
    // line length, and the driver's tail capture has a byte budget — r4's
    // artifact lost half the per-query map to it
    def fmt(d: Double): String = f"$d%.3f"
    val qs = results.map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // family totals (r11, VERDICT r10 item 2): streaming rigs are
    // wall-heavy by design (checkpoint restarts, state stores) and their
    // count grows round over round — a single total made batch-family
    // regressions invisible and batch per-query numbers look noisy
    // (q99's phantom 1.8x in r10 was pure suite contention). The batch
    // family is the comparable round-over-round number; the streaming
    // family pays its own fixed costs under its own budget.
    val batchTotal = batchResults.map(_._2).sum
    val streamTotal = streamResults.map(_._2).sum
    // ambient-load evidence (r13 ask #5): per-pass external busy cores
    // + loadavg, and the passes whose ambient exceeded the noise
    // threshold — so a judge can adjudicate per-query deltas on a busy
    // host without re-benching
    val noisy = loadSamples.filter(_._3 > LoadProbe.NoisyExtCores).map(_._1)
    val loadJson = loadSamples.map { case (l, w, e, la) =>
      s"""{"pass":${jstr(l)},"wall_s":${fmt(w)},"ext_cores":${fmt(e)},"loadavg":${fmt(la)}}"""
    }.mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","batch_s":${fmt(batchTotal)},"streaming_s":${fmt(streamTotal)},"reps":$reps,"loadavg_start":${fmt(loadavgStart)},"noisy_passes":${noisy.map(jstr).mkString("[", ",", "]")},"load":$loadJson,"queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    // ADDITIONALLY emit the queries map as <=2 KB chunk lines (r14
    // verdict ask #2): the one-line total above exceeds the driver's
    // tail-capture byte budget at 291 queries and truncates mid-object,
    // leaving PERF_*.json without per-query timings. Each chunk is a
    // complete JSON object on its own line; the existing contract lines
    // (the total line above, the summary line below) are unchanged.
    locally {
      val entries = results.map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }
      val chunks = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      var curLen = 0
      entries.foreach { e =>
        if (curLen + e.length + 1 > 1900 && cur.nonEmpty) {
          chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer[String]()
          curLen = 0
        }
        cur += e; curLen += e.length + 1
      }
      if (cur.nonEmpty) chunks += cur.toSeq
      chunks.zipWithIndex.foreach { case (c, i) =>
        println(s"""{"metric":"queries_chunk","i":$i,"n_chunks":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
      }
    }
    // compact summary LAST so any tail-window truncation of the long line
    // above still leaves the total and the queries that matter most
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"summary","total_s":${fmt(total)},"batch_s":${fmt(batchTotal)},"streaming_s":${fmt(streamTotal)},"n_batch":${batchResults.size},"n_streaming":${streamResults.size},"n_queries":${results.size},"n_errors":${errors.size},"n_noisy_passes":${noisy.size},"slowest":$slowest}""")
    spark.stop()
  }
}
