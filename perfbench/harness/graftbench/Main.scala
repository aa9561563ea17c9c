package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark harness: runs one workload in this JVM and writes its
  * raw result to `<out>/result.json` (perfbench/run.py adds the oracle
  * checks and prints the result line).
  *
  * One untimed warm-up pass (its outputs are the ones the oracles check)
  * and one untimed settling pass, then a fixed number of timed passes in a
  * closed loop, as many as fit in `--seconds` and at least two. The
  * untraced run (`--trace 0`) reports the end-to-end metrics; the traced
  * run (`--trace 1`) adds spans and listeners and reports per-layer ones.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR
  */
object Main {
  final case class Pass(wallS: Double, opS: Map[String, Double])

  /** External busy cores above which a run's timed region counts as noisy.
    * In seed sweeps on a 4-core VM, runs that saw more were 10% or more
    * slower than quiet ones, and stream_ingest up to twice as slow at 1.4
    * cores. graft.LoadProbe's own threshold, 1.5 cores, is set for 32 cores.
    */
  val NoisyExtCores = 0.3

  /** Seconds of one warm pass of each workload on a 4-core VM, which turns
    * --seconds into a number of timed passes (3, 2 and 2 at 10 s).
    */
  val PassSeconds = Map("synth_bulk" -> 3.0, "curate_batch" -> 4.0, "stream_ingest" -> 6.0)

  /** A graft.LoadProbe snapshot with the CPU jiffies of this JVM's reaped
    * child processes. Spark and Hadoop's local file system run `readlink`,
    * `chmod` and `rm -rf` as child processes, thousands of times a pass on
    * stream_ingest; /proc/stat counts them as busy and LoadProbe, which
    * subtracts only the JVM's own jiffies, as external load.
    */
  final case class Load(probe: graft.LoadProbe.Snap, childJiffies: Long)

  def load(): Load = {
    val stat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
    // cutime/cstime are fields 16/17, counted after the ")" that ends the
    // comm field
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    Load(graft.LoadProbe.snap(), rest(13).toLong + rest(14).toLong)
  }

  def childCpuS(a: Load, b: Load): Double = (b.childJiffies - a.childJiffies) / 100.0

  /** External busy cores between two snapshots, child processes excluded. */
  def extCores(a: Load, b: Load): Double = {
    val ext = graft.LoadProbe.extCores(a.probe, b.probe)
    if (ext < 0) ext
    else math.max(0.0, ext - childCpuS(a, b) / ((b.probe.wallNanos - a.probe.wallNanos) / 1e9))
  }

  /** The session graft.Bench builds: local[N] with N shuffle partitions,
    * N = the machine's cores.
    */
  def session(outDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .withExtensions(new graft.expr.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = load()
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (workload, seed, seconds) = (opt("workload"), opt("seed").toLong, opt("seconds").toDouble)
    val traced = opt("trace") == "1"
    val (dataDir, outDir) = (opt("data"), opt("out"))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(outDir)
    val probes = new Probes(spark, traced)
    val tr = new Tracer(traced)

    val w: Workload = workload match {
      case "synth_bulk" => new SynthBulk(spark, seed, tr, outDir)
      case "curate_batch" =>
        new QuerySet(spark, dataDir, tr, "queries", "q", QuerySet.curate, seed)
      case "stream_ingest" =>
        new QuerySet(spark, dataDir, tr, "streaming", "rig", QuerySet.stream, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val failedOps = scala.collection.mutable.Set[String]()
    val errors = ArrayBuffer[String]()
    var attempted = 0
    // a failed operation gets no timing and is not run again
    def runPass(label: String, sink: Sink): Pass = {
      tr.run = label
      val t0 = System.nanoTime()
      val times = tr.span("harness", label) {
        w.perPass()
        w.ops.filterNot(o => failedOps(o.name)).flatMap { o =>
          attempted += 1
          val t = System.nanoTime()
          try { o.run(sink); Some(o.name -> (System.nanoTime() - t) / 1e9) }
          catch {
            case e: Throwable =>
              failedOps += o.name
              errors += s"${o.name}: ${String.valueOf(e.getMessage).take(300)}"
              None
          }
        }.toMap
      }
      Pass((System.nanoTime() - t0) / 1e9, times)
    }

    val cold = runPass("warmup", Dump(s"$outDir/results"))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Pass times keep falling for a few passes after the warm-up: one
    // untimed settling pass, then a fixed number of timed passes, as many
    // typical warm passes as fit in --seconds and at least two. A count set
    // by the clock made synth_bulk's medians bimodal between runs that fit
    // one pass more and runs that did not.
    runPass("settle", Noop)
    probes.drain()
    val warmBatches = probes.batches.snapshot.size
    val exec0 = probes.exec.counters
    val plans0 = probes.plans.counters
    val load0 = load()
    val timedStart = System.nanoTime()
    val passes = ArrayBuffer[Pass]()
    val nPasses = math.max(2, (seconds / PassSeconds(workload)).toInt)
    while (passes.size < nPasses)
      passes += runPass(s"pass${passes.size + 1}", Noop)
    val load1 = load()
    val timedWall = (System.nanoTime() - timedStart) / 1e9
    // the listener counts of the timed passes end here, before the checks
    // run Spark jobs of their own
    probes.drain()
    val batches = probes.batches.snapshot.drop(warmBatches)
    val exec1 = probes.exec.counters
    val plans1 = probes.plans.counters

    tr.run = "check"
    val checkStart = System.nanoTime()
    val checks = try w.check() catch {
      case e: Throwable => Seq(Check("check", ok = false, String.valueOf(e.getMessage).take(300)))
    }
    val checkS = (System.nanoTime() - checkStart) / 1e9
    // curate/stream outputs are compared with the oracles by run.py
    val oracles = w match { case q: QuerySet => q.oracles; case _ => Map.empty[String, String] }

    // ------------------------------------------------------------ metrics
    val n = passes.size.toDouble
    def med(xs: collection.Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def pct(xs: collection.Seq[Double], p: Double): Double = {
      // nearest-rank percentile
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }
    def opMed(name: String): Double = med(passes.flatMap(_.opS.get(name)))
    def groupPerPass(pred: Op => Boolean): Double =
      med(passes.map(p => w.ops.filter(pred).flatMap(o => p.opS.get(o.name)).sum))
    // one pass, as the sum of each operation's median over the timed
    // passes: a burst of outside load that slows one operation in one pass
    // moves no median
    val wallS = w.ops.map(o => opMed(o.name)).sum

    // unit of work: a micro-batch (by its id within the replay) on
    // stream_ingest, an operation elsewhere
    val unitMs: Map[String, collection.Seq[Double]] =
      if (workload == "stream_ingest")
        batches.groupBy(_.batchId.toString).map { case (k, bs) => k -> bs.map(_.triggerMs.toDouble) }
      else w.ops.map(o => o.name -> passes.flatMap(_.opS.get(o.name)).map(_ * 1e3)).toMap
    // rows of one pass over the median times of the operations that move them
    val rowsPerS = w match {
      case s: SynthBulk =>
        val file = w.ops.filter(_.group == "file").map(_.name).filterNot(failedOps)
        file.map(s.rows.getOrElse(_, 0L)).sum / file.map(opMed).sum
      case _ if workload == "stream_ingest" => batches.map(_.rowsIn).sum / n / wallS
      case q: QuerySet => q.inputRows * w.ops.count(o => !failedOps(o.name)) / wallS
    }
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(0.0)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wallS, "s"),
      ("rows_per_s", rowsPerS, "rows/s"),
      ("batch_p50_ms", med(unitMs.values.map(med).toSeq), "ms"),
      ("peak_rss_mb", rssMb, "MB"))

    val layer = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
    // synth + api
    val synthW = w match { case s: SynthBulk => Some(s); case _ => None }
    put("synth.compile_ms", synthW.map(s => med(s.compileSeconds.toSeq) * 1e3).getOrElse(0.0), "ms")
    Seq("fast", "interp").foreach { lw =>
      val v = synthW.map { s =>
        val names = w.ops.filter(_.group == s"gen.$lw").map(_.name)
        val secs = passes.flatMap(p => names.flatMap(p.opS.get)).sum
        val rows = passes.flatMap(p => names.filter(p.opS.contains).map(s.rows.getOrElse(_, 0L))).sum
        if (secs > 0) rows / secs else 0.0
      }.getOrElse(0.0)
      put(s"synth.$lw.gen_rows_per_s", v, "rows/s")
    }
    put("api.json.write_s", if (synthW.isDefined) groupPerPass(_.name.endsWith(".json")) else 0.0, "s")
    put("api.delimited.write_s",
      if (synthW.isDefined) groupPerPass(_.name.endsWith(".delimited")) else 0.0, "s")
    put("api.out_mb", synthW.map(_.outBytes / 1e6).getOrElse(0.0), "MB")
    // queries / ops / sources
    val isCurate = workload == "curate_batch"
    QuerySet.curate.foreach { case (q, _) =>
      put(s"q.$q.s", if (isCurate) opMed(q) else 0.0, "s")
      put(s"q.$q.cold_s", if (isCurate) cold.opS.getOrElse(q, 0.0) else 0.0, "s")
    }
    QuerySet.familyMetric.toSeq.sortBy(_._2).foreach { case (fam, metric) =>
      put(metric, if (isCurate) groupPerPass(_.group == fam) else 0.0, "s")
    }
    // plans
    Seq("analysis", "optimization", "planning").foreach { p =>
      put(s"plans.${p}_ms", (plans1(p) - plans0(p)) / n, "ms")
    }
    // executor
    val ex = exec1.map { case (k, v) => k -> (v - exec0(k)) }
    Seq("jobs", "stages", "tasks").foreach(k => put(s"exec.$k", ex(k) / n, "count"))
    put("exec.cpu_s", ex("cpu_s") / n, "s")
    put("exec.cpu_util", ex("cpu_s") / (timedWall * cpus), "ratio")
    put("exec.max_task_share",
      if (ex("sum_task_ms") > 0) ex("max_task_ms") / ex("sum_task_ms") else 0.0, "ratio")
    Seq("shuffle_read_mb", "shuffle_write_mb", "spill_mb").foreach(k => put(s"exec.$k", ex(k) / n, "MB"))
    put("exec.gc_s", ex("gc_s") / n, "s")
    put("exec.task_failures", ex("task_failures"), "count")
    // streaming
    def perBatch(f: Batch => Double): Double =
      if (batches.isEmpty) 0.0 else batches.map(f).sum / batches.size
    put("stream.batches", batches.size / n, "count")
    put("stream.rows_in", batches.map(_.rowsIn).sum / n, "rows")
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset").foreach { k =>
      put(s"stream.${k}_ms", perBatch(_.durations.getOrElse(k, 0L).toDouble), "ms")
    }
    put("stream.state_commit_ms", perBatch(_.stateCommitMs.toDouble), "ms")
    put("stream.state_rows", perBatch(_.stateRows.toDouble), "rows")
    put("stream.state_mb", perBatch(_.stateBytes / 1e6), "MB")
    val isStream = workload == "stream_ingest"
    QuerySet.stream.foreach { case (r, _) =>
      put(s"rig.$r.s", if (isStream) opMed(r) else 0.0, "s")
      put(s"rig.$r.cold_s", if (isStream) cold.opS.getOrElse(r, 0.0) else 0.0, "s")
    }
    // trace self time per layer, per timed pass
    val self = tr.selfSeconds(_.run.startsWith("pass"))
    Seq("harness", "synth", "api", "queries", "streaming", "sink").foreach { l =>
      put(s"self.${l}_s", self.getOrElse(l, 0.0) / n, "s")
    }
    put("trace.wall_s", wallS, "s")
    put("batch.p90_ms", pct(unitMs.values.flatten.toSeq, 0.9), "ms")
    put("batch.samples", unitMs.values.map(_.size).sum.toDouble, "count")
    put("passes", n, "count")
    val ext = extCores(load0, load1)
    put("load.ext_cores", ext, "cores")
    put("proc.child_cpu_s", childCpuS(load0, load1) / n, "s")

    if (traced) tr.writeJsonl(s"$outDir/spans.jsonl")
    def metrics(ms: Iterable[(String, Double, String)]): String =
      Json.obj(ms.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val failedChecks = checks.filterNot(_.ok)
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> (attempted + checks.size).toString,
      "failed" -> (errors.size + failedChecks.size).toString,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layer.map { case (k, (v, u)) => (k, v, u) }),
      "oracles" -> Json.obj(oracles.filter(o => !failedOps(o._1)).map { case (k, v) => k -> Json.str(v) }),
      "errors" -> (errors ++ failedChecks.map(c => s"${c.name}: ${c.detail}"))
        .map(Json.str).mkString("[", ",", "]"),
      "checks" -> checks.map(c => Json.str(s"${c.name}: ${if (c.ok) "ok" else "FAILED"}: ${c.detail}"))
        .mkString("[", ",", "]"),
      "load" -> Json.obj(Seq("ext_cores" -> Json.num(ext),
        "run_ext_cores" -> Json.num(extCores(loadStart, load())),
        "child_cores" -> Json.num(childCpuS(load0, load1) / timedWall),
        "loadavg" -> Json.num(graft.LoadProbe.loadavg1m()),
        "noisy" -> (ext > NoisyExtCores).toString)),
      "cold_s" -> Json.obj(cold.opS.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "warm_s" -> Json.obj(w.ops.map(_.name).filter(opMed(_) > 0).map(k => k -> Json.num(opMed(k)))),
      "passes" -> passes.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "check_s" -> Json.num(checkS)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/result.json"), result)
    spark.stop()
    sys.exit(0)
  }
}
