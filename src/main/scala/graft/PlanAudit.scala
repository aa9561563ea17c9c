package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import scala.jdk.CollectionConverters._

/** Physical-plan audit: for every SparkEntry query, check the properties
  * that matter at 100 TB — broadcast joins where a side is dimension-
  * sized, no cartesian products anywhere, filter/column pushdown reaching
  * the parquet scans, and whole-stage codegen coverage. Prints one line
  * per query plus a summary; exits nonzero if a hard rule breaks.
  *
  * It also takes a construction census: the Spark jobs each query's
  * `fn(spark, sf)` starts before anything runs it, and how many of those
  * are parquet schema inference, with their call sites in the summary.
  *
  * Hard rules:
  *   - no CartesianProduct / BroadcastNestedLoopJoin unless the query
  *     deliberately broadcasts a tiny side (ANN brute force);
  *   - every parquet scan must prune columns (ReadSchema narrower than
  *     the table) or be a full-schema consumer by design.
  */
object PlanAudit {
  // ONLY genuine theta-joins belong here. The LSH/SimHash/SRP bucket
  // self-joins all carry equi-keys (band/sig) beside the a < b filter, so
  // they must plan as hash or sort-merge joins. NOTE the audit sees the
  // bucket join directly only for g47 (simHashPairs returns the lazy
  // plan); g46/g48 end in a Barrier.cut, so their audited plan is a
  // checkpoint scan — their join shape is pinned by the
  // bucket-self-join plan test in OpsSpec instead.
  private val nestedLoopAllowed = Set(
    "q27_ann_cosine_topk", // deliberate: broadcast query side vs all vectors
    "g49_ann_ivf",         // deliberate: probed-cluster join is a theta join
    "q68_quantized_ann",   // deliberate: broadcast quantized queries vs all codes
    "g89_ann_pq",          // deliberate: broadcast ADC tables vs all PQ codes
    "q82_sketch_overlap",  // deliberate: 5x5 sketch-table pair fan-out (a < b)
    "q87_hard_negatives",  // deliberate: broadcast query side vs all vectors (q27 shape + label predicate)
    "q100_hybrid_rrf",     // deliberate: dense side is the q27 broadcast theta-join
    "q107_pmi_bigrams",    // deliberate: crossJoin(broadcast(total)) of a 1-ROW aggregate
    "q113_mmr_diversify",  // deliberate: broadcast query side vs all vectors (q27 shape)
    "q132_join_size",      // deliberate: crossJoin(broadcast(·)) of a 1-ROW exact-size aggregate (q107 shape)
    "q135_vocab_drift",    // deliberate: crossJoin(broadcast(·)) of a 1-ROW totals aggregate (q107 shape)
    "q137_source_drift",   // deliberate: crossJoin(broadcast(·)) of 1-ROW snapshot totals (q107 shape)
    "q138_length_drift",   // deliberate: same drift-report totals shape as q137
    "q139_drift_summary",  // deliberate: q137's report aggregated — same totals shape
  )

  /** Queries that read EVERY column of a wide (> 4-column) table by
    * design — full-record consumers, not pruning misses. Everything
    * else that scans a wide table full-width is a hard failure: at
    * 100 TB an unpruned scan reads the whole table for a 2-column
    * projection.
    */
  private val fullScanAllowed = Set(
    "q01_filter_project",  // returns full lineitem records (the smoke filter)
    "q124_schema_evolution", // by definition reads every (evolving) column
    "q120_table_profile",  // one-pass profile of EVERY column
    "q89_corpus_profile",  // corpus report over all document fields
    "q127_csv_roundtrip",  // round-trips whole records through CSV
    "q90_merge_upsert",    // MERGE of full-record upserts/deletes: every column flows to output
  )

  /** Parquet scans as (table file name, #columns read, #columns in
    * table). The audit session runs with AQE OFF so the scan nodes are
    * directly collectable (pruning/pushdown are decided at planning —
    * AQE never changes them).
    */
  private def parquetScans(plan: SparkPlan): Seq[(String, Int, Int)] =
    plan.collect {
      case f: FileSourceScanExec =>
        val path = f.relation.location.rootPaths.headOption
          .map(_.getName).getOrElse("?")
        (path, f.requiredSchema.length, f.relation.dataSchema.length)
    }

  /** The Spark jobs a block started, and the call sites of those that
    * were parquet schema inference.
    */
  final case class Census(jobs: Int, inferenceSites: Seq[String]) {
    def inference: Int = inferenceSites.size
  }

  /** Parquet schema inference: the one-stage footer-reading job
    * (`parallelize` + `mapPartitions`) that a `read.parquet` without a
    * given schema starts, named after the `parquet` call.
    */
  private def isInference(st: StageInfo): Boolean =
    st.name.startsWith("parquet at ") &&
      st.rddInfos.map(_.name).sorted == Seq("MapPartitionsRDD", "ParallelCollectionRDD")

  /** `f`'s value and the jobs started under a job tag set around it,
    * counted after the listener bus drains. Job tags are inheritable
    * local properties, so the jobs of threads `f` starts (a streaming
    * query's micro-batches) count too.
    */
  def census[T](spark: SparkSession)(f: => T): (T, Census) = {
    val sc = spark.sparkContext
    val tag = s"graft-census-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) {
          jobs.incrementAndGet()
          j.stageInfos.find(isInference)
            .foreach(st => sites.add(st.name.stripPrefix("parquet at ")))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val r = try f finally sc.removeJobTag(tag)
      org.apache.spark.sql.graftbridge.PlanBridge.drainListeners(sc)
      (r, Census(jobs.get, sites.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.runtime.LocalSession.builder("local[4]", 4)
      // AQE off: scan nodes must be collectable for the pruning audit;
      // join-strategy/pushdown decisions the audit grades are made at
      // planning time, before AQE re-optimization
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var hardFailures = List.empty[String]
    var censuses = List.empty[Census]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val (df, built) = census(spark)(fn(spark, sfDir))
        censuses ::= built
        val qe: QueryExecution = df.queryExecution
        val plan = qe.executedPlan.toString()
        val cartesian = plan.contains("CartesianProduct")
        val nestedLoop = plan.contains("BroadcastNestedLoopJoin")
        val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
        val sortMerge = "SortMergeJoin".r.findAllIn(plan).length
        // codegen spans appear as "*(n)" operator prefixes in the plan string
        val codegenSpans = "\\*\\(\\d+\\)".r.findAllIn(plan).toSeq
          .map(_.drop(2).dropRight(1).toInt).distinct.length
        val scanInfo = parquetScans(qe.executedPlan)
        val scans = scanInfo.length
        // pruning rule: a scan of a > 4-column table that reads EVERY
        // column is a miss unless the query is a by-design full-record
        // consumer — at 100 TB that scan reads the whole table for a
        // narrow projection
        val fullScans = scanInfo.filter { case (_, read, total) =>
          total > 4 && read >= total
        }
        val flags = new StringBuilder
        if (cartesian) flags.append(" CARTESIAN!")
        if (nestedLoop && !nestedLoopAllowed(name)) flags.append(" NESTEDLOOP!")
        if (fullScans.nonEmpty && !fullScanAllowed(name))
          flags.append(s" FULLSCAN!(${fullScans.map(_._1).mkString(",")})")
        if (cartesian || (nestedLoop && !nestedLoopAllowed(name))
            || (fullScans.nonEmpty && !fullScanAllowed(name)))
          hardFailures ::= name
        println(f"$name%-24s scans=$scans bhj=$broadcasts smj=$sortMerge " +
          f"codegen=$codegenSpans jobs=${built.jobs} infer=${built.inference}$flags")
      } catch {
        case e: Exception =>
          hardFailures ::= name
          println(f"$name%-24s PLAN FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
    val sites = censuses.flatMap(_.inferenceSites).groupBy(identity)
      .map { case (site, n) => s"$site x${n.size}" }.toSeq.sorted
    println(s"== construction: ${censuses.map(_.jobs).sum} jobs, " +
      s"${censuses.map(_.inference).sum} parquet schema inference " +
      s"(${sites.mkString(", ")})")
    println(s"== hard failures: ${hardFailures.size} ${hardFailures.mkString(",")}")
    spark.stop()
    if (hardFailures.nonEmpty) sys.exit(1)
  }
}
