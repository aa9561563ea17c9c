package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Shared machinery for the three parity proofs (topology —
  * [[ClusterParityCheck]]; tuning — [[ConfParityCheck]]; faults —
  * [[FaultParityCheck]]): one session builder (including the
  * local-cluster executor wiring), one "all"/csv query-name resolver,
  * one digest-every-query pass runner, and one JSON report renderer
  * with real string escaping. A fix here fixes all three tools; the
  * previous copy-pasted trios had already drifted (one tool escaped
  * only double quotes in error cells, so a multi-line
  * AnalysisException broke the one-JSON-line output contract exactly
  * when a query failed).
  */
object ParityHarness {

  final case class Digest(rows: Long, xor: Long, sum: Long) {
    def render: String = s"""{"rows":$rows,"xor":$xor,"sum":$sum}"""
  }

  /** Order-independent exact digest. Maps are cast to string (xxhash64
    * rejects MapType); everything else hashes natively. pmod keeps the
    * sum far from Long overflow under ANSI arithmetic.
    */
  def digest(df: DataFrame): Digest = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => col(f.name).cast("string")
        case _          => col(f.name)
      }
    }
    val r = df
      .select(xxhash64(cols: _*).as("h"))
      .agg(
        count(lit(1)).as("n"),
        expr("bit_xor(h)").as("x"),
        sum(pmod(col("h"), lit(1000000007L))).as("s"))
      .collect()(0)
    Digest(r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** `all` = the entire registered suite, batch first and streaming
    * last (the Bench hygiene ordering); a csv = exactly those names.
    */
  def resolveNames(arg: Option[String], default: Seq[String]): Seq[String] =
    arg match {
      case Some("all") =>
        val (st, ba) = graft.SparkEntry.queries.keys.toSeq.sorted
          .partition(_.contains("_stream"))
        ba ++ st
      case Some(csv) => csv.split(",").toSeq.map(_.trim)
      case None      => default
    }

  def session(master: String, confs: Map[String, String]): SparkSession = {
    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" ")
    val b = graft.runtime.LocalSession.builder(master, 32)
    val b2 =
      if (master.startsWith("local-cluster")) b
        // forked executor JVMs need the graft classes (task closures and
        // custom Expressions deserialize there) and the JDK-17 opens
        .config("spark.executor.extraClassPath",
          sys.props.getOrElse("graft.classes",
            "/root/repo/target/scala-2.13/classes"))
        .config("spark.executor.extraJavaOptions", addOpens)
        .config("spark.executor.memory", "3g")
      else b
    val s = confs.foldLeft(b2) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run every named query under a fresh session and digest it.
    * `onSession` lets a caller attach listeners (the fault tool's
    * chaos injector) before the first query runs. Each pass rebuilds
    * every [[graft.runtime.BuildOnce]] value (ANN indexes, fits, WARC
    * fixtures) — the WRITE paths must be exercised under the perturbed
    * topology/conf/fault regime too, not just the serve.
    */
  def runPass(master: String, confs: Map[String, String], sfDir: String,
      names: Seq[String], onSession: SparkContext => Unit = _ => ())
      : Map[String, Either[String, Digest]] = {
    graft.runtime.BuildOnce.clear()
    val spark = session(master, confs)
    onSession(spark.sparkContext)
    try {
      // one tiny action first so executor registration / codegen
      // warm-up isn't attributed to the first query
      spark.range(1000).agg(sum("id")).collect()
      names.map { n =>
        val fn = graft.SparkEntry.queries.getOrElse(n,
          sys.error(s"unknown query: $n"))
        n -> (try Right(digest(fn(spark, sfDir)))
        catch {
          case e: Throwable =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        })
      }.toMap
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** `s` as a JSON string literal: backslash, quote and every control
    * character escaped (exception messages are routinely multi-line,
    * and a tab or CR in an oracle's SQL would break a JSON reader). The
    * one escaper of the parity reports, Bench's lines, Verify's
    * oracle_sql.json and CapturePins' generated source.
    */
  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'            => b.append("\\\"")
      case '\\'           => b.append("\\\\")
      case '\n'           => b.append("\\n")
      case '\r'           => b.append("\\r")
      case '\t'           => b.append("\\t")
      case c if c < ' '   => b.append(f"\\u${c.toInt}%04x")
      case c              => b.append(c)
    }
    b.append("\"").toString
  }

  /** Print the one-line report: every pass's digest per query, `match`
    * = all passes bit-equal to the FIRST (baseline) pass. Returns the
    * mismatch count. `extraJson` is spliced into the top level (e.g.
    * the fault tool's injected-kill counts).
    */
  def report(metric: String, sfDir: String, names: Seq[String],
      passes: Seq[(String, Map[String, Either[String, Digest]])],
      extraJson: String = ""): Int = {
    val base = passes.head._2
    var bad = 0
    def side(e: Either[String, Digest]) = e match {
      case Right(d)  => d.render
      case Left(err) => jsonString(s"ERR: $err")
    }
    val per = names.map { n =>
      val ok = passes.forall { case (_, m) =>
        (base(n), m(n)) match {
          case (Right(a), Right(b)) => a == b
          case _                    => false
        }
      }
      if (!ok) bad += 1
      s""""$n":{"match":$ok,${passes.map { case (l, m) =>
        s""""$l":${side(m(n))}""" }.mkString(",")}}"""
    }
    val extra = if (extraJson.isEmpty) "" else extraJson + ","
    println(s"""{"metric":"$metric","sf":${jsonString(sfDir)},""" +
      s""""n":${names.size},"mismatches":$bad,$extra""" +
      s""""queries":{${per.mkString(",")}}}""")
    bad
  }
}
