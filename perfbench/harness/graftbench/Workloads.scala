package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, struct, sum, to_json, xxhash64}

import graft.SparkEntry
import graft.api.{CannedSources, Processors}
import graft.synth.{ColumnCompiler, Compiler, Synth}

/** Where an operation sends its result: Spark's noop sink in the timed
  * passes, or parquet under `dir` in the warm-up pass, for the oracle check.
  */
sealed trait Sink
case object Noop extends Sink
final case class Dump(dir: String) extends Sink

/** One operation of a pass. `group` names what the operation's time is
  * summed into (a query family, or a synth sink kind).
  */
final case class Op(name: String, group: String, run: Sink => Unit)

/** The outcome of one correctness check made outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  def ops: Seq[Op]
  /** Checks on the outputs of the warm-up and the last timed pass. */
  def check(): Seq[Check]
  /** Work done by one pass that is not an operation of its own. */
  def perPass(): Unit = ()
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent content digest: the sum over rows of xxhash64 of
    * the row's JSON encoding, mod 1e9+7 (the convention of graft's
    * captured-constant pins). A row's JSON encoding is the line
    * `DataFrame.write.json` writes for it.
    */
  def digest(df: DataFrame): (Long, Long) =
    lineDigest(df.select(to_json(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*)).as("line")))

  /** The same digest over a frame of text lines (its first column). */
  def lineDigest(lines: DataFrame): (Long, Long) = {
    val r = lines.agg(count(lit(1)),
      sum(pmod(xxhash64(col(s"`${lines.columns.head}`")), lit(1000000007L)))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** Bulk generation: every Synth lowering into the noop sink, and the IoT
  * fast-path frame also into the two Processors file writers.
  */
final class SynthBulk(spark: SparkSession, seed: Long, tr: Tracer, outDir: String)
    extends Workload {
  // `files`: the frame also goes through the two file writers (the IoT
  // fast-path frame only: each file write costs a second or more per pass,
  // and every benchmark run has to fit in well under a minute)
  private final case class Gen(name: String, lowering: String, schema: String,
      expectedRows: Option[Long], files: Boolean, build: () => DataFrame)

  private val iot = CannedSources.iotSchemaJson
  // the g121 wide stateless schema
  private val wide =
    """[{"name": "i", "class": "id"},
        {"name": "u", "class": "uuid"},
        {"name": "ip", "class": "ipv4"},
        {"name": "n", "class": "int", "min": 0, "max": 1000000},
        {"name": "d", "class": "date", "start": "2020-01-01", "end": "2024-12-31"},
        {"name": "st", "class": "state"},
        {"name": "b", "class": "browser"},
        {"name": "phone", "class": "join", "separator": "-",
         "value": {"class": "sequence", "array": [
           {"class": "int", "min": 200, "max": 999},
           {"class": "int", "min": 200, "max": 999},
           {"class": "int", "min": 1000, "max": 9999}]}}]"""
  // the schema CannedSources.commuterData builds
  private val commuter = """[{"class": "commuter", "flat": true, "days": 5}]"""

  private val gens = Seq(
    Gen("iot_fast", "fast", iot, Some(200000), files = true,
      () => Synth.dataFrameAuto(spark, iot, 2000, seed)),
    Gen("iot_interp", "interp", iot, Some(40000), files = false,
      () => Synth.dataFrame(spark, iot, 400, seed)),
    Gen("wide_fast", "fast", wide, Some(150000), files = false,
      () => Synth.dataFrameAuto(spark, wide, 150000, seed)),
    Gen("commuter_interp", "interp", commuter, None, files = false,
      () => CannedSources.commuterData(spark, 2, seed = seed)))

  private def dir(g: Gen, kind: String) = s"$outDir/synth/${g.name}.$kind"

  val ops: Seq[Op] = gens.flatMap { g =>
    def build() = tr.span("synth", s"synth.${g.lowering}.build")(g.build())
    Op(s"${g.name}.noop", s"gen.${g.lowering}",
      _ => { val df = build(); tr.span("sink", "noop")(Workload.noop(df)) }) +:
    (if (!g.files) Nil else Seq(
      Op(s"${g.name}.json", "file", _ => {
        val df = build()
        tr.span("api", "api.json.write")(Processors.writeJson(df, dir(g, "json")))
      }),
      Op(s"${g.name}.delimited", "file", _ => {
        val df = build()
        tr.span("api", "api.delimited.write")(
          Processors.toDelimited(df, ",", "DOUBLE_QUOTE")
            .write.mode("overwrite").text(dir(g, "csv")))
      })))
  }

  /** Rows each operation delivers, filled in by [[check]]. */
  val rows = scala.collection.mutable.Map[String, Long]()
  /** Seconds spent compiling the generator schemas in each timed pass. */
  val compileSeconds = scala.collection.mutable.ArrayBuffer[Double]()
  /** Bytes the file writers left on disk. */
  var outBytes = 0L

  override def perPass(): Unit = {
    val t0 = System.nanoTime()
    tr.span("synth", "synth.compile") {
      gens.foreach { g =>
        if (g.lowering == "fast") ColumnCompiler.compilePlan(g.schema, seed, nativeFns = true)
        else Compiler.compileSchema(g.schema)
      }
    }
    compileSeconds += (System.nanoTime() - t0) / 1e9
  }

  /** Schema, row count and content of each generator's frame, from a
    * fresh build. The content digest must equal the pinned digest where the
    * seed has one, else the digest of a second build, and the digest of
    * the JSON lines the last timed pass wrote; the delimited file must hold
    * the lines `toDelimited` renders for the frame.
    */
  def check(): Seq[Check] = gens.flatMap { g =>
    val df = g.build()
    val want = Compiler.structType(Compiler.compileSchema(g.schema))
      .fields.toSeq.map(f => f.name -> f.dataType)
    val got = df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    val (n, dig) = Workload.digest(df)
    Seq("noop", "json", "delimited").foreach(k => rows(s"${g.name}.$k") = n)
    val fileChecks = if (!g.files) Nil else {
      val json = Workload.lineDigest(spark.read.text(dir(g, "json")))
      val csv = Workload.lineDigest(spark.read.text(dir(g, "csv")))
      val csvWant = Workload.lineDigest(Processors.toDelimited(df, ",", "DOUBLE_QUOTE"))
      outBytes += Seq("json", "csv").map(k => Files.size(dir(g, k))).sum
      Seq(Check(s"${g.name}.json", json == (n, dig), s"file (lines, digest) = $json, frame ($n, $dig)"),
        Check(s"${g.name}.delimited", csv == csvWant, s"file (lines, digest) = $csv, rendered $csvWant"))
    }
    val pinned = SynthBulk.pins.get((g.name, seed))
    val other = pinned.getOrElse(Workload.digest(g.build()))
    Seq(
      Check(s"${g.name}.schema", got == want, s"got $got"),
      Check(s"${g.name}.rows", g.expectedRows.forall(_ == n) && n > 0,
        s"$n rows, expected ${g.expectedRows.getOrElse("> 0")}"),
      Check(s"${g.name}.digest", other == (n, dig), s"(rows, digest) = ($n, $dig), " +
        s"${if (pinned.isDefined) "pinned" else "second build"} $other")) ++ fileChecks
  }
}

object SynthBulk {
  /** (rows, digest) per generator at seeds 0-20 and 42 (graft's default
    * seed), captured with [[main]].
    */
  val pins: Map[(String, Long), (Long, Long)] = Map(
    ("iot_fast", 0L) -> (200000L, 100064639079466L),
    ("iot_interp", 0L) -> (40000L, 19984417852952L),
    ("wide_fast", 0L) -> (150000L, 75107026585740L),
    ("commuter_interp", 0L) -> (11627L, 5807442840662L),
    ("iot_fast", 1L) -> (200000L, 100123819083702L),
    ("iot_interp", 1L) -> (40000L, 20046516719205L),
    ("wide_fast", 1L) -> (150000L, 74919148803953L),
    ("commuter_interp", 1L) -> (15534L, 7752704944866L),
    ("iot_fast", 2L) -> (200000L, 99857774937207L),
    ("iot_interp", 2L) -> (40000L, 19977031666665L),
    ("wide_fast", 2L) -> (150000L, 74817236474781L),
    ("commuter_interp", 2L) -> (21118L, 10537932299506L),
    ("iot_fast", 3L) -> (200000L, 100072796359007L),
    ("iot_interp", 3L) -> (40000L, 20021726931886L),
    ("wide_fast", 3L) -> (150000L, 75062569322353L),
    ("commuter_interp", 3L) -> (38676L, 19253050121206L),
    ("iot_fast", 4L) -> (200000L, 99912930075312L),
    ("iot_interp", 4L) -> (40000L, 20106959947367L),
    ("wide_fast", 4L) -> (150000L, 75059826549351L),
    ("commuter_interp", 4L) -> (15581L, 7808581387007L),
    ("iot_fast", 5L) -> (200000L, 100070833363202L),
    ("iot_interp", 5L) -> (40000L, 20047683791567L),
    ("wide_fast", 5L) -> (150000L, 75031049711474L),
    ("commuter_interp", 5L) -> (14267L, 7103937618856L),
    ("iot_fast", 6L) -> (200000L, 100190845957851L),
    ("iot_interp", 6L) -> (40000L, 20004140375128L),
    ("wide_fast", 6L) -> (150000L, 74962639231748L),
    ("commuter_interp", 6L) -> (13254L, 6611430765447L),
    ("iot_fast", 7L) -> (200000L, 99900868550273L),
    ("iot_interp", 7L) -> (40000L, 19970012317587L),
    ("wide_fast", 7L) -> (150000L, 75014499146997L),
    ("commuter_interp", 7L) -> (30689L, 15321041738859L),
    ("iot_fast", 8L) -> (200000L, 100028447127372L),
    ("iot_interp", 8L) -> (40000L, 19943067946121L),
    ("wide_fast", 8L) -> (150000L, 75032713445532L),
    ("commuter_interp", 8L) -> (9159L, 4599744611646L),
    ("iot_fast", 9L) -> (200000L, 100064016300907L),
    ("iot_interp", 9L) -> (40000L, 19956261452334L),
    ("wide_fast", 9L) -> (150000L, 74886800227140L),
    ("commuter_interp", 9L) -> (26687L, 13289845180897L),
    ("iot_fast", 10L) -> (200000L, 100204995692384L),
    ("iot_interp", 10L) -> (40000L, 19998402567945L),
    ("wide_fast", 10L) -> (150000L, 75078336029706L),
    ("commuter_interp", 10L) -> (8599L, 4297099466609L),
    ("iot_fast", 11L) -> (200000L, 100008649681355L),
    ("iot_interp", 11L) -> (40000L, 19990197902407L),
    ("wide_fast", 11L) -> (150000L, 75197930037754L),
    ("commuter_interp", 11L) -> (16304L, 8116284910214L),
    ("iot_fast", 12L) -> (200000L, 99878151243412L),
    ("iot_interp", 12L) -> (40000L, 20034710098169L),
    ("wide_fast", 12L) -> (150000L, 74944348479316L),
    ("commuter_interp", 12L) -> (27941L, 14004429887080L),
    ("iot_fast", 13L) -> (200000L, 99912242939115L),
    ("iot_interp", 13L) -> (40000L, 19919171149668L),
    ("wide_fast", 13L) -> (150000L, 74887476748316L),
    ("commuter_interp", 13L) -> (39037L, 19572105180561L),
    ("iot_fast", 14L) -> (200000L, 99992695246749L),
    ("iot_interp", 14L) -> (40000L, 19956260621470L),
    ("wide_fast", 14L) -> (150000L, 74908620078585L),
    ("commuter_interp", 14L) -> (27962L, 13986675520487L),
    ("iot_fast", 15L) -> (200000L, 100253890053192L),
    ("iot_interp", 15L) -> (40000L, 20008763980335L),
    ("wide_fast", 15L) -> (150000L, 74900192598253L),
    ("commuter_interp", 15L) -> (27414L, 13746625155191L),
    ("iot_fast", 16L) -> (200000L, 99898660146978L),
    ("iot_interp", 16L) -> (40000L, 20036291129665L),
    ("wide_fast", 16L) -> (150000L, 75011246183943L),
    ("commuter_interp", 16L) -> (14165L, 7128193749379L),
    ("iot_fast", 17L) -> (200000L, 99967158663154L),
    ("iot_interp", 17L) -> (40000L, 19944684332712L),
    ("wide_fast", 17L) -> (150000L, 74823477963602L),
    ("commuter_interp", 17L) -> (23756L, 11871430420534L),
    ("iot_fast", 18L) -> (200000L, 100131453353808L),
    ("iot_interp", 18L) -> (40000L, 20043827566752L),
    ("wide_fast", 18L) -> (150000L, 74987427122861L),
    ("commuter_interp", 18L) -> (40198L, 20051107701547L),
    ("iot_fast", 19L) -> (200000L, 99890180019895L),
    ("iot_interp", 19L) -> (40000L, 20065034217387L),
    ("wide_fast", 19L) -> (150000L, 75021362616954L),
    ("commuter_interp", 19L) -> (21909L, 10926768343809L),
    ("iot_fast", 20L) -> (200000L, 100063453125856L),
    ("iot_interp", 20L) -> (40000L, 20102488432170L),
    ("wide_fast", 20L) -> (150000L, 74897778632465L),
    ("commuter_interp", 20L) -> (29672L, 14807023248424L),
    ("iot_fast", 42L) -> (200000L, 100215795321227L),
    ("iot_interp", 42L) -> (40000L, 20024977723412L),
    ("wide_fast", 42L) -> (150000L, 74959733974115L),
    ("commuter_interp", 42L) -> (23306L, 11545083322596L))

  /** Prints the pin table for the given seeds, computed the way
    * [[SynthBulk.check]] computes digests.
    *
    * Usage: graftbench.SynthBulk DIR SEED...
    */
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0))
    val lines = args.toSeq.tail.map(_.toLong).flatMap { seed =>
      new SynthBulk(spark, seed, new Tracer(false), args(0)).gens.map { g =>
        val (n, dig) = Workload.digest(g.build())
        s"""    ("${g.name}", ${seed}L) -> (${n}L, ${dig}L)"""
      }
    }
    println(lines.mkString(",\n"))
    spark.stop()
  }
}

/** A fixed set of SparkEntry queries or streaming rigs, in seeded order;
  * each result goes to the noop sink, or is dumped in the warm-up pass for
  * the DuckDB oracle check.
  */
final class QuerySet(spark: SparkSession, dataDir: String, tr: Tracer,
    layer: String, prefix: String, members: Seq[(String, String)], seed: Long)
    extends Workload {
  private val defs = SparkEntry.queries

  val ops: Seq[Op] = new scala.util.Random(seed).shuffle(members).map {
    case (name, group) => Op(name, group, sink => {
      val df = tr.span(layer, s"$prefix.$name")(defs(name)(spark, dataDir))
      sink match {
        case Noop => tr.span("sink", "noop")(Workload.noop(df))
        case Dump(d) => tr.span("sink", "dump")(
          df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
      }
    })
  }

  /** Rows of the documents table every query and rig reads. */
  lazy val inputRows: Long = spark.read.parquet(s"$dataDir/documents.parquet").count()

  def oracles: Map[String, String] =
    members.map(_._1).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  /** Every member must have an oracle; the comparison itself runs in DuckDB. */
  def check(): Seq[Check] = members.map { case (n, _) =>
    Check(s"$n.oracle", oracles.contains(n),
      if (oracles.contains(n)) "compared in DuckDB" else "no oracle SQL")
  }
}

object QuerySet {
  /** LLM-data curation queries, one per family. Every query's first run
    * costs seconds of JIT and codegen, which each benchmark run pays in its
    * warm-up, so the set is as small as covers the families.
    */
  val curate: Seq[(String, String)] = Seq(
    "q154_exact_substr" -> "dedup",
    "q99_bm25_scores" -> "retrieval",
    "q151_warc_pipeline" -> "crawl")

  /** The bounded AvailableNow streaming replay: RocksDB state commits,
    * transformWithState, and the batch banded-dedup keys in-stream.
    */
  val stream: Seq[(String, String)] = Seq(
    "g122_stream_banded_dedup" -> "stream")

  /** Per-layer name of each curation family's summed query time. */
  val familyMetric: Map[String, String] = Map(
    "dedup" -> "ops.dedup_s", "retrieval" -> "ops.retrieval_s",
    "crawl" -> "sources.crawl_s")
}

private object Files {
  def size(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum
    finally s.close()
  }
}
