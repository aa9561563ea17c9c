package graft

import org.apache.spark.sql.SparkSession
import graft.api.Processors
import graft.spec.SpecParser
import graft.synth.Synth

/** CLI parity with the reference's `com.mapr.synth.Synth` main
  * (generators/.../Synth.java:63-193): generate `-count` records of
  * `-schema` into `-output` as json/csv/tsv/xml/template. Threads map to
  * Spark partitions (one output file per partition, like the
  * reference's one file per worker).
  *
  * Usage:
  *   runMain graft.SynthCli -schema FILE -count N -output DIR
  *     [-format json|csv|tsv|xml|avro] [-template 'text ${field}']
  *     [-quote DOUBLE_QUOTE|BACK_SLASH|OPTIMISTIC]
  *     [-threads P] [-seed S] [-fast]
  *
  * `-quote` selects the reference's delimited quoting convention
  * (Synth.java:455-457) for csv/tsv and routes through
  * [[Processors.toDelimited]] (line-exact, no header); without it the
  * Spark CSV writer path is used (RFC-4180 quoting, header row).
  */
object SynthCli {
  private val flagNames = Set("-fast")

  def main(args: Array[String]): Unit = {
    val spark = graft.runtime.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try run(spark, args) finally spark.stop()
  }

  /** Parse `args` and write the output on `spark`, which stays open. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    // flags take no value, so pair key/value with an explicit walk —
    // a fixed sliding(2,2) would mis-pair everything after a flag
    val opts = scala.collection.mutable.Map.empty[String, String]
    val flags = scala.collection.mutable.Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (flagNames(a)) { flags += a; i += 1 }
      else if (a.startsWith("-") && i + 1 < args.length) { opts(a) = args(i + 1); i += 2 }
      else sys.error(s"unexpected argument '$a'")
    }
    val schemaPath = opts.getOrElse("-schema", sys.error("need -schema FILE"))
    val count = SpecParser.parseSize(opts.getOrElse("-count", "1000"))
    val output = opts.getOrElse("-output", sys.error("need -output DIR"))
    val format = opts.getOrElse("-format", "json").toLowerCase
    val threads = opts.get("-threads").map(_.toInt).getOrElse(0)
    val seed = opts.get("-seed").map(_.toLong).getOrElse(42L)

    val schema = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(schemaPath)),
      java.nio.charset.StandardCharsets.UTF_8)

    val df =
      if (flags.contains("-fast")) Synth.dataFrameAuto(spark, schema, count, seed, threads)
      else Synth.dataFrame(spark, schema, count, seed, threads)

    val t0 = System.nanoTime()
    val quote = opts.get("-quote")
    (format, opts.get("-template")) match {
      case (_, Some(t)) =>
        Processors.renderTemplate(df, t).write.mode("overwrite").text(output)
      case ("json", _) => Processors.writeJson(df, output)
      case ("csv", _) if quote.isDefined =>
        Processors.toDelimited(df, ",", quote.get).write.mode("overwrite").text(output)
      case ("tsv", _) if quote.isDefined =>
        Processors.toDelimited(df, "\t", quote.get).write.mode("overwrite").text(output)
      case ("csv", _)  => Processors.writeCsv(df, output)
      case ("tsv", _)  => Processors.writeTsv(df, output)
      case ("avro", _) => Processors.writeAvro(df, output)
      case ("xml", _) =>
        Processors.toXml(df).write.mode("overwrite").text(output)
      case (other, _) => sys.error(s"unknown format '$other'")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[synth-cli] wrote $count rows as $format to $output in $secs%.2f s " +
      f"(${count / math.max(secs, 1e-9)}%.0f rows/s)")
  }
}
