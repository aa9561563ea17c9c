package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Processors
import graft.synth.Synth

/** `SynthCli` end to end through the text writer: the `-quote` path that
  * renders lines with `Processors.toDelimited`.
  */
class SynthCliSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  private val schema =
    """[{"name": "id", "class": "id"},
        {"name": "who", "class": "name"},
        {"name": "addr", "class": "address"},
        {"name": "n", "class": "int", "min": -50, "max": 50},
        {"name": "x", "class": "double", "min": 0, "max": 1}]"""

  private def cli(format: String, quote: String): (Seq[String], Seq[String]) = {
    val dir = Files.createTempDirectory("synth_cli")
    val schemaFile = dir.resolve("schema.json")
    Files.writeString(schemaFile, schema)
    val out = dir.resolve("out").toString
    SynthCli.run(spark, Array("-schema", schemaFile.toString, "-count", "300",
      "-output", out, "-format", format, "-quote", quote, "-seed", "7"))
    val sep = if (format == "csv") "," else "\t"
    val written = spark.read.text(out).collect().map(_.getString(0)).toSeq.sorted
    val rendered = Processors.toDelimited(Synth.dataFrame(spark, schema, 300, 7L), sep, quote)
      .collect().map(_.getString(0)).toSeq.sorted
    (written, rendered)
  }

  test("-format csv -quote DOUBLE_QUOTE writes the rendered lines, no header") {
    val (written, rendered) = cli("csv", "DOUBLE_QUOTE")
    assert(written.length == 300)
    assert(written == rendered)
    // id bare, name and address JSON-quoted, int and double bare
    written.foreach(l => assert(l.matches("""\d+,"[^"]*","[^"]*",-?\d+,[0-9.E-]+"""), l))
  }

  test("-format tsv -quote BACK_SLASH writes the rendered lines, whitespace escaped") {
    val (written, rendered) = cli("tsv", "BACK_SLASH")
    assert(written.length == 300)
    assert(written == rendered)
    // five cells per line once escaped tabs are skipped; addresses
    // carry escaped spaces
    written.foreach(l => assert(l.split("(?<!\\\\)\t", -1).length == 5, l))
    assert(written.forall(l => !l.matches(".*[^\\\\] .*")))
    assert(written.exists(_.contains("\\ ")))
  }
}
