package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Regenerates the [[graft.queries.PinOracles]] constants: runs each
  * pinned query at the given sf dir and prints the `"name" -> "SELECT
  * ..."` map entries (Scala source, ready to paste between the
  * generated-section markers). Single-row results render as a constant
  * SELECT list; multi-row results (g94's merge table) as a VALUES
  * table. Run after any INTENTIONAL sampler or fit change:
  *
  *   sbt "runMain graft.tools.CapturePins /root/testdata/sf0.01"
  */
object CapturePins {
  val pinned: Seq[String] = Seq(
    "g30_synth_iot", "g32_synth_textmessage", "g33_synth_commuter",
    "g34_synth_dns_flat", "g35_synth_cpoc", "g36_synth_changer",
    "g37_synth_vehicle", "g38_synth_identity", "g39_synth_header",
    "g49_ann_ivf", "g67_ann_ivf_disk", "g86_ann_ivf_quant",
    "g89_ann_pq", "g91_ann_ivfpq", "g107_ann_residual_pq",
    "g94_bpe_merges")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.runtime.LocalSession(cpus)
    println("    // --- BEGIN GENERATED (graft.tools.CapturePins, " +
      s"${sfDir.split('/').last}) ---")
    pinned.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      println(s"""    "$name" ->""")
      println(s"""      ${ParityHarness.jsonString(renderSql(df))},""")
    }
    println("    // --- END GENERATED ---")
    spark.stop()
    sys.exit(0)
  }

  /** A DuckDB constant query reproducing `df`'s rows verbatim. */
  def renderSql(df: DataFrame): String = {
    val fields = df.schema.fields
    val rows = df.collect()
    require(rows.nonEmpty, "pin capture on an empty result")
    def cell(v: Any, i: Int): String = (v, fields(i).dataType) match {
      case (null, _)          => "NULL"
      case (s: String, _)     => "'" + s.replace("'", "''") + "'"
      case (v, LongType)      => s"CAST($v AS BIGINT)"
      case (v, IntegerType)   => s"CAST($v AS BIGINT)"
      case (v, StringType)    => "'" + v.toString.replace("'", "''") + "'"
      case (v, dt) => throw new IllegalArgumentException(
        s"pin column ${fields(i).name}: unpinnable type $dt (value $v) — " +
          "pins must be integer/string aggregates, never floats")
    }
    if (rows.length == 1)
      fields.indices.map(i =>
        s"""${cell(rows(0).get(i), i)} AS "${fields(i).name}"""")
        .mkString("SELECT ", ", ", "")
    else {
      val vals = rows.map(r => fields.indices.map(i => cell(r.get(i), i))
        .mkString("(", ", ", ")")).mkString(", ")
      val names = fields.map(f => s""""${f.name}"""").mkString(", ")
      s"SELECT * FROM (VALUES $vals) AS t($names)"
    }
  }
}
