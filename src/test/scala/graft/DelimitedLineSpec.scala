package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.{CannedSources, Processors}
import graft.expr.DelimitedLine
import graft.synth.Synth

/** `Processors.toDelimited` (one [[DelimitedLine]] per row) against the
  * per-cell rendering it replaced — `to_json(array(c))` with the brackets
  * cut off, `cast(c as string)`, and a `regexp_replace` backslash escape,
  * joined by `concat`. That rendering lives only here, as the oracle.
  * Lines are compared as bytes (hex), row for row.
  */
class DelimitedLineSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  private def oracle(df: DataFrame, sep: String, quote: String): DataFrame = {
    val parts: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      quote match {
        case "DOUBLE_QUOTE" =>
          val j = to_json(array(c))
          j.substr(lit(2), length(j) - lit(2))
        case "OPTIMISTIC" =>
          coalesce(c.cast("string"), lit("null"))
        case "BACK_SLASH" =>
          coalesce(regexp_replace(c.cast("string"),
            "([,\\t\\s\\\\])", "\\\\$1"), lit("null"))
      }
    }
    val sepd = parts.zipWithIndex.flatMap { case (p, i) =>
      if (i == 0) Seq(p) else Seq(lit(sep), p)
    }
    df.select(concat(sepd: _*).as("line"))
  }

  private val Quotes = Seq("DOUBLE_QUOTE", "OPTIMISTIC", "BACK_SLASH")

  /** Whole-stage codegen, codegen'd projections only (a compile failure
    * throws instead of falling back), and the interpreter.
    */
  private val Modes = Seq(
    "whole-stage" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "projection codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](kvs: Seq[(String, String)])(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def hexLines(lines: DataFrame): Seq[String] =
    lines.select(hex(col("line"))).collect().map(_.getString(0)).toSeq

  /** An RDD-backed frame: a local relation would be projected by the
    * optimizer's interpreter, and codegen would never run.
    */
  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private val strings: Seq[String] =
    (0 until 128).map(c => s"a${c.toChar}b") ++ Seq(
      (0 until 128).map(_.toChar).mkString, "é", "\uD834\uDD1E", "", " lead, trail ",
      "quote\"back\\slash/", "\u2028\u00a0\u0080")
  private val doubles: Seq[Double] = Seq(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0, 0.0, 1e21, 1e-7, 0.1, 1.0 / 3, Double.MaxValue,
    Double.MinPositiveValue, -123456.789, 100.0)
  private val floats: Seq[Float] = Seq(Float.NaN, Float.PositiveInfinity,
    Float.NegativeInfinity, -0.0f, 1e21f, 1e-7f, 0.1f, Float.MaxValue, 3.5f)
  private val longs: Seq[Long] = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 42L)
  private val ints: Seq[Int] = Seq(Int.MinValue, Int.MaxValue, 0, -7)
  // undecodable UTF-8: a stray continuation, a cut sequence, an overlong
  // NUL, an encoded surrogate, a code point past U+10FFFF, a bare 0xFF
  private val badHex: Seq[String] =
    Seq("80", "41E282", "C080", "EDA080", "F4908080", "61FF2C62", "")

  private val allTypes = StructType(Seq(
    StructField("s", StringType), StructField("bad_hex", StringType),
    StructField("b", ByteType), StructField("sh", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("bool", BooleanType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("dec", DecimalType(20, 5)),
    StructField("bin", BinaryType), StructField("arr", ArrayType(IntegerType)),
    StructField("sarr", ArrayType(StringType)),
    StructField("st", StructType(Seq(StructField("x", IntegerType),
      StructField("y", StringType)))),
    StructField("m", MapType(StringType, DoubleType))))

  private lazy val allTypesFrame: DataFrame = {
    def at[T](xs: Seq[T], i: Int): T = xs(i % xs.length)
    val n = strings.length
    val rows = (0 until n).map { i =>
      Row(at(strings, i), at(badHex, i), (i - 64).toByte, (i * 517 - 30000).toShort,
        at(ints, i), at(longs, i), i % 2 == 0, at(doubles, i), at(floats, i),
        java.sql.Date.valueOf(java.time.LocalDate.of(1970, 1, 1).plusDays(i * 97L - 5000)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(i * 86400123L - 4000000000L)),
        new java.math.BigDecimal(s"${i * 1234567L - 99999999L}.${i % 7}0001"),
        Array.tabulate[Byte](i % 5)(j => (j * 61 - i).toByte), Seq(i, -i, i * i),
        Seq(at(strings, i + 3), null), Row(i, at(strings, i + 9)),
        Map(at(strings, i + 1) -> at(doubles, i + 1)))
    } :+ Row.fromSeq(Seq.fill(allTypes.length)(null))
    frame(allTypes, rows)
      .withColumn("bad", unhex(col("bad_hex")).cast("string"))
      .drop("bad_hex")
  }

  test("the undecodable column really holds invalid UTF-8") {
    val bad = allTypesFrame.select(hex(col("bad"))).collect().map(_.getString(0)).toSet
    assert(bad.contains("EDA080") && bad.contains("61FF2C62"), bad)
  }

  for ((mode, conf) <- Modes; quote <- Quotes; sep <- Seq(",", "\t")) {
    val sepName = if (sep == ",") "comma" else "tab"
    test(s"every type, edge values and nulls match the per-cell rendering: $quote, $sepName, $mode") {
      withConf(conf) {
        val want = hexLines(oracle(allTypesFrame, sep, quote))
        val got = hexLines(Processors.toDelimited(allTypesFrame, sep, quote))
        assert(got.length == strings.length + 1)
        got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g == w, s"row $i:\n got ${new String(unhexBytes(g), "UTF-8")}\n" +
            s"want ${new String(unhexBytes(w), "UTF-8")}")
        }
      }
    }
  }

  private def unhexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("a 1,000-column frame compiles (the per-cell code is split) and matches") {
    val types = Seq(StringType, DoubleType, LongType, DateType)
    val schema = StructType((0 until 1000).map(i => StructField(s"c$i", types(i % 4))))
    val rows = (0 until 20).map { r =>
      Row.fromSeq((0 until 1000).map { i =>
        if ((r + i) % 11 == 0) null
        else types(i % 4) match {
          case StringType => s"r$r,c$i \"x\""
          case DoubleType => r * 1000.0 + i / 7.0
          case LongType   => r.toLong * i - 5000L
          case _          => java.sql.Date.valueOf(java.time.LocalDate.of(2000, 1, 1).plusDays(r + i))
        }
      })
    }
    val df = frame(schema, rows)
    for (quote <- Quotes) {
      val want = hexLines(oracle(df, ",", quote))
      withConf(Modes(1)._2) { // projection codegen, no interpreted fallback
        assert(hexLines(Processors.toDelimited(df, ",", quote)) == want, quote)
      }
    }
  }

  test("an encoding that cannot render its cell's type fails analysis") {
    import org.apache.spark.sql.graftbridge.PlanBridge
    val df = spark.range(1).selectExpr("current_date() AS d")
    val e = intercept[org.apache.spark.sql.AnalysisException](df.select(PlanBridge.column(
      DelimitedLine(Seq(PlanBridge.expression(col("d"))), ",", Seq(DelimitedLine.Json)))).collect())
    assert(e.getMessage.contains("cannot render"))
  }

  test("rendered lines of the IoT fast-path frame at seed 42 keep their pinned digests") {
    // (lines, sum of xxhash64(line) mod 1e9+7), captured with the per-cell
    // rendering this renderer replaced
    val pins = Map(
      ("DOUBLE_QUOTE", ",") -> (200000L, 99864871204268L),
      ("DOUBLE_QUOTE", "\t") -> (200000L, 99978252657850L),
      ("OPTIMISTIC", ",") -> (200000L, 100016184386890L),
      ("OPTIMISTIC", "\t") -> (200000L, 99931714188958L),
      ("BACK_SLASH", ",") -> (200000L, 100016537080621L),
      ("BACK_SLASH", "\t") -> (200000L, 100036704677175L))
    val df = Synth.dataFrameAuto(spark, CannedSources.iotSchemaJson, 2000, 42L)
    for (((quote, sep), pin) <- pins) {
      val r = Processors.toDelimited(df, sep, quote)
        .agg(count(lit(1)), sum(pmod(xxhash64(col("line")), lit(1000000007L))))
        .collect()(0)
      assert((r.getLong(0), r.getLong(1)) == pin, s"$quote sep=${sep == ","}")
    }
  }
}
