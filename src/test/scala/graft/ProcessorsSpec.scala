package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.{CannedSources, Processors, SchemaRegistry}
import graft.synth.Synth

/** Processor-layer tests mirroring the reference's processor oracles
  * (TestTransactions.java:69-77 smoke + shape checks).
  */
class ProcessorsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._
  private def orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  test("toJsonLines rows parse back with from_json to the source rows") {
    val src = orders
    val lines = Processors.toJsonLines(src)
    assert(lines.columns.toSeq == Seq("json"))
    val back = lines.select(from_json(col("json"), src.schema).as("r")).select("r.*")
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "a JSON line did not parse back to its source row")
  }

  test("correlator embeds 1..k sampled records per input row") {
    val out = Processors.correlate(orders.limit(100),
      """[{"name": "device", "class": "uuid"}]""", "corr", maxFanOut = 4)
    val n = out.success.count()
    assert(n >= 100 && n <= 400)
    assert(out.success.columns.contains("corr"))
    assert(out.correlation.columns.toSeq == Seq("device"))
    assert(out.original.count() == 100)
  }

  test("transactions attaches 0..5 merged terminal transactions per row") {
    val out = Processors.transactions(orders.limit(200), "o_orderkey", nTerminals = 10)
    val rows = out.select(col("o_orderkey"), size(col("transactions")).as("k")).collect()
    assert(rows.length == 200) // 0-transaction orders are kept, not dropped
    rows.foreach(r => assert(r.getAs[Int]("k") >= 0 && r.getAs[Int]("k") <= 5))
    assert(rows.exists(_.getAs[Int]("k") == 0) && rows.exists(_.getAs[Int]("k") > 0))
    // terminal fields merged into each transaction struct — and actually
    // populated: a broken terminal_idx join would silently null them
    val tx = out.select(explode(col("transactions")).as("t")).select("t.*")
    assert(tx.columns.toSet ==
      Set("seq", "amount_cents", "terminal_id", "zip", "city", "state"))
    val txRows = tx.collect()
    assert(txRows.nonEmpty)
    txRows.foreach { r =>
      assert(r.getAs[String]("terminal_id") != null && r.getAs[String]("city") != null,
        s"unjoined terminal in $r")
      assert(r.getAs[Long]("amount_cents") <= 20000)
    }
  }

  test("removeFields drops top-level and nested paths") {
    val df = Synth.dataFrame(spark,
      """[{"name": "t", "class": "toll"}, {"name": "u", "class": "uuid"}]""", 10)
    val out = Processors.removeFields(df, Seq("u", "t.location.city"))
    assert(!out.columns.contains("u"))
    val loc = out.select("t.location.*").columns.toSet
    assert(!loc.contains("city") && loc.contains("zip"))
  }

  test("phone number honors a fixed area code (TestPhoneNumber oracle)") {
    CannedSources.phoneNumber(spark, 30, Some(497)).collect()
      .foreach(r => assert(r.getString(0).matches("^497-\\d{3}-\\d{4}$")))
  }

  test("text generator emits the requested word count per row") {
    CannedSources.textGenerator(spark, 10, 7).collect()
      .foreach(r => assert(r.getString(0).split(" ").length == 7))
  }

  test("lookup file sampler reads csv/json dimension rows") {
    TempDirs.withTempDirs { tmp =>
      val dir = new java.io.File(tmp("lookup"))
      val csv = new java.io.File(dir, "dim.csv")
      java.nio.file.Files.writeString(csv.toPath, "code,label\nA,alpha\nB,beta\nC,gamma\n")
      val df = Synth.dataFrame(spark,
        s"""[{"name": "d", "class": "lookup", "file": "${csv.getAbsolutePath}"}]""", 50)
      val rows = df.select("d.code", "d.label").collect()
      assert(rows.length == 50)
      val valid = Map("A" -> "alpha", "B" -> "beta", "C" -> "gamma")
      rows.foreach(r => assert(valid(r.getString(0)) == r.getString(1)))
      // header-only file fails with a named error
      val empty = new java.io.File(dir, "empty.csv")
      java.nio.file.Files.writeString(empty.toPath, "code,label\n")
      val e = intercept[IllegalArgumentException](Synth.dataFrame(spark,
        s"""[{"name": "d", "class": "lookup", "file": "${empty.getAbsolutePath}"}]""", 1))
      assert(e.getMessage.contains("no data rows"))
    }
  }

  test("lookup resolves a bundled classpath resource (FileSampler setResource parity)") {
    // both spellings: a dedicated "resource" key and a "resource:" path prefix
    for (spec <- Seq(
      """[{"name": "t", "class": "lookup", "resource": "graft/tiers.tsv"}]""",
      """[{"name": "t", "class": "lookup", "file": "resource:graft/tiers.tsv"}]""")) {
      val rows = Synth.dataFrame(spark, spec, 30).select("t.tier", "t.limit").collect()
      assert(rows.length == 30)
      val valid = Map("bronze" -> "100", "silver" -> "1000", "gold" -> "10000")
      rows.foreach(r => assert(valid(r.getString(0)) == r.getString(1)))
    }
    val e = intercept[IllegalArgumentException](Synth.dataFrame(spark,
      """[{"name": "t", "class": "lookup", "resource": "graft/nope.tsv"}]""", 1))
    assert(e.getMessage.contains("not found on classpath"))
  }

  test("delimited quote modes match the reference's printDelimited conventions") {
    val df = Seq((7L, "plain", "has,comma and\\slash")).toDF("n", "a", "b")
    def render(quote: String, sep: String = ","): String =
      Processors.toDelimited(df, sep, quote).collect()(0).getString(0)
    // DOUBLE_QUOTE: JSON rendering — strings quoted+escaped, numbers bare
    assert(render("DOUBLE_QUOTE") == """7,"plain","has,comma and\\slash"""")
    // OPTIMISTIC: raw text, nothing escaped (deliberately naive)
    assert(render("OPTIMISTIC") == """7,plain,has,comma and\slash""")
    // BACK_SLASH: comma/tab/whitespace/backslash each backslash-escaped
    assert(render("BACK_SLASH") == """7,plain,has\,comma\ and\\slash""")
    // null handling: all three print the literal `null` like JsonNode
    val nulls = Seq((1L, Option.empty[String])).toDF("n", "s")
    for (q <- Seq("DOUBLE_QUOTE", "OPTIMISTIC", "BACK_SLASH"))
      assert(Processors.toDelimited(nulls, ",", q).collect()(0).getString(0) == "1,null")
    val e = intercept[IllegalArgumentException](Processors.toDelimited(df, ",", "WAT"))
    assert(e.getMessage.contains("unknown quote mode"))
  }

  test("avro round-trip preserves nullable, array, binary, and float columns") {
    TempDirs.withTempDirs { tmp =>
      import graft.sources.AvroIo
      val df = Seq(
        (1L, Some("a"), Seq(1.5f, -2.5f), Array[Byte](1, 2, 3), Some(0.25)),
        (2L, None, Seq.empty[Float], Array.empty[Byte], None),
      ).toDF("id", "s", "fs", "bin", "d")
      val dir = tmp("avro_rt")
      AvroIo.writeAvro(df, dir)
      val back = AvroIo.readAvro(spark, dir)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)))
      val got = back.collect().sortBy(_.getLong(0)).map { r =>
        (r.getLong(0), Option(r.getString(1)), r.getSeq[Float](2),
          r.getAs[Array[Byte]](3).toSeq, if (r.isNullAt(4)) None else Some(r.getDouble(4)))
      }.toSeq
      assert(got == Seq(
        (1L, Some("a"), Seq(1.5f, -2.5f), Seq[Byte](1, 2, 3), Some(0.25)),
        (2L, None, Seq.empty[Float], Seq.empty[Byte], None)))
      // unsupported nested type rejects with a named error
      val nested = Seq((1L, (2L, "x"))).toDF("id", "st")
      val e = intercept[IllegalArgumentException](AvroIo.writeAvro(nested, dir))
      assert(e.getMessage.contains("unsupported"))
    }
  }

  test("avro rewrite clears stale parts; null array elements and bad names handled") {
    TempDirs.withTempDirs { tmp =>
      import graft.sources.AvroIo
      val dir = tmp("avro_rw")
      // 4 partitions, then rewrite with 1: readAvro must see ONLY the new data
      AvroIo.writeAvro(
        spark.range(100).selectExpr("id", "id * 2 AS v").repartition(4), dir)
      AvroIo.writeAvro(
        spark.range(10).selectExpr("id", "id * 3 AS v").repartition(1), dir)
      val back = AvroIo.readAvro(spark, dir)
      assert(back.count() == 10L, "stale part files survived the rewrite")
      assert(back.selectExpr("max(v)").collect()(0).getLong(0) == 27L)
      // a legal Spark array with a null element round-trips (union items)
      val dir2 = tmp("avro_nullelem")
      val withNulls = Seq((1L, Seq[java.lang.Double](1.0, null, 3.0)))
        .toDF("id", "xs")
      AvroIo.writeAvro(withNulls, dir2)
      val b2 = AvroIo.readAvro(spark, dir2).collect()(0)
      assert(b2.getSeq[Any](1) == Seq(1.0, null, 3.0))
      // hyphenated column names reject at schema build with the name cited
      val bad = spark.range(1).selectExpr("id AS `device-id`")
      val e2 = intercept[IllegalArgumentException](AvroIo.writeAvro(bad, dir2))
      assert(e2.getMessage.contains("device-id"))
    }
  }

  test("shard sink append merges the manifest across generations") {
    TempDirs.withTempDirs { tmp =>
      val dir = tmp("shard_append")
      spark.range(10).selectExpr("id", "cast(id as string) AS text").repartition(2)
        .write.format("graft-shards").mode("append").option("path", dir).save()
      spark.range(10, 15).selectExpr("id", "cast(id as string) AS text").repartition(1)
        .write.format("graft-shards").mode("append").option("path", dir).save()
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
      val names = "\"shard\":\"([^\"]+)\"".r.findAllMatchIn(manifest).map(_.group(1)).toSeq
      val rows = "\"rows\":(\\d+)".r.findAllMatchIn(manifest).map(_.group(1).toLong).sum
      assert(names.size == 3 && names.distinct.size == 3, s"manifest: $names")
      assert(rows == 15L)
      val back = spark.read.schema("id LONG, text STRING")
        .json(names.map(n => s"$dir/$n"): _*)
      assert(back.count() == 15L)
    }
  }

  test("schema registry compiles named schemas (DataGenerator analog)") {
    val reg = new SchemaRegistry
    reg.register("pings", """[{"name": "ip", "class": "ipv4"}]""")
    assert(reg.dataFrame(spark, "pings", 25).count() == 25)
    assertThrows[NoSuchElementException](reg.dataFrame(spark, "nope", 1))
  }

  test("xml + template sinks render per-row strings") {
    val df = Synth.dataFrame(spark, """[{"name": "b", "class": "browser"}]""", 5)
    val xml = Processors.toXml(df).collect().map(_.getString(0))
    xml.foreach(x => assert(x.matches("^<record><b>.*</b></record>$")))
    val t = Processors.renderTemplate(df, "ua=${b}!").collect().map(_.getString(0))
    t.foreach(x => assert(x.startsWith("ua=") && x.endsWith("!")))
  }

  test("streaming dedup drops repeated fingerprints within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = input.toDF()
      .select(col("_1").cast("timestamp").as("event_time"), col("_2").as("text"))
    val out = graft.streaming.SynthStream.dedupStream(events, "text")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData((1000L, "hello world"), (1001L, "HELLO  world"), (1002L, "other"))
      q.processAllAvailable()
      input.addData((1003L, "hello world"), (1004L, "third"))
      q.processAllAvailable()
      val texts = spark.sql("select text from dedup_stream").collect()
        .map(_.getString(0)).sorted
      // case/whitespace variants and the cross-batch repeat all collapse
      assert(texts.length == 3, texts.mkString("|"))
    } finally q.stop()
  }

  test("streaming dedup state is evicted past the watermark (re-emits after horizon)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = input.toDF()
      .select(col("_1").cast("timestamp").as("event_time"), col("_2").as("text"))
    val out = graft.streaming.SynthStream.dedupStream(events, "text", watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_evict")
      .outputMode("append").start()
    try {
      input.addData((1000L, "hello world"), (1002L, "other"))
      q.processAllAvailable()
      // within the horizon: duplicate dropped; push the watermark far ahead
      input.addData((1003L, "hello world"), (10000L, "advance"))
      q.processAllAvailable()
      // watermark is now ~9400s > the fingerprint's 1600s expiry, so its
      // state row is gone — the same text must be emitted AGAIN (this is
      // what bounds state: dropDuplicates("__fp") would keep it forever
      // and emit only once)
      input.addData((10001L, "hello world"))
      q.processAllAvailable()
      val n = spark.sql("select count(*) from dedup_evict where text = 'hello world'")
        .collect()(0).getLong(0)
      assert(n == 2, s"expected re-emit after watermark eviction, got $n occurrence(s)")
    } finally q.stop()
  }

  test("streaming synth source generates windowed-aggregatable records") {
    import graft.streaming.SynthStream
    val stream = SynthStream.stream(spark,
      """[{"name": "browser", "class": "browser"}]""", rowsPerSecond = 100)
    assert(stream.isStreaming)
    val counts = SynthStream.windowedCounts(stream, "browser")
    val q = counts.writeStream.format("memory").queryName("synth_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      Thread.sleep(1500)
      q.processAllAvailable()
      val got = spark.sql("select sum(n) from synth_counts").collect()(0)
      assert(!got.isNullAt(0) && got.getLong(0) > 0)
    } finally q.stop()
  }
}
