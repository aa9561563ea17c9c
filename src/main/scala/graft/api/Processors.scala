package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.runtime.Rng
import graft.synth.{Compiler, GenContext, Synth}

/** The NiFi processor layer (§2.1.4) re-expressed as DataFrame → DataFrame
  * transformers. NiFi's multi-relationship outputs become a case class of
  * DataFrames (Spark plans are single-output).
  */
object Processors {

  /** DataCorrelator (processors/DataCorrelator.java:57-371): for each
    * input row, sample 1..maxFanOut records from `schemaJson` and embed
    * each under `schemaKey`. Outputs: enriched rows (`success`), the bare
    * sampled records (`correlation`), and the input passthrough
    * (`original`).
    *
    * Scale shape: pure per-row fan-out inside mapPartitions — no shuffle,
    * no driver round-trip, no per-record schema inference (the
    * reference re-infers schemas per record, DataCorrelator.java:305-311).
    */
  final case class Correlated(success: DataFrame, correlation: DataFrame, original: DataFrame)

  def correlate(input: DataFrame, schemaJson: String, schemaKey: String,
      maxFanOut: Int = 5, seed: Long = 42L): Correlated = {
    val spark = input.sparkSession
    val entries = Compiler.compileSchema(schemaJson)
    val embedType = Compiler.structType(entries)
    val outSchema = StructType(input.schema.fields :+ StructField(schemaKey, embedType))
    val inputSchema = input.schema

    val enriched = {
      val rdd = input.rdd.mapPartitionsWithIndex { (pid, rows) =>
        val es = Compiler.compileSchema(schemaJson)
        val ctx = new GenContext(Rng.forPartition(seed, pid), 0L)
        var i = 0L
        rows.flatMap { row =>
          i += 1
          val k = 1 + ctx.rng.nextInt(maxFanOut)
          (0 until k).iterator.flatMap { _ =>
            // one embedded record per draw; a generator schema yielding an
            // empty cross product contributes nothing instead of crashing
            val it = Synth.emitRows(es, ctx, i)
            if (it.hasNext) Some(Row.fromSeq(row.toSeq :+ it.next())) else None
          }
        }
      }
      spark.createDataFrame(rdd, outSchema)
    }
    val correlation = enriched.select(col(schemaKey + ".*"))
    Correlated(enriched, correlation, spark.createDataFrame(input.rdd, inputSchema))
  }

  /** Transactions (processors/synthesizers/finance/Transactions.java
    * :158-281): a terminal dimension is generated once and broadcast;
    * each input row fans out into 0..maxTx transactions, each merged
    * with a deterministic-hash-picked terminal, then rolled back up into
    * a `transactions` array per input row.
    */
  def transactions(input: DataFrame, keyCol: String, nTerminals: Int = 100,
      maxTx: Int = 5, valid: Boolean = true, seed: Long = 42L): DataFrame = {
    val spark = input.sparkSession
    val terminalSchema = """[
      {"name": "terminal_id", "class": "uuid"},
      {"class": "flatten", "prefix": "",
       "value": {"class": "zip", "onlyContinental": true,
                 "fields": "zip, city, state"}}
    ]"""
    // contiguous 0..n-1 index via row_number: monotonically_increasing_id
    // is partition-offset-based (partitionId*2^33+offset), so a pmod join
    // key would miss every terminal outside partition 0
    val terminals = Synth.dataFrame(spark, terminalSchema, nTerminals, seed)
      .withColumn("terminal_idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("terminal_id")).cast("long") - 1)
    val amountCap = if (valid) 200 else 50000

    // n_tx ∈ [0, maxTx]; explode_outer keeps 0-transaction rows (a plain
    // explode would drop them, and sequence(1, 0) is DESCENDING in Spark —
    // it must never be built for n_tx = 0).
    val fanned = input
      .withColumn("n_tx", pmod(xxhash64(col(keyCol), lit(seed)), lit(maxTx + 1L)))
      .withColumn("tx_i",
        explode_outer(when(col("n_tx") > 0, sequence(lit(1L), col("n_tx")))))
      .withColumn("terminal_idx",
        pmod(xxhash64(col(keyCol), col("tx_i"), lit(seed)), lit(nTerminals.toLong)))
      .withColumn("amount_cents",
        pmod(xxhash64(col(keyCol), col("tx_i"), lit("amt"), lit(seed)),
          lit(amountCap * 100L)) + 1)
      .join(broadcast(terminals), Seq("terminal_idx"), "left")

    // sort_array: collect_list order follows shuffle-fetch arrival, which
    // would break run-to-run reproducibility despite seeded values
    fanned
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(when(col("tx_i").isNotNull, struct(
        col("tx_i").as("seq"), col("amount_cents"),
        col("terminal_id"), col("zip"), col("city"), col("state")))))
        .as("transactions"))
      .join(input, keyCol)
  }

  /** RemoveRecordPath (processors/RemoveRecordPath.java:184-189):
    * negative projection. Top-level names drop the column; `a.b` paths
    * drop nested struct fields via Column.dropFields.
    */
  def removeFields(df: DataFrame, paths: Seq[String]): DataFrame = {
    val (nested, top) = paths.partition(_.contains("."))
    val afterTop = df.drop(top: _*)
    nested.foldLeft(afterTop) { (d, p) =>
      val root = p.takeWhile(_ != '.')
      val rest = p.dropWhile(_ != '.').drop(1)
      d.withColumn(root, col(root).dropFields(rest))
    }
  }

  /** JsonWriter analog (data/JsonWriter.java:33-49). */
  def toJsonLines(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("json"))

  /** CLI sink parity (Synth.java:302-372): JSON-lines / CSV / TSV / XML /
    * template rendering.
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
  /** Avro container files (record-writer breadth parity — see
    * [[graft.sources.AvroIo]]); returns nothing, the schema travels in
    * the file headers.
    */
  def writeAvro(df: DataFrame, path: String): Unit = {
    graft.sources.AvroIo.writeAvro(df, path); ()
  }
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").option("sep", "\t").csv(path)

  /** The reference CLI's three delimited quoting conventions
    * (Synth.java:355-373 printDelimited, Quote enum:478-480, default
    * DOUBLE_QUOTE), rendered as one text column so the output bytes
    * match the reference's PrintStream line format — Spark's CSV writer
    * has its own quoting engine and cannot produce any of these:
    *
    *   - `DOUBLE_QUOTE`: each value printed as its JSON representation
    *     (strings double-quoted and JSON-escaped, numbers/booleans/null
    *     bare) — `fields.get(name)` in the reference;
    *   - `OPTIMISTIC`: raw text, no quoting at all (`asText()`);
    *   - `BACK_SLASH`: raw text with comma, tab, whitespace and
    *     backslash each escaped by a backslash.
    *
    * No header row (the reference's printDelimited emits values only).
    * One codegen'd [[graft.expr.DelimitedLine]] renders the whole line:
    * DOUBLE_QUOTE writes string, integral, boolean and floating-point
    * cells directly, byte-identical to Jackson; every other type keeps
    * the `to_json(array(c))` text with its brackets stripped. OPTIMISTIC
    * and BACK_SLASH render `cast(c as string)`. Scan-side and
    * embarrassingly parallel.
    */
  def toDelimited(df: DataFrame, sep: String, quote: String): DataFrame = {
    import graft.expr.DelimitedLine
    import org.apache.spark.sql.graftbridge.PlanBridge
    val cells: Seq[(Column, DelimitedLine.Encoding)] = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      quote match {
        case "DOUBLE_QUOTE" if DelimitedLine.rendersJson(f.dataType) => (c, DelimitedLine.Json)
        case "DOUBLE_QUOTE" => (to_json(array(c)), DelimitedLine.JsonArrayItem)
        case "OPTIMISTIC" => (c.cast("string"), DelimitedLine.Text)
        case "BACK_SLASH" => (c.cast("string"), DelimitedLine.BackSlash)
        case other => throw new IllegalArgumentException(
          s"unknown quote mode '$other' (DOUBLE_QUOTE|BACK_SLASH|OPTIMISTIC)")
      }
    }
    val line = DelimitedLine(cells.map(c => PlanBridge.expression(c._1)), sep, cells.map(_._2))
    df.select(PlanBridge.column(line).as("line"))
  }

  /** XML rendering as an expression (no spark-xml in the jar set): one
    * `<record>` element per row, fields as child elements.
    */
  def toXml(df: DataFrame, rowTag: String = "record"): DataFrame = {
    // escape markup and coalesce nulls to empty elements — a bare concat
    // would null the whole row on one null field and emit invalid XML for
    // values containing & < >
    def esc(c: Column): Column =
      regexp_replace(regexp_replace(regexp_replace(c.cast("string"),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val parts: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
      Seq(lit(s"<${f.name}>"), coalesce(esc(col(f.name)), lit("")), lit(s"</${f.name}>"))
    }
    df.select(concat((lit(s"<$rowTag>") +: parts :+ lit(s"</$rowTag>")): _*).as("xml"))
  }

  /** FreeMarker-style template output (Synth.java:108-116): `${field}`
    * placeholders substituted per row.
    */
  def renderTemplate(df: DataFrame, template: String): DataFrame = {
    // split with limit -1: Regex.split drops trailing empty tokens, which
    // would silently swallow placeholders at the end of the template
    val pieces = java.util.regex.Pattern.compile("\\$\\{[^}]+\\}")
      .split(template, -1).toSeq
    val vars = "\\$\\{([^}]+)\\}".r.findAllMatchIn(template).map(_.group(1)).toSeq
    val cols: Seq[Column] = pieces.zipWithIndex.flatMap { case (p, i) =>
      if (i < vars.length) Seq(lit(p), col(vars(i)).cast("string")) else Seq(lit(p))
    }
    df.select(concat(cols: _*).as("rendered"))
  }
}

/** Named schema registry — the DataGenerator controller service analog
  * (service/.../DataGenerator.java:31-117): names map to inline schema
  * JSON or a schema file path; lookups compile lazily and cache.
  */
final class SchemaRegistry extends Serializable {
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, String]
  def register(name: String, schemaJson: String): Unit = schemas(name) = schemaJson
  def registerFile(name: String, path: String): Unit =
    schemas(name) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
  def schema(name: String): Option[String] = schemas.get(name)
  def dataFrame(spark: SparkSession, name: String, n: Long, seed: Long = 42L): DataFrame =
    Synth.dataFrame(spark, schemas.getOrElse(name,
      throw new NoSuchElementException(s"no schema '$name'")), n, seed)
}
