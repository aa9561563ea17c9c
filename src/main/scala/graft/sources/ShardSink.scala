package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability,
  TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path: an exactly-once sharded JSONL sink — the
  * exchange format LLM training corpora actually ship in. Completes
  * the repo's connector ladder (the `graft` V2 READ source, the
  * `synth()` table function, injected expressions/rules/strategies)
  * with the write half of the V2 API.
  *
  * Layout and commit protocol are [[Archive]]'s: task temps under
  * `_tmp/<gen>/`, driver-published `shard-<gen>-NNNNN.jsonl` files and
  * a `{"shard":..,"rows":..}` manifest; `mode("overwrite")` replaces the
  * previous shard set. Rows are serialized with Spark's own
  * JacksonGenerator, so output matches `to_json` semantics exactly.
  * Usage:
  * {{{ df.write.format("graft-shards").option("path", dir).save() }}}
  */
final class ShardSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-shards"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(Nil) // write-only: schema comes from the written DataFrame
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ShardTable(schema, new CaseInsensitiveStringMap(properties))
}

object ShardSink {
  val Layout: Archive.Layout = Archive.Layout("shard", "shard", "rows", Seq(".jsonl"))
}

final class ShardTable(schema: StructType, opts: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  override def name(): String = s"graft-shards(${opts.get("path")})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val path = Option(opts.get("path")).orElse(Option(info.options.get("path")))
      .getOrElse(throw new IllegalArgumentException(
        "graft-shards sink requires a 'path' option"))
    new ArchiveWriteBuilder(path, ShardSink.Layout, ShardWriter.at(info.schema().json))
  }
}

/** One temp JSONL part per task attempt. */
final class ShardWriter(tmpDir: String, schemaJson: String)
    extends ArchiveWriter(tmpDir, ShardSink.Layout, ".jsonl") {
  private val st = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
    .asInstanceOf[StructType]
  openPart()
  private val gen = new org.apache.spark.sql.catalyst.json.JacksonGenerator(
    st, new java.io.OutputStreamWriter(out, "UTF-8"),
    new org.apache.spark.sql.catalyst.json.JSONOptions(Map.empty[String, String], "UTC"))

  override def write(record: InternalRow): Unit = {
    gen.write(record)
    gen.writeLineEnding()
    units += 1
  }

  override protected def finish(): Unit = { gen.close(); closePart() }
}

object ShardWriter {
  def at(schemaJson: String): String => DataWriter[InternalRow] =
    dir => new ShardWriter(dir, schemaJson)
}
