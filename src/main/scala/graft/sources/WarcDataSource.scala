package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability,
  TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{BinaryType, BooleanType, IntegerType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for WARC crawl archives:
  *
  * {{{
  * spark.read.format("warc").load("/corpus/segment-00")  // dir or file
  * }}}
  *
  * Schema (fixed — WARC records are self-describing):
  * (record_id, warc_type, target_uri, warc_date, content_type,
  * http_status, http_content_type, payload, payload_len). For
  * `application/http;msgtype=response` blocks `payload` is the HTTP
  * BODY — the bytes the q146-q149 crawl stack consumes directly;
  * other blocks arrive raw.
  *
  * Scale shape: one input partition per FILE. A gzip member stream is
  * not splittable without a CDX offset index, and web-archive corpora
  * are therefore written as many ~1 GB segment files (the Common
  * Crawl layout: ~72k files per monthly crawl) — file granularity IS
  * the parallelism unit, exactly like Spark's own gzipped-text reads.
  * Within a task the parse is single-pass streaming with bounded
  * memory (one record at a time).
  *
  * Pushdown: required-column pruning skips payload materialization for
  * non-HTTP blocks (`ReadSchema` narrows like any file source), and a
  * `warc_type = '...'` equality filter is consumed at the record
  * framer (skipped records cost header-parse + block-skip, no row).
  */
final class WarcDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.Schema
  // write path: the incoming DataFrame's schema arrives via getTable
  // (columns are looked up by NAME in the sink, so projection order is
  // free); read path: inferSchema above supplies the fixed schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null,
      "warc source requires a path: spark.read.format(\"warc\").load(dir)")
    val target = Option(opts.get("cdxTargetBytes")).map(_.toLong)
      .getOrElse(WarcDataSource.TargetSplitBytes)
    new WarcTable(path, target, schema)
  }
}

object WarcDataSource {
  /** CDX split target: ~64 MB of compressed bytes per task — small
    * enough to parallelize a 1 GB segment 16-way, large enough that
    * per-task open/seek cost stays noise.
    */
  val TargetSplitBytes: Long = 64L * 1024 * 1024

  val Layout: Archive.Layout = Archive.Layout("part", "segment", "records",
    Seq(".warc", ".warc.gz"), ".cdx", memberGzip = true)

  /** Ascending record offsets from `<file>.cdx` (graft's minimal CDX:
    * `offset<TAB>length` per record; comment lines ignored). None when
    * no sidecar exists.
    */
  def cdxOffsets(file: String): Option[Array[Long]] = Archive.offsets(file, Layout)

  /** WARC segment files under `path` (or `path` itself), name-sorted. */
  def listFiles(path: String): Seq[String] = Archive.listFiles(path, Layout)

  val Schema: StructType = StructType(Seq(
    StructField("record_id", StringType),
    StructField("warc_type", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("http_status", IntegerType),
    StructField("http_content_type", StringType),
    StructField("payload", BinaryType),
    StructField("payload_len", LongType),
    StructField("payload_digest", StringType), // WARC-Payload-Digest
    StructField("refers_to", StringType),      // WARC-Refers-To (revisit)
    StructField("warc_profile", StringType),   // WARC-Profile (revisit)
    StructField("payload_decoded", BooleanType), // TE/CE honesty flag
    StructField("truncated", StringType))) // WARC-Truncated reason
}

final class WarcTable(path: String, targetBytes: Long,
    tableSchema: StructType = WarcDataSource.Schema)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"warc($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val fpb = Option(options.get("filesPerBatch")).map(_.toInt).getOrElse(1)
    val manifest = Option(options.get("manifestOnly")).exists(_.toBoolean)
    new WarcScanBuilder(path, targetBytes, fpb, manifest)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val gz = Option(info.options.get("compression")).forall(_ != "none")
    new ArchiveWriteBuilder(path, WarcDataSource.Layout,
      WarcWriter.at(info.schema().json, gz))
  }
}

final class WarcScanBuilder(path: String, targetBytes: Long,
    filesPerBatch: Int = 1, manifestOnly: Boolean = false) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = WarcDataSource.Schema
  private var typeFilter: Option[String] = None
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("warc_type", v: String) => typeFilter = Some(v); true
      case _ => false
    }
    pushed = accepted
    rest // Spark re-evaluates the rest above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new WarcScan(path, required, typeFilter, targetBytes, filesPerBatch,
      manifestOnly)
}

final class WarcScan(path: String, required: StructType,
    typeFilter: Option[String], targetBytes: Long,
    filesPerBatch: Int = 1, manifestOnly: Boolean = false) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FileListMicroBatchStream(path, WarcDataSource.Layout, targetBytes,
      filesPerBatch, manifestOnly, checkpointLocation, pinOrder = false,
      () => new WarcReaderFactory(required, typeFilter, ArchiveFs.carrier()))
  override def description(): String =
    s"WarcScan($path, cols=${required.fieldNames.mkString(",")}" +
      typeFilter.map(t => s", warc_type=$t").getOrElse("") + ")"

  /** A gzip member stream alone is unsplittable, but the web-archive
    * convention pairs every .warc.gz with a CDX index whose record
    * offsets ARE the seam: each record is its own member, so any
    * offset from the index is a valid read start. When `<file>.cdx`
    * exists (graft's minimal form: one `offset<TAB>length` line per
    * record, ascending), the file splits into ~[[WarcDataSource.TargetSplitBytes]]
    * ranges cut at record boundaries — intra-FILE parallelism on top
    * of the per-file kind, the same recipe web-scale WARC readers use.
    * No sidecar → one partition for the whole file.
    */
  override def planInputPartitions(): Array[InputPartition] =
    Archive.files(path, WarcDataSource.Layout, manifestOnly)
      .flatMap(Archive.splits(_, WarcDataSource.Layout, targetBytes)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, typeFilter, ArchiveFs.carrier())
}

final class WarcReaderFactory(required: StructType, typeFilter: Option[String],
    confSer: SerializableHadoopConf) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // ship the driver session's Hadoop conf (s3a credentials etc.) to
    // executors that have no SparkSession of their own
    confSer.install()
    val p = partition.asInstanceOf[ArchiveSplit]
    new PartitionReader[InternalRow] {
      // CDX cuts sit on record/member boundaries: the range is a
      // self-contained WARC stream
      private val in = Archive.open(p)
      private val wantPayload =
        required.fieldNames.contains("payload")
      private val base = WarcIo.records(in, p.file.endsWith(".gz"), wantPayload)
      private val it = typeFilter match {
        case Some(t) => base.filter(_.warcType == t)
        case None    => base
      }
      private val fieldIdx = required.fieldNames
      private var current: InternalRow = _

      override def next(): Boolean =
        if (it.hasNext) {
          val r = it.next()
          val values = new Array[Any](fieldIdx.length)
          var k = 0
          while (k < fieldIdx.length) {
            values(k) = fieldIdx(k) match {
              case "record_id"    => utf8(r.recordId)
              case "warc_type"    => utf8(r.warcType)
              case "target_uri"   => utf8(r.targetUri)
              case "warc_date"    => utf8(r.warcDate)
              case "content_type" => utf8(r.contentType)
              case "http_status"  =>
                if (r.httpStatus == null) null else r.httpStatus.intValue()
              case "http_content_type" => utf8(r.httpContentType)
              case "payload"           => r.payload
              case "payload_len"       => r.payloadLen.toLong
              case "payload_digest"    => utf8(r.payloadDigest)
              case "refers_to"         => utf8(r.refersTo)
              case "warc_profile"      => utf8(r.warcProfile)
              case "payload_decoded"   => r.payloadDecoded
              case "truncated"         => utf8(r.truncated)
            }
            k += 1
          }
          current = InternalRow.fromSeq(values.toSeq)
          true
        } else false

      private def utf8(s: String): UTF8String =
        if (s == null) null else UTF8String.fromString(s)

      override def get(): InternalRow = current
      override def close(): Unit = in.close()
    }
  }
}
