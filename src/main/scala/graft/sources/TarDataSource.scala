package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability,
  TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for WebDataset tar shards:
  *
  * {{{
  * spark.read.format("wds").load("/corpus/shards")  // dir or one .tar
  * }}}
  *
  * Schema: (shard, name, key, ext, size, payload) — one row per
  * regular-file member, with the WebDataset sample split (key =
  * basename before the first dot, ext = the rest) precomputed so the
  * canonical `groupBy(shard, key)` sample assembly is a plain
  * aggregation. This replaces the whole-shard-as-one-binary-row seam
  * (r11 What's wrong #3): members stream out of a bounded
  * [[TarIo]] walk one at a time, so task memory is one member — a
  * 1 GB shard costs a 1 GB READ, not a 1 GB row plus copies, and the
  * 2 GB row ceiling is out of the picture.
  *
  * Scale shape: shards written by the `wds` SINK carry a sample-
  * offset index sidecar (`<shard>.idx` — the CDX move applied to
  * tar), so a shard splits into ranged partitions cut at SAMPLE
  * boundaries (~`splitTargetBytes` each): intra-shard parallelism,
  * and `groupBy(shard, key)` sample assembly stays intra-partition.
  * Foreign shards without a sidecar read as one partition per FILE
  * (tar alone has no index; the WebDataset convention ships many
  * ~100 MB-1 GB shards precisely so file granularity works as the
  * parallelism unit — same contract as gzip WARC without CDX).
  * `.tar.gz` shards stream through a gzip wrapper and never split.
  *
  * Pushdown: required-column pruning skips payload materialization
  * (members are SKIPPED by size, never allocated); `ext = '...'` /
  * `ext IN (...)` filters are consumed at the framer against the
  * EFFECTIVE member name (pax/GNU long names included), so a
  * text-only pass over an image-heavy corpus never allocates the
  * image bytes.
  *
  * Streaming: MICRO_BATCH via [[FileListMicroBatchStream]] — shards
  * land in a directory (or the sink's manifest) and are ingested
  * incrementally, at most `filesPerBatch` per trigger.
  */
final class TarDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "wds"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TarDataSource.Schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null,
      "wds source requires a path: spark.read.format(\"wds\").load(dir)")
    new TarTable(path, schema)
  }
}

object TarDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("shard", StringType),
    StructField("name", StringType),
    StructField("key", StringType),
    StructField("ext", StringType),
    StructField("size", LongType),
    StructField("payload", BinaryType)))

  /** WebDataset sample split of a member name — same convention as
    * [[graft.ops.Tar.sampleKey]]/`sampleExt` (basename, first dot).
    */
  def splitKeyExt(name: String): (String, String) = {
    val base = name.substring(name.lastIndexOf('/') + 1)
    val dot = base.indexOf('.')
    if (dot == 0) ("", base.substring(1))
    else if (dot < 0) (base, "")
    else (base.substring(0, dot), base.substring(dot + 1))
  }

  val Layout: Archive.Layout = Archive.Layout("part", "shard", "samples",
    Seq(".tar", ".tar.gz"), ".idx")

  /** Shards named by the manifest, in manifest = append order. */
  def manifestFiles(path: String): Seq[String] = Archive.manifestFiles(path, Layout)

  /** Default ranged-split target — same rationale as the WARC CDX cut. */
  val TargetSplitBytes: Long = 64L * 1024 * 1024

  /** WebDataset's conventional shard size band is 100 MB-1 GB; the
    * default sits low enough that local tests exercise rolling.
    */
  val DefaultTargetShardBytes: Long = 256L * 1024 * 1024

  /** Ascending SAMPLE start offsets from `<shard>.idx` (the sink's
    * sidecar: `offset<TAB>key` per sample, comments ignored). None
    * when no sidecar exists — foreign shards read whole-file.
    */
  def idxOffsets(file: String): Option[Array[Long]] = Archive.offsets(file, Layout)
}

final class TarTable(path: String, tableSchema: StructType = TarDataSource.Schema)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"wds($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val fpb = Option(options.get("filesPerBatch")).map(_.toInt).getOrElse(1)
    val manifest = Option(options.get("manifestOnly")).exists(_.toBoolean)
    val target = Option(options.get("splitTargetBytes")).map(_.toLong)
      .getOrElse(TarDataSource.TargetSplitBytes)
    // explicit shard subset (names relative to path): the selective-
    // compaction read path — scan ONLY the fragmented shards, never
    // the whole corpus
    val shards = Option(options.get("shards"))
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    new TarScanBuilder(path, fpb, manifest, target, shards)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val target = Option(info.options.get("targetShardBytes")).map(_.toLong)
      .getOrElse(TarDataSource.DefaultTargetShardBytes)
    // selective compaction: an append whose commit atomically swaps the
    // named shards out of the manifest (and off disk) as the new
    // generation's entries swap in — see Archive.Replace
    val replace = Option(info.options.get("replaceShards"))
      .map(_.split(",").toSet.filter(_.nonEmpty)).getOrElse(Set.empty[String])
    new ArchiveWriteBuilder(path, TarDataSource.Layout,
      WdsWriter.at(info.schema().json, target), replace, info.queryId(), Some("key"))
  }
}

final class TarScanBuilder(path: String, filesPerBatch: Int, manifestOnly: Boolean,
    targetBytes: Long = TarDataSource.TargetSplitBytes,
    shards: Option[Seq[String]] = None) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = TarDataSource.Schema
  private var extFilter: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // pushed filters arrive as a CONJUNCTION, so a second ext predicate
  // narrows the accepted set by INTERSECTION (ext = 'a' AND ext IN
  // ('a','b') keeps {'a'}); a union here would widen the scan to rows
  // Spark never re-checks, i.e. wrong results, not a missed pushdown
  private def narrow(vs: Set[String]): Unit =
    extFilter = Some(extFilter.fold(vs)(_.intersect(vs)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("ext", v: String) => narrow(Set(v)); true
      case In("ext", vs) if vs.forall(_.isInstanceOf[String]) =>
        narrow(vs.map(_.asInstanceOf[String]).toSet); true
      case _ => false
    }
    pushed = accepted
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new TarScan(path, required, extFilter, filesPerBatch, manifestOnly,
      targetBytes, shards)
}

final class TarScan(path: String, required: StructType,
    extFilter: Option[Set[String]], filesPerBatch: Int, manifestOnly: Boolean,
    targetBytes: Long = TarDataSource.TargetSplitBytes,
    shards: Option[Seq[String]] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"TarScan($path, cols=${required.fieldNames.mkString(",")}" +
      extFilter.map(e => s", ext in {${e.mkString(",")}}").getOrElse("") + ")"

  override def planInputPartitions(): Array[InputPartition] =
    (shards match {
      case Some(names) => names.map(n => ArchiveFs.child(path, n))
      case None => Archive.files(path, TarDataSource.Layout, manifestOnly)
    }).flatMap(Archive.splits(_, TarDataSource.Layout, targetBytes)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new TarReaderFactory(required, extFilter, ArchiveFs.carrier())

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FileListMicroBatchStream(path, TarDataSource.Layout, targetBytes,
      filesPerBatch, manifestOnly, checkpointLocation, pinOrder = true,
      () => new TarReaderFactory(required, extFilter, ArchiveFs.carrier()))
}

final class TarReaderFactory(required: StructType, extFilter: Option[Set[String]],
    confSer: SerializableHadoopConf) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // ship the driver session's Hadoop conf (s3a credentials etc.) to
    // executors that have no SparkSession of their own
    confSer.install()
    val p = partition.asInstanceOf[ArchiveSplit]
    val file = p.file
    new PartitionReader[InternalRow] {
      // a ranged split opens at a sample boundary and ends at the next
      // split's first header, where the framer's clean-EOF rule stops
      private val bounded = Archive.open(p)
      private val in: java.io.InputStream =
        if (file.endsWith(".gz"))
          new java.util.zip.GZIPInputStream(bounded, 1 << 16)
        else new java.io.BufferedInputStream(bounded, 1 << 16)
      private val wantPayload = required.fieldNames.contains("payload")
      private val keep: String => Boolean = extFilter match {
        case Some(exts) => n => exts.contains(TarDataSource.splitKeyExt(n)._2)
        case None       => _ => true
      }
      private val it = TarIo.members(in, wantPayload, keep)
      private val fields = required.fieldNames
      private var current: InternalRow = _

      override def next(): Boolean =
        if (it.hasNext) {
          val m = it.next()
          val (key, ext) = TarDataSource.splitKeyExt(m.name)
          val values = new Array[Any](fields.length)
          var k = 0
          while (k < fields.length) {
            values(k) = fields(k) match {
              case "shard"   => UTF8String.fromString(file)
              case "name"    => UTF8String.fromString(m.name)
              case "key"     => UTF8String.fromString(key)
              case "ext"     => UTF8String.fromString(ext)
              case "size"    => m.size
              case "payload" => m.payload
            }
            k += 1
          }
          current = InternalRow.fromSeq(values.toSeq)
          true
        } else false

      override def get(): InternalRow = current
      override def close(): Unit = in.close()
    }
  }
}
