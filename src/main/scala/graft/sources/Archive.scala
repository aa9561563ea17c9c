package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory,
  StreamingWrite}
import org.apache.spark.sql.functions._

/** The one on-disk layout under the archive connectors (`graft-shards`
  * JSONL, `warc` segments, `wds` tar shards). Each connector brings
  * only its [[Archive.Layout]] constants and its format code (JSONL
  * rows, WARC record framing, tar members); everything below is shared.
  *
  * On disk, a dataset dir holds data files `<prefix>-<gen>-NNNNN<ext>`,
  * each with its sidecar `<file><sidecar>` when the layout has one (the
  * `.cdx` record offsets of a WARC segment, the `.idx` sample offsets of
  * a tar shard), plus the manifest: numbered `_MANIFEST-<n>.json`
  * generations and the legacy `_MANIFEST.json` mirror
  * ([[ArchiveFs.publishManifest]]), a JSON array of
  * `{"<nameKey>":"<file>","<countKey>":<n>}` entries in append order.
  *
  * Commit protocol (exactly once):
  *   - a write mints a generation `gen` on the driver (8 hex chars; a
  *     streaming epoch's is `<queryId>-e<epoch>`, the same across driver
  *     restarts). Each task attempt writes uuid-named parts and their
  *     sidecars under `_tmp/<gen>/` and reports (temp name, count) in
  *     its [[ArchiveCommit]]; retried or speculative attempts use other
  *     uuids, and only the committed attempt's message reaches the
  *     driver;
  *   - the driver's commit takes `_MANIFEST.lock` ([[ArchiveFs.withLock]])
  *     and, holding it, renames the committed parts with a count > 0 to
  *     their final names, publishes the new manifest and deletes what
  *     the new manifest no longer names. Doing all three under the one
  *     lock keeps concurrent writers to one path from losing each
  *     other's entries, and keeps a truncating writer's sweep from
  *     deleting an appender's files before the appender publishes them;
  *   - `_tmp/<gen>` is deleted after the commit and on abort; `_tmp`
  *     itself only once it is empty, so a concurrent job's temps
  *     survive.
  *
  * Modes: APPEND keeps the previous entries; TRUNCATE
  * (`mode("overwrite")`) drops them and sweeps every `<prefix>-*` data
  * file (and sidecar) the new manifest does not name; REPLACE (the
  * selective compaction of [[WdsCompact]]) drops the named entries in
  * the same publish that adds their replacement, then deletes their
  * files; EPOCH (streaming) is idempotent: an epoch whose generation the
  * manifest already names (a restarted driver replaying its last epoch)
  * only cleans its temps, and final-name files of its UNPUBLISHED
  * generation — debris of a driver killed between rename and publish;
  * the generation name is (query, epoch)-deterministic, so they can only
  * be its own — are deleted before the renames. An empty epoch
  * publishes nothing.
  *
  * Crash contract: before the publish, the previous generation stays
  * complete and readable (unpublished final-name files are invisible to
  * manifest-order readers); after it, the new one is. A crash between
  * the publish and the sweep leaves unreferenced files, never a torn or
  * doubled manifest. Readers that list `*<ext>` instead of following the
  * manifest may see a complete subset of a crashed commit — the Hadoop
  * v2 file-committer contract, stated not hidden.
  *
  * IO goes through [[ArchiveFs]] (the Hadoop FileSystem API), so paths
  * may be local, hdfs:// or s3a://.
  */
object Archive {

  /** One connector's file family: final names `<prefix>-<gen>-NNNNN<ext>`
    * with `<ext>` one of `exts` (also what a directory listing reads),
    * manifest entries `{"<nameKey>":..,"<countKey>":..}`, an optional
    * offset sidecar (`""` for none), and whether each record of a gzip
    * file is its own member (so a sidecar offset is a valid read start).
    */
  final case class Layout(prefix: String, nameKey: String, countKey: String,
      exts: Seq[String], sidecar: String = "", memberGzip: Boolean = false) {
    def isData(name: String): Boolean = exts.exists(name.endsWith)
    private[sources] def entry =
      ("""\{"""" + nameKey + """":"([^"]+)","""" + countKey + """":(\d+)\}""").r
  }

  sealed trait Mode
  case object Append extends Mode
  case object Truncate extends Mode
  final case class Replace(names: Set[String]) extends Mode
  case object Epoch extends Mode

  private def tmpDir(path: String, gen: String): String =
    ArchiveFs.child(ArchiveFs.child(path, "_tmp"), gen)

  /** A streaming query's generation stem: the FULL sanitized query id,
    * not a prefix — two queries writing one dir must never alias
    * generations (each would take the other's epochs for its own
    * replays and drop them).
    */
  def streamGen(queryId: String): String =
    (if (queryId == null || queryId.isEmpty) "wdsq" else queryId)
      .replaceAll("[^A-Za-z0-9]", "")

  /** The manifest entries of `path` in append order; None without a
    * manifest.
    */
  def entries(path: String, layout: Layout): Option[Seq[(String, Long)]] =
    ArchiveFs.readManifest(path).map(m => layout.entry.findAllMatchIn(m)
      .map(e => (e.group(1), e.group(2).toLong)).toVector)

  private def render(layout: Layout, es: Seq[(String, Long)]): String =
    es.map { case (n, c) => s"""{"${layout.nameKey}":"$n","${layout.countKey}":$c}""" }
      .mkString("[", ",", "]")

  private def drop(path: String)(gone: String => Boolean): Unit =
    ArchiveFs.list(path).foreach(p => if (gone(ArchiveFs.name(p))) ArchiveFs.delete(p))

  /** Deletes `_tmp/<gen>`, and `_tmp` once it is empty. */
  private[sources] def abort(path: String, gen: String): Unit = {
    ArchiveFs.delete(tmpDir(path, gen), recursive = true)
    ArchiveFs.deleteIfEmptyDir(ArchiveFs.child(path, "_tmp"))
  }

  /** The driver-side commit of generation `gen` (see the object doc). */
  private[sources] def commit(path: String, layout: Layout, gen: String,
      messages: Array[WriterCommitMessage], mode: Mode): Unit = {
    val tmp = tmpDir(path, gen)
    val own = s"${layout.prefix}-$gen-"
    val parts = messages.collect { case ArchiveCommit(ps) => ps }.flatten
      .filter(_._2 > 0).sortBy(_._1)
    ArchiveFs.mkdirs(path)
    ArchiveFs.withLock(ArchiveFs.child(path, "_MANIFEST.lock")) {
      val prev = if (mode == Truncate) Nil else entries(path, layout).getOrElse(Nil)
      if (mode != Epoch || !prev.exists(_._1.startsWith(own))) {
        if (mode == Epoch) drop(path)(_.startsWith(own))
        val fresh = parts.zipWithIndex.map { case ((t, n), i) =>
          // a temp part is `<uuid><ext>`; a uuid has no dot
          val name = f"$own$i%05d${t.substring(t.indexOf('.'))}"
          ArchiveFs.rename(ArchiveFs.child(tmp, t), ArchiveFs.child(path, name))
          if (layout.sidecar.nonEmpty)
            ArchiveFs.rename(ArchiveFs.child(tmp, t + layout.sidecar),
              ArchiveFs.child(path, name + layout.sidecar))
          (name, n)
        }
        val kept = mode match {
          case Replace(gone) => prev.filterNot(e => gone(e._1))
          case _             => prev
        }
        if (mode != Epoch || fresh.nonEmpty)
          ArchiveFs.publishManifest(path, render(layout, kept ++ fresh))
        val named = fresh.map(_._1).toSet
        mode match {
          case Truncate => drop(path) { n =>
            val base = n.stripSuffix(layout.sidecar)
            base.startsWith(layout.prefix + "-") && layout.isData(base) && !named(base)
          }
          case Replace(gone) => drop(path)(n => gone(n.stripSuffix(layout.sidecar)))
          case _             => ()
        }
      }
    }
    abort(path, gen)
  }

  // ---- read side ----------------------------------------------------------

  /** Data files the manifest of `path` names, in manifest = append
    * order: a manifest read never observes a partial commit and never
    * depends on how generation names sort.
    */
  def manifestFiles(path: String, layout: Layout): Seq[String] = {
    val es = entries(path, layout)
    require(es.nonEmpty, s"manifest read requested but no manifest under $path")
    es.get.map(e => ArchiveFs.child(path, e._1))
  }

  /** Data files under `path` (or `path` itself), name-sorted. */
  def listFiles(path: String, layout: Layout): Seq[String] = {
    val out =
      if (ArchiveFs.isDirectory(path))
        ArchiveFs.list(path).filter(f => layout.isData(ArchiveFs.name(f))).toVector
      else Vector(path)
    require(out.nonEmpty, s"no ${layout.exts.mkString(" / ")} files under $path")
    out.sorted
  }

  def files(path: String, layout: Layout, manifestOnly: Boolean): Seq[String] =
    if (manifestOnly) manifestFiles(path, layout) else listFiles(path, layout)

  /** A stream's listing: an empty or missing dir (or manifest) is just
    * "nothing yet".
    */
  def listed(files: => Seq[String]): Vector[String] =
    try files.toVector catch { case _: IllegalArgumentException => Vector.empty }

  /** Ascending offsets from `<file><sidecar>` (column 0 of each line;
    * `#` comment and empty lines skipped). None when there is none.
    */
  def offsets(file: String, layout: Layout): Option[Array[Long]] = {
    val side = file + layout.sidecar
    if (layout.sidecar.isEmpty || !ArchiveFs.exists(side)) None
    else Some(ArchiveFs.readString(side).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")(0).toLong).toArray.sorted)
  }

  /** Scan partitions for one file: ~`target`-byte [[ArchiveSplit]]s cut
    * at sidecar offsets (record or sample boundaries, so each range is
    * a self-contained stream), else the whole file. A gzip file splits
    * only when each record is its own member.
    */
  def splits(file: String, layout: Layout, target: Long): Seq[InputPartition] =
    (if (layout.memberGzip || !file.endsWith(".gz")) offsets(file, layout) else None)
      .filter(_.nonEmpty) match {
      case Some(offs) =>
        ArrayOfCuts.build(offs, ArchiveFs.length(file), target)
          .map { case (s, e) => ArchiveSplit(file, s, e) }
      case None => Seq(ArchiveSplit(file, 0L, Long.MaxValue))
    }

  /** A split's bytes: a positioned Hadoop-FS open at its start (a
    * ranged read on hdfs/s3a, not a skip loop), bounded to its end.
    */
  def open(s: ArchiveSplit): InputStream = {
    val in = ArchiveFs.open(s.file, s.start)
    if (s.end == Long.MaxValue) in else new BoundedInputStream(in, s.end - s.start)
  }

  /** Reads at most `limit` bytes from `in`. */
  final class BoundedInputStream(in: InputStream, limit: Long) extends InputStream {
    private var left = limit
    override def read(): Int =
      if (left <= 0) -1
      else { val b = in.read(); if (b >= 0) left -= 1; b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      if (left <= 0) return -1
      val k = in.read(buf, off, math.min(len.toLong, left).toInt)
      if (k > 0) left -= k
      k
    }
    override def close(): Unit = in.close()
  }

  // ---- point access -------------------------------------------------------

  /** The `<data><sidecar>` files under `dir` as (file, fields): the data
    * file each sidecar line belongs to and the line's tab-split columns.
    * Read as `dir` with a name filter, not a glob path: Spark's
    * sink-metadata probe would stat the literal glob and log its
    * FileNotFoundException.
    */
  def sidecarTable(spark: SparkSession, dir: String, sidecar: String): DataFrame =
    spark.read.format("text").option("pathGlobFilter", "*" + sidecar).load(dir)
      .select(input_file_name().as("__f"), col("value"))
      .filter(!col("value").startsWith("#") && length(col("value")) > 0)
      .select(
        // input_file_name() yields file:///abs/path — strip the scheme
        regexp_replace(regexp_replace(col("__f"), "^file:(//)?", ""),
          "\\" + sidecar + "$", "").as("file"),
        split(col("value"), "\t").as("fields"))

  /** Shields the per-file seekable stream from a nested reader's close. */
  private final class NonClosingInputStream(in: InputStream)
      extends java.io.FilterInputStream(in) {
    override def close(): Unit = ()
  }

  /** Point access: for each `(file, offset, k)` row of `lookups`, seek
    * `file` to `offset` and `read(file, offset, stream, k)` what lies
    * there. Rows are repartitioned by file and sorted by offset, so a
    * task opens each file once and seeks monotonically forward through
    * it. `read` gets a stream it must not close and must finish with it
    * before returning. A `mapPartitions` by design (the documented last
    * resort): point IO against an archive byte layout has no
    * declarative form; the plan around it stays Catalyst-shaped.
    */
  def seekEach[K: Encoder, R: Encoder](lookups: DataFrame)(
      read: (String, Long, InputStream, K) => Seq[R]): Dataset[R] = {
    val Array(file, offset, _) = lookups.columns
    lookups.repartition(col(file)).sortWithinPartitions(col(file), col(offset))
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong, implicitly[Encoder[K]]))
      .mapPartitions { it =>
        var at: String = null
        var ch: org.apache.hadoop.fs.FSDataInputStream = null
        def close(): Unit = if (ch != null) { ch.close(); ch = null; at = null }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => close()))
        it.flatMap { case (f, off, k) =>
          if (f != at) { close(); ch = ArchiveFs.open(f); at = f }
          ch.seek(off)
          read(f, off, new NonClosingInputStream(ch), k)
        }
      }
  }

  // ---- the tar sample index -----------------------------------------------

  /** The `.idx` sidecar body of a tar shard: `offset<TAB>key` at each
    * sample's first member unit (GNU `L`/pax preludes included, so a
    * split or seek opening at the offset re-parses a long name).
    */
  final class SampleIndex {
    private val sb = new java.lang.StringBuilder("#graft-wds-idx offset\tkey\n")
    private var last: String = null
    var samples = 0L
    /** A member unit at `offset`; a new key starts a sample. */
    def add(offset: Long, key: String): Unit =
      if (key != last) {
        sb.append(offset).append('\t').append(key).append('\n')
        samples += 1
        last = key
      }
    def bytes: Array[Byte] = sb.toString.getBytes(UTF_8)
  }

  /** One header-stride walk of a tar stream (payloads skipped) into its
    * sample index.
    */
  def indexTar(in: InputStream): SampleIndex = {
    val idx = new SampleIndex
    TarIo.memberStarts(in).foreach { case (off, name) =>
      idx.add(off, TarDataSource.splitKeyExt(name)._1)
    }
    idx
  }
}

/** Greedy record-boundary splitter: walk the ascending offsets and cut
  * a new range whenever the current one passes `target` bytes.
  */
private[sources] object ArrayOfCuts {
  def build(offsets: Array[Long], fileSize: Long, target: Long): Seq[(Long, Long)] = {
    val cuts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var start = 0L
    var i = 1
    while (i < offsets.length) {
      if (offsets(i) - start >= target) { cuts += ((start, offsets(i))); start = offsets(i) }
      i += 1
    }
    cuts += ((start, fileSize))
    cuts.toSeq
  }
}

/** One scan task: the byte range [start, end) of `file` (end =
  * Long.MaxValue reads to EOF).
  */
final case class ArchiveSplit(file: String, start: Long, end: Long) extends InputPartition

/** What a task attempt reports: its parts' temp names and counts. */
final case class ArchiveCommit(parts: Seq[(String, Long)]) extends WriterCommitMessage

/** The write builder of every archive connector: `mode("overwrite")`
  * truncates, `replace` names shards a commit swaps out (see
  * [[Archive.Replace]]), and `clusterBy` names a column that must arrive
  * clustered and sorted (the `wds` sample key) — Spark plans that
  * shuffle and sort, the writer only observes key boundaries.
  */
final class ArchiveWriteBuilder(path: String, layout: Archive.Layout,
    writer: String => DataWriter[InternalRow], replace: Set[String] = Set.empty,
    queryId: String = null, clusterBy: Option[String] = None)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def toBatch: BatchWrite = new ArchiveWrite(path, layout, writer,
      if (doTruncate) Archive.Truncate
      else if (replace.nonEmpty) Archive.Replace(replace) else Archive.Append)
    override def toStreaming: StreamingWrite = new ArchiveWrite(path, layout, writer,
      Archive.Epoch, Archive.streamGen(queryId))
    override def requiredDistribution(): Distribution = clusterBy.fold[Distribution](
      Distributions.unspecified())(c => Distributions.clustered(Array(Expressions.column(c))))
    override def requiredOrdering(): Array[SortOrder] = clusterBy.toArray.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
  }
}

/** The driver half of the protocol, batch and streaming (see
  * [[Archive]]): a batch write commits generation `gen`, a streaming
  * epoch `<gen>-e<epoch>` in [[Archive.Epoch]] mode.
  */
class ArchiveWrite(path: String, layout: Archive.Layout,
    writer: String => DataWriter[InternalRow], mode: Archive.Mode,
    gen: String = java.util.UUID.randomUUID.toString.take(8))
    extends BatchWrite with StreamingWrite {
  private def factory = new ArchiveWriterFactory(ArchiveFs.child(path, "_tmp"), gen,
    writer, ArchiveFs.carrier())

  // both traits default to true; Scala needs the pick spelled out
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    Archive.commit(path, layout, gen, messages, mode)
  override def abort(messages: Array[WriterCommitMessage]): Unit = Archive.abort(path, gen)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = factory
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    Archive.commit(path, layout, s"$gen-e$epochId", messages, Archive.Epoch)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    Archive.abort(path, s"$gen-e$epochId")
}

/** The one writer factory: installs the driver's Hadoop conf and opens
  * the connector's `writer` on the task's `_tmp/<gen>` dir (a streaming
  * epoch's `_tmp/<gen>-e<epoch>`).
  */
final class ArchiveWriterFactory(tmpRoot: String, gen: String,
    writer: String => DataWriter[InternalRow], conf: SerializableHadoopConf)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    conf.install()
    writer(ArchiveFs.child(tmpRoot, gen))
  }
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    conf.install()
    writer(ArchiveFs.child(tmpRoot, s"$gen-e$epochId"))
  }
}

/** Task side of the protocol: the connector's encoder writes uuid-named
  * parts `<uuid><ext>` (plus sidecar) under its temp dir, opening and
  * closing them through [[openPart]]/[[closePart]]; commit reports them,
  * abort deletes them.
  */
abstract class ArchiveWriter(tmpDir: String, layout: Archive.Layout, ext: String)
    extends DataWriter[InternalRow] {
  ArchiveFs.mkdirs(tmpDir)
  private val done = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  private var name: String = _
  /** The open part, null when none is. */
  protected var out: WarcIo.CountingOutputStream = _
  /** Units (rows, records, samples) in the open part. */
  protected var units = 0L

  protected def openPart(): Unit = {
    name = java.util.UUID.randomUUID.toString + ext
    out = new WarcIo.CountingOutputStream(new java.io.BufferedOutputStream(
      ArchiveFs.create(ArchiveFs.child(tmpDir, name)), 1 << 16))
    units = 0L
  }

  /** Closes the open part, with `sidecar` as its sidecar body. */
  protected def closePart(sidecar: Array[Byte] = null): Unit = if (out != null) {
    out.close()
    if (sidecar != null)
      ArchiveFs.writeBytes(ArchiveFs.child(tmpDir, name + layout.sidecar), sidecar)
    done += ((name, units))
    out = null
  }

  /** Flushes what the encoder holds and closes the open part. */
  protected def finish(): Unit

  override def commit(): WriterCommitMessage = { finish(); ArchiveCommit(done.toSeq) }

  override def abort(): Unit = {
    if (out != null) out.close()
    (done.map(_._1) ++ Option(name)).distinct.foreach { n =>
      ArchiveFs.delete(ArchiveFs.child(tmpDir, n))
      if (layout.sidecar.nonEmpty)
        ArchiveFs.delete(ArchiveFs.child(tmpDir, n + layout.sidecar))
    }
  }

  override def close(): Unit = ()
}
