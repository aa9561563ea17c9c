package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadLimit, SupportsTriggerAvailableNow}

/** Shared micro-batch machinery for archive-directory ingestion (WARC
  * segments, WebDataset tar shards): offsets are positions in a
  * STABLE file list — exact, checkpoint-resumable, timing-independent
  * — advancing at most `filesPerBatch` files per trigger, with the
  * committed prefix validated against every fresh listing (the file
  * at n-1 must still be the one the offset named, so deletion or
  * reordering of ingested history fails loudly instead of silently
  * skewing replay). Subclasses supply the listing and the per-file
  * partition planning.
  *
  * Trigger.AvailableNow drives the stream itself: the run's end is the
  * listing length when the query starts, reached in batches of at most
  * `filesPerBatch` files from the checkpoint-seeded cursor. Spark's
  * wrapper for sources without [[SupportsTriggerAvailableNow]] would
  * instead snapshot the end through the capped, stateful
  * `latestOffset()`, so a run would read one batch's worth of files and
  * stop.
  */
abstract class FileListMicroBatchStream(filesPerBatch: Int,
    metadataPath: String = null)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  require(filesPerBatch >= 1, s"filesPerBatch must be >= 1: $filesPerBatch")

  /** The current stable-ordered file list (empty = nothing yet). */
  protected def current(): Vector[String]

  /** Scan partitions for one listed file. */
  protected def partitionsFor(file: String): Seq[InputPartition]

  // the last offset this stream ADVANCED to, with its remembered
  // last-file name — latestOffset validates THIS against each fresh
  // listing, never an offset derived from the listing itself.
  //
  // RESTART: a fresh instance's latestOffset() runs BEFORE Spark hands
  // it any checkpointed offset (deserializeOffset is only reached at
  // batch-planning time), so without recovery the cursor would regress
  // to 0, the engine would log the regressed offset as "new data", and
  // the next real batch would span — and RE-READ — committed files.
  // The cursor therefore persists under the per-source checkpoint dir
  // Spark passes to toMicroBatchStream (the same channel Kafka's
  // stream uses for its initial-offset metadata) and seeds here.
  private var latestOff: FileListOffset = readCursor()

  private def cursorFile: Option[String] =
    Option(metadataPath).map(m => ArchiveFs.child(m, "graft-file-cursor"))

  private def readCursor(): FileListOffset =
    cursorFile.filter(ArchiveFs.exists) match {
      case Some(f) =>
        val json = ArchiveFs.readString(f)
        val i = json.indexOf('\t')
        require(i >= 0, s"malformed file-list cursor: '$json'")
        FileListOffset(json.substring(0, i).toLong, json.substring(i + 1))
      case None => FileListOffset(0L, "")
    }

  private def writeCursor(o: FileListOffset): Unit = cursorFile.foreach { f =>
    ArchiveFs.mkdirs(metadataPath)
    val tmp = f + ".tmp-" + java.util.UUID.randomUUID.toString.take(8)
    ArchiveFs.writeBytes(tmp, o.json().getBytes("UTF-8"), overwrite = true)
    ArchiveFs.renameOverwrite(tmp, f)
  }

  private def offsetAt(fs: Vector[String], n: Long): FileListOffset =
    FileListOffset(n, if (n == 0) "" else fs((n - 1).toInt))

  private def validate(fs: Vector[String], o: FileListOffset): Unit = {
    if (o.n > 0) {
      require(fs.length >= o.n && fs((o.n - 1).toInt) == o.last,
        s"file list mutated under the stream: offset ${o.n} expected " +
          s"'${o.last}' at position ${o.n - 1} but the listing is " +
          s"[${fs.mkString(", ")}]; ingested history must be immutable")
    }
  }

  override def initialOffset(): Offset = FileListOffset(0L, "")

  // the listing length when an AvailableNow run started; None under
  // any other trigger
  private var runEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    runEnd = Some(current().length.toLong)

  override def latestOffset(): Offset = {
    val fs = current()
    validate(fs, latestOff) // committed history must survive verbatim
    val end = runEnd.fold(fs.length.toLong)(math.min(fs.length.toLong, _))
    val n = math.min(end, latestOff.n + filesPerBatch)
    val next = offsetAt(fs, n)
    if (next.n > latestOff.n) writeCursor(next)
    latestOff = next
    latestOff
  }

  /** The engine's admission-controlled entry point: the same capped
    * advance as `latestOffset()`, whatever `limit` the trigger asks for.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    latestOffset()

  override def deserializeOffset(json: String): Offset = {
    val i = json.indexOf('\t')
    require(i >= 0, s"malformed file-list offset: '$json'")
    val n = json.substring(0, i).toLong
    val o = FileListOffset(n, json.substring(i + 1))
    if (n > latestOff.n) latestOff = o // checkpoint restore seeds the cursor
    o
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileListOffset]
    val e = end.asInstanceOf[FileListOffset]
    if (e.n <= s.n) return Array.empty
    val fs = current()
    validate(fs, s)
    validate(fs, e)
    fs.slice(s.n.toInt, e.n.toInt).flatMap(partitionsFor).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory
}

/** Count of ingested files plus the name of the last one — the name
  * pins the prefix (see [[FileListMicroBatchStream]]).
  */
final case class FileListOffset(n: Long, last: String) extends Offset {
  override def json(): String = s"$n\t$last"
}
