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
  * skewing replay). Files are listed and split by [[Archive]]; an
  * empty or missing dir is "nothing yet".
  *
  * Listing order: manifest (append) order under `manifestOnly`, else
  * name order — new files must sort after ingested ones. With
  * `pinOrder` (the `wds` source) a dir that has a manifest is read in
  * manifest order even without `manifestOnly`: the sink's own
  * `part-<random gen>-NNNNN` names sort a second generation before the
  * first about half the time, which would fail the prefix validation.
  * That choice is PINNED per stream, persisted under the checkpoint at
  * the first nonempty observation: a foreign dir that gains a manifest
  * MID-STREAM (someone runs the sink into it), or whose listing order
  * differs from manifest append order, must not flip modes — the
  * committed prefix would fail validation and the stream could never
  * resume without a new checkpoint. An EMPTY dir defers the decision
  * (nothing committed yet, so switching is still free).
  *
  * Trigger.AvailableNow drives the stream itself: the run's end is the
  * listing length when the query starts, reached in batches of at most
  * `filesPerBatch` files from the checkpoint-seeded cursor. Spark's
  * wrapper for sources without [[SupportsTriggerAvailableNow]] would
  * instead snapshot the end through the capped, stateful
  * `latestOffset()`, so a run would read one batch's worth of files and
  * stop.
  */
final class FileListMicroBatchStream(path: String, layout: Archive.Layout,
    targetBytes: Long, filesPerBatch: Int, manifestOnly: Boolean,
    metadataPath: String, pinOrder: Boolean, readers: () => PartitionReaderFactory)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  require(filesPerBatch >= 1, s"filesPerBatch must be >= 1: $filesPerBatch")

  @volatile private var pinned: Option[Boolean] = None // true = manifest order

  /** Manifest order (true) or name order (false); None defers. */
  private def manifestOrder(): Option[Boolean] =
    if (manifestOnly) Some(true)
    else if (!pinOrder) Some(false)
    else pinned.orElse {
      val pin = Option(metadataPath).map(m => ArchiveFs.child(m, "graft-wds-order"))
      val fromDisk = pin.filter(ArchiveFs.exists)
        .map(p => ArchiveFs.readString(p).trim == "manifest")
      val decided = fromDisk.orElse {
        if (ArchiveFs.hasManifest(path)) Some(true)
        else if (Archive.listed(Archive.listFiles(path, layout)).nonEmpty) Some(false)
        else None // nothing yet: defer the pin
      }
      if (fromDisk.isEmpty) for (m <- decided; p <- pin)
        ArchiveFs.publishBytes(p, (if (m) "manifest" else "listing").getBytes("UTF-8"))
      pinned = decided
      decided
    }

  /** The current stable-ordered file list (empty = nothing yet). */
  private def current(): Vector[String] = manifestOrder() match {
    case Some(true)  => Archive.listed(Archive.manifestFiles(path, layout))
    case Some(false) => Archive.listed(Archive.listFiles(path, layout))
    case None        => Vector.empty
  }

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

  private def writeCursor(o: FileListOffset): Unit =
    cursorFile.foreach(ArchiveFs.publishBytes(_, o.json().getBytes("UTF-8")))

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
    fs.slice(s.n.toInt, e.n.toInt).flatMap(Archive.splits(_, layout, targetBytes)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = readers()
}

/** Count of ingested files plus the name of the last one — the name
  * pins the prefix (see [[FileListMicroBatchStream]]).
  */
final case class FileListOffset(n: Long, last: String) extends Offset {
  override def json(): String = s"$n\t$last"
}
