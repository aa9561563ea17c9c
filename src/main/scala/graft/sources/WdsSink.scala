package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types.StructType

/** WRITE half of the `wds` connector: re-sharding/packing curation
  * output back into WebDataset tar shards (r11 verdict ask #4 — the
  * read side existed, a packing pipeline could consume samples but
  * not produce new shards).
  *
  * {{{ df.write.format("wds").option("path", dir)
  *       .option("targetShardBytes", 1L << 30).save() }}}
  *
  * Input columns (by name): `key` (string, the sample id), `ext`
  * (string), `payload` (binary) — one row per member, the exact shape
  * the `wds` reader emits, so read(write(df)) round-trips.
  *
  * The two WebDataset invariants the sink GUARANTEES rather than
  * hopes for:
  *   - **sample contiguity** — all extensions of a key land in ONE
  *     shard, adjacent: the Write requires clustering and sorting by
  *     `key` ([[ArchiveWriteBuilder]]'s `clusterBy`), so Spark itself
  *     inserts the shuffle/sort — no writer-side re-sort, no trust in
  *     caller discipline;
  *   - **size-targeted shard rolling** — a writer rolls to a new tar
  *     only at a sample BOUNDARY once the current shard passes
  *     `targetShardBytes`, so shards land near the target without
  *     ever splitting a sample.
  *
  * Long keys write GNU `L` long-name members ([[TarIo.writeMember]]),
  * and the reader applies them — >100-char sample keys round-trip.
  *
  * Layout and commit protocol are [[Archive]]'s: `part-<gen>-NNNNN.tar`
  * shards, each with its `.idx` sample-offset sidecar, and
  * `{"shard":..,"samples":..}` manifest entries. Task memory is one
  * buffered sample, never a shard.
  *
  * Streaming (`df.writeStream.format("wds")`) appends one generation
  * per micro-batch epoch, exactly once, in [[Archive.Epoch]] mode.
  * Sample contiguity is then per EPOCH — a key recurring in later
  * epochs starts a new sample in that epoch's shards (continuous
  * packing; a global repack is the batch sink's job downstream).
  */
final class WdsWriter(tmpDir: String, schemaJson: String, targetBytes: Long)
    extends ArchiveWriter(tmpDir, TarDataSource.Layout, ".tar") {
  private val st = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
    .asInstanceOf[StructType]
  private val oKey = st.fieldIndex("key")
  private val oExt = st.fieldIndex("ext")
  private val oPayload = st.fieldIndex("payload")

  private var curKey: String = null
  private val sample = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
  // the open shard's `.idx`: one line per sample at its first member's
  // byte offset — the CDX move applied to tar, so the READER can cut a
  // shard into ranged splits at sample boundaries
  private var idx: Archive.SampleIndex = _

  private def closeShard(): Unit = if (out != null) {
    TarIo.writeTrailer(out)
    closePart(idx.bytes)
  }

  // buffers ONE sample's members (rows arrive key-sorted), flushes the
  // buffer whole when the key changes, and rolls the shard first if it
  // has passed the target — a sample never straddles two shards
  private def flushSample(): Unit = if (sample.nonEmpty) {
    if (out != null && out.count >= targetBytes) closeShard()
    if (out == null) { openPart(); idx = new Archive.SampleIndex }
    idx.add(out.count, curKey)
    sample.foreach { case (name, payload) => TarIo.writeMember(out, name, payload) }
    units += 1
    sample.clear()
  }

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(oKey) && !row.isNullAt(oExt) && !row.isNullAt(oPayload),
      "wds sink: key/ext/payload must be non-null")
    val key = row.getUTF8String(oKey).toString
    if (key != curKey) { flushSample(); curKey = key }
    val ext = row.getUTF8String(oExt).toString
    val name = if (ext.isEmpty) key else s"$key.$ext"
    sample += ((name, row.getBinary(oPayload).clone()))
  }

  override protected def finish(): Unit = { flushSample(); closeShard() }
}

object WdsWriter {
  def at(schemaJson: String, targetBytes: Long): String => DataWriter[InternalRow] =
    dir => new WdsWriter(dir, schemaJson, targetBytes)
}

/** The `wds` streaming write by name: what [[ArchiveWriteBuilder]]
  * plans for `writeStream.format("wds")` — [[Archive.Epoch]] mode,
  * generations named by the query id.
  */
final class WdsStreamingWrite(path: String, schema: StructType, targetBytes: Long,
    queryId: String) extends ArchiveWrite(path, TarDataSource.Layout,
      WdsWriter.at(schema.json, targetBytes), Archive.Epoch, Archive.streamGen(queryId))
