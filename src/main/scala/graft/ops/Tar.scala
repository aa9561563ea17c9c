package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** POSIX ustar (tar) archive enumeration — the container the
  * WebDataset convention ships multimodal training corpora in: many
  * tar files, each holding samples as member groups that share a
  * basename key (`000123.jpg` + `000123.txt` + `000123.json`), read
  * sequentially for throughput. The engine side of that is exactly
  * what WARC needed: a spec-level framer (512-byte headers, octal
  * sizes, checksum verification, data padded to block boundaries, two
  * zero blocks at end) that enumerates members WITHOUT any external
  * library, plus the sample-key grouping as plain Catalyst columns.
  *
  * Framing errors fail LOUDLY with the offset (the WarcIo convention —
  * a silent resync would attribute one member's bytes to another);
  * header checksums are verified, so a corrupted header cannot
  * misdirect the walk.
  */
object Tar {

  final case class Entry(name: String, size: Long, payload: Array[Byte])

  // ------------------------------------------------------------- builder

  /** A complete ustar archive of regular-file members — the fixture
    * face of [[graft.sources.TarIo.writeMember]] (one writer, one
    * byte grammar): names over the 100-byte ustar field emit a GNU
    * `L` long-name member, so fixtures can exercise the long-key
    * round-trip the WebDataset convention needs.
    */
  def build(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    entries.foreach { case (name, payload) =>
      graft.sources.TarIo.writeMember(out, name, payload)
    }
    graft.sources.TarIo.writeTrailer(out)
    out.toByteArray
  }

  // ------------------------------------------------------------- parser

  /** All regular-file members of an in-memory archive — the fixture
    * face of the STREAMING framer ([[graft.sources.TarIo.members]]),
    * so both share one grammar: checksums verified, pax `x` and GNU
    * `L` long-name members applied to the following entry (r11
    * What's wrong #5 — a >100-char WebDataset key keeps its real
    * name), global pax headers and framing damage fail loudly with
    * the offset.
    */
  def entries(bytes: Array[Byte]): Seq[Entry] =
    graft.sources.TarIo.members(new java.io.ByteArrayInputStream(bytes))
      .map(m => Entry(m.name, m.size, m.payload)).toSeq

  // ----------------------------------------------------------- DataFrame

  private val entryType = ArrayType(StructType(Seq(
    StructField("name", StringType),
    StructField("size", LongType),
    StructField("payload", BinaryType))))

  /** Appends `${binCol}_entries` (array of member structs, null for a
    * null payload); a malformed archive fails the task loudly rather
    * than yielding a silently partial sample set.
    */
  def tarEntries(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_entries", entryType)) { b =>
      if (b == null) null else entries(b).map(e => Row(e.name, e.size, e.payload))
    }

  /** WebDataset sample key: the member basename before the FIRST dot
    * (directory part stripped) — `train/000123.seg.json` groups under
    * `000123` with extension `seg.json`, per the published convention.
    */
  def sampleKey(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_extract(
      org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.split(name, "/"), -1),
      "^([^.]+)", 1)

  def sampleExt(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_extract(
      org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.split(name, "/"), -1),
      "^[^.]+\\.(.*)$", 1)
}
