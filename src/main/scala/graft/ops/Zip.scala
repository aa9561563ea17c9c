package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** ZIP container metadata — the envelope of the modern document
  * corpus: DOCX/XLSX/PPTX (OOXML), EPUB, and JAR are all ZIP files,
  * and a crawl pipeline routes them by CONTAINER SHAPE before any
  * member is decompressed. Everything here is the published PKWARE
  * APPNOTE layout: the End-of-Central-Directory record scanned from
  * EOF (its comment makes the tail variable), the central directory's
  * 46-byte entries + names, the zip64 EOCD locator/record pair when
  * counts overflow, and local headers for member reads (stored and
  * raw-deflate via the shared inflate path).
  *
  * Kind detection is the standard evidence chain: an `epub` declares
  * itself in a STORED first member named `mimetype`; OOXML carries
  * `[Content_Types].xml` plus its part root (`word/`, `xl/`, `ppt/`);
  * a `jar` carries `META-INF/MANIFEST.MF`; anything else is plain
  * `zip`. Per-entry general-purpose bit 0 surfaces as `encrypted` —
  * the route/drop signal, no decryption attempted.
  *
  * Honest boundaries: no EOCD in the tail, or a central directory
  * that does not parse, → None (unlike media walks, a ZIP without its
  * directory is unreadable by DESIGN — the format's own recovery
  * story is the directory, not a scan). Truncated member data on a
  * read → null content for that member, the rest of the walk intact.
  */
object Zip {

  final case class Entry(name: String, method: Int, compSize: Long,
      uncompSize: Long, localOff: Long, encrypted: Boolean)

  /** `mimetype` is the decompressed first-member content when the
    * archive is epub-shaped (null otherwise); `zip64` marks the
    * EOCD64 path. `totalUncomp` sums declared (directory) sizes.
    */
  final case class Meta(nEntries: Int, totalUncomp: Long, kind: String,
      encrypted: Boolean, zip64: Boolean, mimetype: String,
      entries: Seq[Entry])

  // ------------------------------------------------------------- builder

  /** A real archive: local headers + data, central directory, EOCD
    * (+ the zip64 record pair when `forceZip64`). `members` =
    * (name, content, method 0|8, encryptedFlag). Encrypted-flagged
    * members store garbage bytes (flag set, nothing readable — the
    * shape, not the cipher).
    */
  def build(members: Seq[(String, Array[Byte], Int, Boolean)],
      forceZip64: Boolean = false, comment: String = ""): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def u64(v: Long): Unit = { u32(v & 0xffffffffL); u32(v >>> 32) }
    final case class Rec(name: Array[Byte], method: Int, flag: Int,
      crc: Long, comp: Array[Byte], uncomp: Int, off: Long)
    val recs = members.map { case (name, content, method, encFlag) =>
      val nameB = name.getBytes("UTF-8")
      val crc = new java.util.zip.CRC32()
      crc.update(content)
      val data =
        if (encFlag) Array.tabulate[Byte](content.length)(i => (i * 31).toByte)
        else if (method == 8) {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(content); d.finish()
          val bo = new ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
          d.end(); bo.toByteArray
        } else content
      val off = out.size().toLong
      u32(0x04034b50L) // local file header
      u16(20); u16(if (encFlag) 1 else 0); u16(method)
      u16(0); u16(0x5000) // dos time/date, fixed
      u32(crc.getValue); u32(data.length); u32(content.length)
      u16(nameB.length); u16(0)
      out.write(nameB); out.write(data)
      Rec(nameB, method, if (encFlag) 1 else 0, crc.getValue, data,
        content.length, off)
    }
    val cdAt = out.size().toLong
    recs.foreach { r =>
      u32(0x02014b50L) // central directory entry
      u16(20); u16(20); u16(r.flag); u16(r.method)
      u16(0); u16(0x5000)
      u32(r.crc); u32(r.comp.length); u32(r.uncomp)
      u16(r.name.length); u16(0); u16(0)
      u16(0); u16(0); u32(0)
      u32(r.off)
      out.write(r.name)
    }
    val cdSize = out.size().toLong - cdAt
    val commentB = comment.getBytes("UTF-8")
    if (forceZip64) {
      val eocd64At = out.size().toLong
      u32(0x06064b50L); u64(44) // EOCD64 + size-of-remainder
      u16(45); u16(45); u32(0); u32(0)
      u64(recs.length); u64(recs.length)
      u64(cdSize); u64(cdAt)
      u32(0x07064b50L); u32(0); u64(eocd64At); u32(1) // locator
      u32(0x06054b50L) // EOCD with sentinel overflows
      u16(0); u16(0); u16(0xffff); u16(0xffff)
      u32(0xffffffffL); u32(0xffffffffL)
      u16(commentB.length); out.write(commentB)
    } else {
      u32(0x06054b50L)
      u16(0); u16(0); u16(recs.length); u16(recs.length)
      u32(cdSize); u32(cdAt)
      u16(commentB.length); out.write(commentB)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------- parser

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    (u16(b, p) & 0xffffL) | ((u16(b, p + 2) & 0xffffL) << 16)
  private def u64(b: Array[Byte], p: Int): Long =
    u32(b, p) | (u32(b, p + 4) << 32)

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 22) return None
    // EOCD scan from EOF through the max-comment window
    val floor = math.max(0, bytes.length - 22 - 0xffff)
    var e = bytes.length - 22
    while (e >= floor && u32(bytes, e) != 0x06054b50L) e -= 1
    if (e < floor) return None

    var nEntries: Long = u16(bytes, e + 10)
    var cdAt: Long = u32(bytes, e + 16)
    var zip64 = false
    if (nEntries == 0xffff || cdAt == 0xffffffffL) {
      // zip64: locator sits directly before the EOCD
      val loc = e - 20
      if (loc < 0 || u32(bytes, loc) != 0x07064b50L) return None
      val e64 = u64(bytes, loc + 8)
      if (e64 < 0 || e64 + 56 > bytes.length ||
        u32(bytes, e64.toInt) != 0x06064b50L) return None
      nEntries = u64(bytes, e64.toInt + 32)
      cdAt = u64(bytes, e64.toInt + 48)
      zip64 = true
    }
    if (nEntries < 0 || nEntries > Int.MaxValue || cdAt < 0 ||
      cdAt >= bytes.length) return None

    val entries = Seq.newBuilder[Entry]
    var p = cdAt
    var i = 0L
    while (i < nEntries) {
      if (p + 46 > bytes.length || u32(bytes, p.toInt) != 0x02014b50L)
        return None
      val q = p.toInt
      val flag = u16(bytes, q + 8)
      val method = u16(bytes, q + 10)
      val comp = u32(bytes, q + 20)
      val uncomp = u32(bytes, q + 24)
      val nameLen = u16(bytes, q + 28)
      val extraLen = u16(bytes, q + 30)
      val cmtLen = u16(bytes, q + 32)
      val localOff = u32(bytes, q + 42)
      if (q + 46 + nameLen > bytes.length) return None
      val name = new String(bytes, q + 46, nameLen, "UTF-8")
      entries += Entry(name, method, comp, uncomp, localOff,
        (flag & 1) != 0)
      p += 46 + nameLen + extraLen + cmtLen
      i += 1
    }
    val es = entries.result()
    val names = es.map(_.name).toSet
    val kind =
      if (es.headOption.exists(h => h.name == "mimetype" && h.method == 0))
        "epub"
      else if (names.contains("[Content_Types].xml")) {
        if (names.exists(_.startsWith("word/"))) "docx"
        else if (names.exists(_.startsWith("xl/"))) "xlsx"
        else if (names.exists(_.startsWith("ppt/"))) "pptx"
        else "ooxml"
      } else if (names.contains("META-INF/MANIFEST.MF")) "jar"
      else "zip"
    val mimetype =
      if (kind == "epub")
        readMember(bytes, es.head).map(new String(_, "US-ASCII")).orNull
      else null
    Some(Meta(es.length, es.map(_.uncompSize).sum, kind,
      es.exists(_.encrypted), zip64, mimetype, es))
  }

  /** One member's decompressed bytes via its local header. None for
    * encrypted members, truncated data, or a method other than
    * stored/deflate.
    */
  def readMember(bytes: Array[Byte], e: Entry): Option[Array[Byte]] = {
    if (e.encrypted) return None
    val p = e.localOff
    if (p < 0 || p + 30 > bytes.length || u32(bytes, p.toInt) != 0x04034b50L)
      return None
    val q = p.toInt
    val nameLen = u16(bytes, q + 26)
    val extraLen = u16(bytes, q + 28)
    val dataAt = q + 30 + nameLen + extraLen
    if (dataAt + e.compSize > bytes.length) return None
    val raw = java.util.Arrays.copyOfRange(bytes, dataAt,
      dataAt + e.compSize.toInt)
    e.method match {
      case 0 => Some(raw)
      case 8 => graft.sources.Http.decompress(raw, "deflate")
      case _ => None
    }
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("n_entries", IntegerType),
    StructField("total_uncomp", LongType),
    StructField("kind", StringType),
    StructField("encrypted", BooleanType),
    StructField("zip64", BooleanType),
    StructField("mimetype", StringType))) // epub self-declaration

  /** Appends `${binCol}_zip` (struct, null when not a ZIP). */
  def containerMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_zip", metaType)) { b =>
      parseMeta(b).map(x => Row(x.nEntries, x.totalUncomp, x.kind,
        x.encrypted, x.zip64, x.mimetype)).orNull
    }
}
