package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** JPEG EXIF metadata — the image sibling of the audio metadata walks
  * ([[Mp4]]/[[Mpeg]]/[[Flac]]): what a curation pipeline needs from a
  * `.jpg` column WITHOUT a pixel decode is stream shape (SOF
  * dimensions), orientation (the field a training pipeline must apply
  * before any resize — rotation lives in metadata, not pixels), camera
  * provenance (Make/Model/DateTimeOriginal — dedup and licensing
  * signals), and above all GPS PRESENCE: geotagged personal photos are
  * a PII class of their own in a web crawl, and the gate signal is
  * "this image carries location" long before any coordinate is read.
  *
  * All of it lives in public grammar: the JPEG segment walk (ISO
  * 10918-1 markers — u16 big-endian lengths, standalone markers
  * length-free, FF fill bytes legal), the APP1 `Exif\0\0` envelope,
  * and a TIFF 6.0 IFD tree (JEITA CP-3451) in EITHER byte order —
  * `II`/`MM`, magic 42, 12-byte entries with values left-justified
  * inline when ≤4 bytes else offset-addressed, sub-IFD pointers for
  * Exif (0x8769) and GPS (0x8825).
  *
  * Honest boundaries: no SOI or a truncated segment header → None; a
  * JPEG whose APP1 is absent or whose TIFF fails validation parses to
  * Some with null EXIF fields (the SOF dimensions still read — a
  * camera-stripped web JPEG is the common case, not an error). The
  * walk stops at SOS: entropy-coded data follows and metadata
  * segments precede it by spec.
  */
object Exif {

  /** Sentinels at the case-class layer (nulls in the DataFrame):
    * -1 int / null string / -1 counts = field absent. `sofW`/`sofH`
    * come from the SOF0-3 marker (the decoder's truth); `pixelW`/
    * `pixelH` from the Exif IFD (the camera's claim) — they can
    * legitimately disagree after a re-encode. `hasGps` is pointer
    * presence with a parseable IFD; `nGps` its entry count.
    */
  final case class Meta(sofW: Int, sofH: Int, byteOrder: String,
      orientation: Int, make: String, model: String, dtOrig: String,
      pixelW: Int, pixelH: Int, iso: Int, hasGps: Boolean, nIfd0: Int,
      nGps: Int)

  // ------------------------------------------------------------- builder

  /** A minimal JPEG: SOI, optional JFIF APP0 (exercises the skip),
    * APP1/Exif unless `noExif`, SOF0 with `sofW`×`sofH`, SOS + token
    * entropy bytes, EOI. The TIFF tree holds IFD0 (Orientation inline
    * SHORT, Make offset ASCII, Model inline-or-offset ASCII, Exif
    * pointer, GPS pointer when `gps`), an Exif IFD (DateTimeOriginal,
    * PixelX/YDimension, ISO), and a 3-entry GPS IFD. `littleEndian`
    * selects `II` vs `MM` — both orders are real in the wild.
    */
  def build(sofW: Int, sofH: Int, orientation: Int, make: String,
      model: String, dtOrig: String, pixelW: Int, pixelH: Int, iso: Int,
      gps: Boolean, littleEndian: Boolean, noExif: Boolean = false,
      fillByte: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    marker(0xd8) // SOI
    // JFIF APP0 — a segment the EXIF walk must size-skip
    marker(0xe0); u16(16)
    out.write("JFIF".getBytes("US-ASCII")); u8(0)
    u8(1); u8(2); u8(0); u16(72); u16(72); u8(0); u8(0)
    if (!noExif) {
      val tiff = buildTiff(orientation, make, model, dtOrig, pixelW,
        pixelH, iso, gps, littleEndian)
      marker(0xe1); u16(2 + 6 + tiff.length)
      out.write("Exif".getBytes("US-ASCII")); u8(0); u8(0)
      out.write(tiff)
    }
    if (fillByte) u8(0xff) // legal FF fill before the next marker
    marker(0xc0); u16(11) // SOF0, 1 component
    u8(8); u16(sofH); u16(sofW); u8(1); u8(1); u8(0x11); u8(0)
    marker(0xda); u16(8) // SOS, then opaque entropy bytes
    u8(1); u8(1); u8(0); u8(0); u8(0x3f); u8(0)
    u8(0x12); u8(0x34); u8(0x56)
    marker(0xd9) // EOI
    out.toByteArray
  }

  private def buildTiff(orientation: Int, make: String, model: String,
      dtOrig: String, pixelW: Int, pixelH: Int, iso: Int, gps: Boolean,
      le: Boolean): Array[Byte] = {
    // entry = (tag, type, count, inlineValue | Left(dataBytes))
    final case class E(tag: Int, tpe: Int, count: Int,
        inline: Option[Long], data: Option[Array[Byte]])
    def ascii(tag: Int, s: String): E = {
      val b = (s + "\u0000").getBytes("US-ASCII")
      if (b.length <= 4)
        E(tag, 2, b.length, Some(packInline(b)), None)
      else E(tag, 2, b.length, None, Some(b))
    }
    def short(tag: Int, v: Int): E =
      E(tag, 3, 1, Some(if (le) v.toLong else v.toLong << 16), None)
    def long(tag: Int, v: Long): E = E(tag, 4, 1, Some(v), None)
    def packInline(b: Array[Byte]): Long = {
      // left-justified in the 4-byte field regardless of order: pack
      // so the writer's fixed little/big u32 write lands b(0) first
      var v = 0L
      (0 until 4).foreach { i =>
        val x = if (i < b.length) b(i) & 0xffL else 0L
        v |= (if (le) x << (8 * i) else x << (8 * (3 - i)))
      }
      v
    }
    val gpsEntries = Seq(
      E(0x0000, 1, 4, Some(packInline(Array[Byte](2, 3, 0, 0))), None),
      ascii(0x0001, "N"), ascii(0x0003, "E"))
    val exifEntries = Seq(short(0x8827, iso), ascii(0x9003, dtOrig),
      long(0xa002, pixelW), long(0xa003, pixelH))
    // IFD0: ascending tag order per TIFF 6.0
    var ifd0 = Seq(ascii(0x010f, make), ascii(0x0110, model),
      short(0x0112, orientation))
    def ifdSize(es: Seq[E]) = 2 + es.length * 12 + 4
    val ifd0Size = ifdSize(ifd0) + 12 + (if (gps) 12 else 0) // + pointers
    val exifAt = 8 + ifd0Size
    val gpsAt = exifAt + ifdSize(exifEntries)
    val dataAt = if (gps) gpsAt + ifdSize(gpsEntries)
      else exifAt + ifdSize(exifEntries)
    ifd0 = ifd0 :+ long(0x8769, exifAt)
    if (gps) ifd0 = ifd0 :+ long(0x8825, gpsAt)
    ifd0 = ifd0.sortBy(_.tag)

    val out = new ByteArrayOutputStream()
    val data = new ByteArrayOutputStream()
    var dataOff = dataAt
    def u16(v: Int): Unit =
      if (le) { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      else { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def u32(v: Long): Unit =
      if (le) { out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
        out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt) }
      else { out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt) }
    out.write(if (le) 'I' else 'M'); out.write(if (le) 'I' else 'M')
    u16(42); u32(8)
    def writeIfd(es: Seq[E]): Unit = {
      u16(es.length)
      es.foreach { e =>
        u16(e.tag); u16(e.tpe); u32(e.count)
        e.data match {
          case Some(b) => u32(dataOff); data.write(b); dataOff += b.length
          case None => u32(e.inline.get)
        }
      }
      u32(0) // no next IFD
    }
    writeIfd(ifd0)
    writeIfd(exifEntries)
    if (gps) writeIfd(gpsEntries)
    out.write(data.toByteArray)
    out.toByteArray
  }

  // ------------------------------------------------------------- parser

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    var p = 2
    var sofW = -1; var sofH = -1
    var tiff: Array[Byte] = null
    var done = false
    while (!done) {
      // FF fill bytes are legal padding before any marker
      while (p < bytes.length && (bytes(p) & 0xff) == 0xff &&
        p + 1 < bytes.length && (bytes(p + 1) & 0xff) == 0xff) p += 1
      if (p + 2 > bytes.length || (bytes(p) & 0xff) != 0xff) return None
      val m = bytes(p + 1) & 0xff
      if (m == 0xd9 || m == 0xda) done = true // EOI / SOS: metadata over
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) p += 2 // standalone
      else {
        if (p + 4 > bytes.length) return None
        val len = ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > bytes.length) return None // truncated
        val body = p + 4
        if (m >= 0xc0 && m <= 0xc3 && len >= 7) { // SOF0-3
          sofH = ((bytes(body + 1) & 0xff) << 8) | (bytes(body + 2) & 0xff)
          sofW = ((bytes(body + 3) & 0xff) << 8) | (bytes(body + 4) & 0xff)
        } else if (m == 0xe1 && len >= 8 && tiff == null &&
          bytes(body) == 'E' && bytes(body + 1) == 'x' &&
          bytes(body + 2) == 'i' && bytes(body + 3) == 'f' &&
          bytes(body + 4) == 0 && bytes(body + 5) == 0) {
          tiff = java.util.Arrays.copyOfRange(bytes, body + 6, p + 2 + len)
        }
        p += 2 + len
      }
    }
    val none = Meta(sofW, sofH, null, -1, null, null, null, -1, -1, -1,
      hasGps = false, -1, -1)
    if (tiff == null) return Some(none)
    parseTiff(tiff) match {
      case Some(t) => Some(t.copy(sofW = sofW, sofH = sofH))
      case None => Some(none) // invalid TIFF degrades to no-EXIF
    }
  }

  /** The TIFF tree alone (sof fields left -1). None when the header
    * or IFD0 fails validation — the caller degrades to no-EXIF.
    */
  private def parseTiff(b: Array[Byte]): Option[Meta] = {
    if (b.length < 8) return None
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return None
    def u16(p: Int): Int =
      if (p + 2 > b.length) -1
      else if (le) (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (p + 4 > b.length) -1L
      else if (le) (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
      else ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    if (u16(2) != 42) return None
    val ifd0 = u32(4)
    if (ifd0 < 8 || ifd0 + 2 > b.length) return None

    // one IFD's entries as (tag -> (type, count, valueFieldPos))
    def readIfd(at: Long): Seq[(Int, (Int, Long, Int))] = {
      if (at < 8 || at + 2 > b.length) return Seq.empty // 0 = no IFD
      val n = u16(at.toInt)
      if (n < 0 || at + 2 + n * 12 + 4 > b.length) return Seq.empty
      (0 until n).flatMap { i =>
        val e = (at + 2 + i * 12).toInt
        val tag = u16(e); val tpe = u16(e + 2); val cnt = u32(e + 4)
        if (tag < 0 || cnt < 0) None else Some(tag -> ((tpe, cnt, e + 8)))
      }
    }
    // value bytes: inline (left-justified) when total size <= 4
    def typeSize(t: Int): Int = t match {
      case 1 | 2 | 6 | 7 => 1; case 3 | 8 => 2; case 4 | 9 | 11 => 4
      case 5 | 10 | 12 => 8; case _ => 0
    }
    def valuePos(tpe: Int, cnt: Long, vf: Int): Int = {
      val sz = typeSize(tpe) * cnt
      if (sz <= 0) -1
      else if (sz <= 4) vf
      else { val off = u32(vf); if (off < 0 || off + sz > b.length) -1
        else off.toInt }
    }
    def asciiVal(e: Option[(Int, Long, Int)]): String = e match {
      case Some((2, cnt, vf)) =>
        val p = valuePos(2, cnt, vf)
        if (p < 0 || cnt <= 0) null
        else new String(b, p, cnt.toInt, "US-ASCII")
          .takeWhile(_ != '\u0000')
      case _ => null
    }
    def intVal(e: Option[(Int, Long, Int)]): Int = e match {
      case Some((3, cnt, vf)) if cnt >= 1 =>
        val p = valuePos(3, cnt, vf); if (p < 0) -1 else u16(p)
      case Some((4, cnt, vf)) if cnt >= 1 =>
        val p = valuePos(4, cnt, vf); if (p < 0) -1 else u32(p).toInt
      case _ => -1
    }
    val e0 = readIfd(ifd0)
    if (e0.isEmpty) return None
    val m0 = e0.toMap
    def ptr(tag: Int): Long = m0.get(tag) match {
      case Some((4, 1, vf)) => u32(vf)
      case Some((3, 1, vf)) => u16(vf).toLong // tolerated in the wild
      case _ => -1L
    }
    val exifE = if (ptr(0x8769) >= 0) readIfd(ptr(0x8769)) else Seq.empty
    val me = exifE.toMap
    val gpsE = if (ptr(0x8825) >= 0) readIfd(ptr(0x8825)) else Seq.empty
    Some(Meta(-1, -1, if (le) "II" else "MM",
      intVal(m0.get(0x0112)), asciiVal(m0.get(0x010f)),
      asciiVal(m0.get(0x0110)), asciiVal(me.get(0x9003)),
      intVal(me.get(0xa002)), intVal(me.get(0xa003)),
      intVal(me.get(0x8827)),
      hasGps = gpsE.nonEmpty, e0.length,
      if (gpsE.nonEmpty) gpsE.length else -1))
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("sof_w", IntegerType),
    StructField("sof_h", IntegerType),
    StructField("byte_order", StringType), // null when no/invalid EXIF
    StructField("orientation", IntegerType),
    StructField("make", StringType),
    StructField("model", StringType),
    StructField("dt_orig", StringType),
    StructField("pixel_w", IntegerType),
    StructField("pixel_h", IntegerType),
    StructField("iso", IntegerType),
    StructField("has_gps", BooleanType),
    StructField("n_ifd0", IntegerType),
    StructField("n_gps", IntegerType)))

  /** Appends `${binCol}_exif` (struct, null when not a JPEG). */
  def imageMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_exif", metaType)) { b =>
      def n(i: Int): Any = if (i >= 0) i else null
      parseMeta(b).map(x => Row(n(x.sofW), n(x.sofH), x.byteOrder,
        n(x.orientation), x.make, x.model, x.dtOrig, n(x.pixelW),
        n(x.pixelH), n(x.iso), x.hasGps, n(x.nIfd0), n(x.nGps))).orNull
    }
}
