package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** ID3v2 text frames — the provenance layer [[Mpeg]] skips by size:
  * the MP3 walk reads the tag's syncsafe length to find the audio;
  * this op reads what is INSIDE — title/artist/album/year (TIT2,
  * TPE1, TALB, TDRC/TYER), the fields an audio curation pipeline
  * dedups and attributes by. The grammar is the published id3.org
  * layout: a 10-byte header (`ID3`, version, flags, syncsafe u28
  * size), then frames of 4-char id + size + 2 flag bytes, each text
  * frame carrying an encoding byte — 0 Latin-1, 1 UTF-16 with BOM,
  * 2 UTF-16BE, 3 UTF-8 (v2.4) — all four decoded here.
  *
  * v2.3 vs v2.4 differences that matter and are handled: frame sizes
  * are PLAIN u32 in v2.3 but SYNCSAFE in v2.4; the year lives in
  * TYER (v2.3) vs TDRC (v2.4) — both surface as `year`. Extended
  * headers are skipped by their declared size. Unknown frames
  * size-skip; a malformed frame stops the walk with fields parsed so
  * far (the [[Mpeg]] desync convention). No `ID3` magic → None —
  * bare MP3s have no tag, and that is a null, not an error.
  */
object Id3 {

  final case class Meta(version: Int, tagBytes: Int, title: String,
      artist: String, album: String, year: String, nFrames: Int)

  // ------------------------------------------------------------- builder

  /** An ID3v2.3 or v2.4 tag followed by `audio` bytes. Frames encode
    * per `enc` (0/1/2/3); v2.3 writes TYER, v2.4 TDRC.
    */
  def build(version: Int, title: String, artist: String, album: String,
      year: String, enc: Int, audio: Array[Byte] = Array.emptyByteArray,
      padding: Int = 0): Array[Byte] = {
    require(version == 3 || version == 4, s"v2.$version")
    require(enc >= 0 && enc <= 3, s"enc $enc")
    require(enc != 3 || version == 4, "UTF-8 is v2.4-only")
    val out = new java.io.ByteArrayOutputStream()
    def text(s: String): Array[Byte] = enc match {
      case 0 => s.getBytes("ISO-8859-1")
      case 1 => Array(0xff.toByte, 0xfe.toByte) ++ s.getBytes("UTF-16LE")
      case 2 => s.getBytes("UTF-16BE")
      case _ => s.getBytes("UTF-8")
    }
    def frame(id: String, s: String): Unit = {
      val body = enc.toByte +: text(s)
      out.write(id.getBytes("US-ASCII"))
      val n = body.length
      if (version == 4) { // syncsafe
        out.write((n >> 21) & 0x7f); out.write((n >> 14) & 0x7f)
        out.write((n >> 7) & 0x7f); out.write(n & 0x7f)
      } else {
        out.write((n >> 24) & 0xff); out.write((n >> 16) & 0xff)
        out.write((n >> 8) & 0xff); out.write(n & 0xff)
      }
      out.write(0); out.write(0) // frame flags
      out.write(body)
    }
    frame("TIT2", title)
    frame("TPE1", artist)
    frame("TALB", album)
    frame(if (version == 4) "TDRC" else "TYER", year)
    (0 until padding).foreach(_ => out.write(0))
    val frames = out.toByteArray
    val full = new java.io.ByteArrayOutputStream()
    full.write('I'); full.write('D'); full.write('3')
    full.write(version); full.write(0); full.write(0)
    val sz = frames.length
    full.write((sz >> 21) & 0x7f); full.write((sz >> 14) & 0x7f)
    full.write((sz >> 7) & 0x7f); full.write(sz & 0x7f)
    full.write(frames)
    full.write(audio)
    full.toByteArray
  }

  // ------------------------------------------------------------- parser

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 10) return None
    if (bytes(0) != 'I' || bytes(1) != 'D' || bytes(2) != '3') return None
    val version = bytes(3) & 0xff
    if (version < 2 || version > 4) return None
    val flags = bytes(5) & 0xff
    val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
      ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
    val end = math.min(10 + size, bytes.length)
    var p = 10
    if ((flags & 0x40) != 0 && p + 4 <= end) {
      // extended header: v2.4 size is syncsafe and INCLUDES itself;
      // v2.3 size excludes its own 4 length bytes
      val ehSize =
        if (version == 4) ((bytes(p) & 0x7f) << 21) |
          ((bytes(p + 1) & 0x7f) << 14) | ((bytes(p + 2) & 0x7f) << 7) |
          (bytes(p + 3) & 0x7f)
        else (((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
          ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)) + 4
      p += math.max(ehSize, 4)
    }
    var title: String = null; var artist: String = null
    var album: String = null; var year: String = null
    var nFrames = 0
    var ok = true
    while (ok && p + 10 <= end && bytes(p) != 0) {
      val id = new String(bytes, p, 4, "US-ASCII")
      if (!id.forall(c => (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9'))) {
        ok = false
      } else {
        val n =
          if (version == 4) ((bytes(p + 4) & 0x7f) << 21) |
            ((bytes(p + 5) & 0x7f) << 14) | ((bytes(p + 6) & 0x7f) << 7) |
            (bytes(p + 7) & 0x7f)
          else ((bytes(p + 4) & 0xff) << 24) | ((bytes(p + 5) & 0xff) << 16) |
            ((bytes(p + 6) & 0xff) << 8) | (bytes(p + 7) & 0xff)
        if (n < 0 || p + 10 + n > end) ok = false
        else {
          nFrames += 1
          if (id.startsWith("T") && n >= 1) {
            val enc = bytes(p + 10) & 0xff
            val body = java.util.Arrays.copyOfRange(bytes, p + 11, p + 10 + n)
            val s = decodeText(enc, body)
            id match {
              case "TIT2" => title = s
              case "TPE1" => artist = s
              case "TALB" => album = s
              case "TYER" | "TDRC" => year = s
              case _ => ()
            }
          }
          p += 10 + n
        }
      }
    }
    Some(Meta(version, 10 + size, title, artist, album, year, nFrames))
  }

  private def decodeText(enc: Int, b: Array[Byte]): String = {
    val s = enc match {
      case 0 => new String(b, "ISO-8859-1")
      case 1 => // UTF-16 with BOM; default LE when the BOM is absent
        if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
          new String(b, 2, b.length - 2, "UTF-16BE")
        else if (b.length >= 2 && (b(0) & 0xff) == 0xff &&
          (b(1) & 0xff) == 0xfe)
          new String(b, 2, b.length - 2, "UTF-16LE")
        else new String(b, "UTF-16LE")
      case 2 => new String(b, "UTF-16BE")
      case 3 => new String(b, "UTF-8")
      case _ => return null // undefined encoding byte
    }
    // text frames may carry a terminating NUL (and v2.4 multi-values
    // NUL-separate; the first value is this op's scope)
    val cut = s.indexOf('\u0000')
    if (cut >= 0) s.substring(0, cut) else s
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("version", IntegerType),
    StructField("tag_bytes", IntegerType),
    StructField("title", StringType),
    StructField("artist", StringType),
    StructField("album", StringType),
    StructField("year", StringType),
    StructField("n_frames", IntegerType)))

  /** Appends `${binCol}_id3` (struct, null when untagged). */
  def tagMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_id3", metaType)) { b =>
      parseMeta(b).map(x => Row(x.version, x.tagBytes, x.title, x.artist,
        x.album, x.year, x.nFrames)).orNull
    }
}
