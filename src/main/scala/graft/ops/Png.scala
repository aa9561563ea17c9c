package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** PNG chunk metadata — what the pixel path ([[Multimodal]]'s ImageIO
  * decode) cannot see: PNG carries PROVENANCE in its text chunks, and
  * for a modern crawl that includes the single highest-value curation
  * signal in the format — AI image generators write their prompts and
  * settings into `tEXt`/`iTXt` (Stable Diffusion's `parameters`,
  * ComfyUI's `prompt`/`workflow`, chromium's `Software`) — plus
  * animation (APNG `acTL`: a "PNG" that is actually a video), color
  * depth/type, physical DPI, and embedded `eXIf`. The walk is the
  * published ISO 15948 layout: 8-byte signature, then chunks of
  * u32 length + 4-char type + payload + CRC32 over type+payload
  * (java.util.zip.CRC32 — verified per chunk; a corrupt chunk stops
  * the walk at the last clean one, [[Ogg]]'s convention).
  *
  * Honest boundaries: bad signature → None; IHDR absent/short →
  * None (a PNG without IHDR is unreadable by design); a truncated
  * or CRC-corrupt tail keeps everything before it, `complete` false
  * (IEND unseen). iTXt values surface only for the UNCOMPRESSED form
  * (compression flag 0 — the overwhelmingly common case for
  * generator metadata); compressed iTXt reports the key with a null
  * value rather than inflating unbounded text in the metadata walk.
  */
object Png {

  /** `textKeys`/`textValues` are parallel, in chunk order (tEXt and
    * uncompressed iTXt); `aiGenerated` = a known generator key is
    * present (`parameters`, `prompt`, `workflow`) — the routing flag,
    * not a verdict. `animated` = acTL before IDAT (APNG).
    */
  final case class Meta(width: Int, height: Int, bitDepth: Int,
      colorType: Int, interlaced: Boolean, nChunks: Int, animated: Boolean,
      nFrames: Int, dpiX: Int, hasExif: Boolean, textKeys: Seq[String],
      textValues: Seq[String], aiGenerated: Boolean, complete: Boolean)

  private val GeneratorKeys = Set("parameters", "prompt", "workflow")

  // ------------------------------------------------------------- builder

  def chunk(tpe: String, payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    u32(payload.length)
    val t = tpe.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(t); crc.update(payload)
    out.write(t); out.write(payload)
    u32(crc.getValue)
    out.toByteArray
  }

  /** A structurally-real PNG: signature, IHDR, optional pHYs/acTL/
    * eXIf/text chunks, a token IDAT, IEND. `texts` become tEXt when
    * the value is Latin-1-safe and `itxt` is false, else iTXt
    * (uncompressed, no language/translated-keyword).
    */
  def build(width: Int, height: Int, bitDepth: Int = 8, colorType: Int = 6,
      interlaced: Boolean = false, dpi: Int = -1,
      animFrames: Int = -1, exif: Boolean = false,
      texts: Seq[(String, String)] = Nil, itxt: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
      .map(_.toByte))
    val ihdr = new Array[Byte](13)
    def be32(a: Array[Byte], p: Int, v: Int): Unit = {
      a(p) = (v >> 24).toByte; a(p + 1) = (v >> 16).toByte
      a(p + 2) = (v >> 8).toByte; a(p + 3) = v.toByte
    }
    be32(ihdr, 0, width); be32(ihdr, 4, height)
    ihdr(8) = bitDepth.toByte; ihdr(9) = colorType.toByte
    ihdr(12) = if (interlaced) 1 else 0
    out.write(chunk("IHDR", ihdr))
    if (dpi > 0) {
      val p = new Array[Byte](9)
      val ppm = Math.round(dpi / 0.0254).toInt // inches -> meters
      be32(p, 0, ppm); be32(p, 4, ppm); p(8) = 1
      out.write(chunk("pHYs", p))
    }
    if (animFrames > 0) {
      val a = new Array[Byte](8)
      be32(a, 0, animFrames); be32(a, 4, 0) // num_frames, loop forever
      out.write(chunk("acTL", a))
    }
    if (exif) out.write(chunk("eXIf",
      Array[Byte]('M', 'M', 0, 42, 0, 0, 0, 8, 0, 0)))
    texts.foreach { case (k, v) =>
      if (itxt) {
        val b = new ByteArrayOutputStream()
        b.write(k.getBytes("ISO-8859-1")); b.write(0)
        b.write(0); b.write(0) // compression flag 0, method 0
        b.write(0); b.write(0) // empty language tag, translated kw
        b.write(v.getBytes("UTF-8"))
        out.write(chunk("iTXt", b.toByteArray))
      } else {
        val b = new ByteArrayOutputStream()
        b.write(k.getBytes("ISO-8859-1")); b.write(0)
        b.write(v.getBytes("ISO-8859-1"))
        out.write(chunk("tEXt", b.toByteArray))
      }
    }
    out.write(chunk("IDAT", Array[Byte](0x78, 0x01, 1, 0, 0))) // token
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  // ------------------------------------------------------------- parser

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 8 + 25) return None
    val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    var i = 0
    while (i < 8) { if ((bytes(i) & 0xff) != sig(i)) return None; i += 1 }
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)

    var p = 8
    var w = -1; var h = -1; var depth = -1; var color = -1
    var interlaced = false
    var nChunks = 0
    var animated = false; var nFrames = -1
    var dpiX = -1; var hasExif = false
    val keys = Seq.newBuilder[String]
    val values = Seq.newBuilder[String]
    var complete = false
    var beforeIdat = true
    var ok = true
    while (ok && !complete && p + 12 <= bytes.length) {
      val len = u32(p)
      if (len > Int.MaxValue - 12 || p + 12 + len > bytes.length) ok = false
      else {
        val tpe = new String(bytes, p + 4, 4, "US-ASCII")
        val body = p + 8
        // CRC over type+payload, the spec's coverage
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, p + 4, 4 + len.toInt)
        if (crc.getValue != u32(body + len.toInt)) ok = false
        else {
          if (nChunks == 0 && (tpe != "IHDR" || len != 13)) return None
          tpe match {
            case "IHDR" =>
              w = u32(body).toInt; h = u32(body + 4).toInt
              depth = bytes(body + 8) & 0xff
              color = bytes(body + 9) & 0xff
              interlaced = bytes(body + 12) != 0
            case "pHYs" if len == 9 && bytes(body + 8) == 1 =>
              // pixels-per-meter -> DPI, rounded
              dpiX = Math.round(u32(body) * 0.0254).toInt
            case "acTL" if beforeIdat && len >= 4 =>
              animated = true; nFrames = u32(body).toInt
            case "eXIf" => hasExif = true
            case "IDAT" => beforeIdat = false
            case "tEXt" =>
              val nul = indexOf(bytes, body, body + len.toInt, 0)
              if (nul >= 0) {
                keys += new String(bytes, body, nul - body, "ISO-8859-1")
                values += new String(bytes, nul + 1,
                  body + len.toInt - nul - 1, "ISO-8859-1")
              }
            case "iTXt" =>
              val nul = indexOf(bytes, body, body + len.toInt, 0)
              if (nul >= 0 && nul + 2 < body + len.toInt) {
                val key = new String(bytes, body, nul - body, "ISO-8859-1")
                val compressed = bytes(nul + 1) != 0
                // skip language tag and translated keyword (two NULs)
                val lt = indexOf(bytes, nul + 3, body + len.toInt, 0)
                val tk = if (lt >= 0)
                  indexOf(bytes, lt + 1, body + len.toInt, 0) else -1
                keys += key
                values += (if (!compressed && tk >= 0)
                  new String(bytes, tk + 1, body + len.toInt - tk - 1,
                    "UTF-8")
                else null)
              }
            case "IEND" => complete = true
            case _ => () // ancillary chunks size-skip
          }
          nChunks += 1
          p = body + len.toInt + 4
        }
      }
    }
    if (w < 0) return None // no clean IHDR
    val ks = keys.result()
    Some(Meta(w, h, depth, color, interlaced, nChunks, animated, nFrames,
      dpiX, hasExif, ks, values.result(),
      ks.exists(k => GeneratorKeys.contains(k)), complete))
  }

  private def indexOf(b: Array[Byte], from: Int, until: Int, v: Int): Int = {
    var i = from
    while (i < until) { if ((b(i) & 0xff) == v) return i; i += 1 }
    -1
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("bit_depth", IntegerType),
    StructField("color_type", IntegerType),
    StructField("interlaced", BooleanType),
    StructField("n_chunks", IntegerType),
    StructField("animated", BooleanType),
    StructField("n_frames", IntegerType), // null unless APNG
    StructField("dpi", IntegerType), // null without pHYs
    StructField("has_exif", BooleanType),
    StructField("text_keys", ArrayType(StringType)),
    StructField("text_values", ArrayType(StringType)),
    StructField("ai_generated", BooleanType),
    StructField("complete", BooleanType)))

  /** Appends `${binCol}_png` (struct, null when not a PNG). */
  def imageMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_png", metaType)) { b =>
      def n(i: Int): Any = if (i >= 0) i else null
      parseMeta(b).map(x => Row(x.width, x.height, x.bitDepth, x.colorType,
        x.interlaced, x.nChunks, x.animated, n(x.nFrames), n(x.dpiX),
        x.hasExif, x.textKeys, x.textValues, x.aiGenerated, x.complete)).orNull
    }
}
