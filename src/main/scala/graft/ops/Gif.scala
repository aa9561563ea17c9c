package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** GIF structure metadata — the last of the legacy web-image trio
  * ([[Png]], [[Exif]]/JPEG) to get a walk: what routing needs from a
  * `.gif` is whether it is an ANIMATION (frame count, total duration,
  * loop count — a multi-frame GIF is a video for curation purposes,
  * exactly like APNG), and all of it sits in the published GIF89a
  * grammar without touching a pixel: the logical screen descriptor
  * (little-endian u16 dims, global-color-table flag/size), then a
  * block stream — `0x2C` image descriptors whose LZW payload rides
  * in SIZE-PREFIXED sub-blocks (skippable without decoding), `0x21`
  * extensions (graphic control carries the per-frame delay in
  * centiseconds; the NETSCAPE2.0 application block carries the loop
  * count), `0x3B` trailer.
  *
  * Honest boundaries: bad magic → None; a torn block stream keeps
  * the frames counted so far with `complete` false ([[Png]]'s
  * convention — crawled GIFs truncate constantly).
  */
object Gif {

  final case class Meta(width: Int, height: Int, gctColors: Int,
      nFrames: Int, animated: Boolean, totalDelayMs: Long, loopCount: Int,
      hasComment: Boolean, complete: Boolean)

  // ------------------------------------------------------------- builder

  /** `delaysCs` per frame (centiseconds, a GCE before each frame);
    * `loop` >= 0 writes the NETSCAPE2.0 block (0 = forever).
    */
  def build(width: Int, height: Int, frames: Int, delaysCs: Seq[Int] = Nil,
      loop: Int = -1, gctSize: Int = 1, comment: String = null): Array[Byte] = {
    require(frames >= 1, s"frames $frames")
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(width); u16(height)
    u8(0x80 | gctSize); u8(0); u8(0) // GCT present, size 2^(g+1)
    (0 until 3 * (1 << (gctSize + 1))).foreach(i => u8(i * 7))
    if (loop >= 0) {
      u8(0x21); u8(0xff); u8(11)
      out.write("NETSCAPE2.0".getBytes("US-ASCII"))
      u8(3); u8(1); u16(loop); u8(0)
    }
    if (comment != null) {
      u8(0x21); u8(0xfe)
      val cb = comment.getBytes("US-ASCII")
      u8(cb.length); out.write(cb); u8(0)
    }
    (0 until frames).foreach { f =>
      if (f < delaysCs.length) {
        u8(0x21); u8(0xf9); u8(4)
        u8(0); u16(delaysCs(f)); u8(0); u8(0)
      }
      u8(0x2c)
      u16(0); u16(0); u16(width); u16(height)
      u8(0) // no local color table
      u8(8) // LZW min code size
      val data = Array.tabulate[Byte](20 + f % 5)(i => (i * 13).toByte)
      u8(data.length); out.write(data)
      u8(0) // sub-block terminator
    }
    u8(0x3b)
    out.toByteArray
  }

  // ------------------------------------------------------------- parser

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 13) return None
    val magic = new String(bytes, 0, 6, "US-ASCII")
    if (magic != "GIF87a" && magic != "GIF89a") return None
    def u16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    val w = u16(6); val h = u16(8)
    val flags = bytes(10) & 0xff
    val gct = if ((flags & 0x80) != 0) 1 << ((flags & 0x07) + 1) else 0
    var p = 13 + (if (gct > 0) 3 * gct else 0)

    var nFrames = 0
    var totalDelayCs = 0L
    var loop = -1
    var hasComment = false
    var complete = false
    var ok = true
    // skip a sub-block chain; -1 on truncation
    def skipSubBlocks(from: Int): Int = {
      var q = from
      while (q < bytes.length && (bytes(q) & 0xff) != 0) {
        q += 1 + (bytes(q) & 0xff)
      }
      if (q >= bytes.length) -1 else q + 1
    }
    while (ok && !complete && p < bytes.length) {
      (bytes(p) & 0xff) match {
        case 0x3b => complete = true
        case 0x2c =>
          if (p + 10 > bytes.length) ok = false
          else {
            val lflags = bytes(p + 9) & 0xff
            val lct = if ((lflags & 0x80) != 0)
              3 * (1 << ((lflags & 0x07) + 1)) else 0
            val dataAt = p + 10 + lct + 1 // + LZW min code size byte
            if (dataAt > bytes.length) ok = false
            else skipSubBlocks(dataAt) match {
              case -1 => ok = false
              case next => nFrames += 1; p = next
            }
          }
        case 0x21 =>
          if (p + 2 > bytes.length) ok = false
          else {
            val label = bytes(p + 1) & 0xff
            if (label == 0xf9 && p + 7 <= bytes.length &&
              (bytes(p + 2) & 0xff) == 4)
              totalDelayCs += u16(p + 4)
            if (label == 0xfe) hasComment = true
            if (label == 0xff && p + 14 <= bytes.length &&
              new String(bytes, p + 3, 11, "US-ASCII") == "NETSCAPE2.0" &&
              p + 18 <= bytes.length && (bytes(p + 14) & 0xff) == 3)
              loop = u16(p + 16)
            skipSubBlocks(p + 2) match { // chain starts AT the size byte
              case -1 => ok = false
              case next => p = next
            }
          }
        case _ => ok = false // unknown block: no way to size it
      }
    }
    if (w <= 0 && h <= 0 && nFrames == 0) return None
    Some(Meta(w, h, gct, nFrames, nFrames > 1, totalDelayCs * 10L, loop,
      hasComment, complete))
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("gct_colors", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("animated", BooleanType),
    StructField("total_delay_ms", LongType),
    StructField("loop_count", IntegerType), // null without NETSCAPE2.0
    StructField("has_comment", BooleanType),
    StructField("complete", BooleanType)))

  /** Appends `${binCol}_gif` (struct, null when not a GIF). */
  def imageMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_gif", metaType)) { b =>
      parseMeta(b).map(x => Row(x.width, x.height, x.gctColors, x.nFrames,
        x.animated, x.totalDelayMs, if (x.loopCount >= 0) x.loopCount else null,
        x.hasComment, x.complete)).orNull
    }
}
