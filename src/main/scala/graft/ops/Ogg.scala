package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** Ogg container metadata (Opus / Vorbis) — with [[Mpeg]] (MP3),
  * [[Mp4]] (AAC-in-MP4), and [[Flac]], this closes the set of audio
  * containers a web crawl actually yields; Opus-in-Ogg is the open
  * web's voice/podcast format. The walk reads PAGES only (RFC 3533:
  * `OggS` capture, version 0, header-type flags, a 64-bit granule
  * position, serial/sequence numbers, a CRC, and a lacing table) and
  * the first packet's identification header — `OpusHead` (RFC 7845
  * §5.1: channel count, pre-skip, input sample rate) or `\x01vorbis`
  * (Vorbis I §4.2.2: channels, sample rate) — never a codec frame.
  *
  * Duration is granule arithmetic, the published semantics: Opus
  * granules tick at 48 kHz regardless of input rate and subtract
  * pre-skip (RFC 7845 §4); Vorbis granules are samples at the stream
  * rate. The last COMPLETE page's granule supplies it, so a truncated
  * file yields the honest playable length, not the declared one.
  *
  * Every page's CRC is verified (the RFC 3533 0x04c11db7 table,
  * unreflected, CRC field zeroed during the sum) — a corrupt page
  * stops the walk exactly like [[Mpeg]]'s desync stop: pages before
  * it still count. No `OggS` at offset 0, an unknown first-packet
  * codec, or a version other than 0 parse to None.
  */
object Ogg {

  /** `durationMs` is -1 (null in the DataFrame) when no data page
    * advanced the granule (header-only streams) or the codec rate is
    * unusable; `preSkip` is -1 for Vorbis (an Opus-only field);
    * `complete` = the last walked page carried the end-of-stream flag
    * (0x04) — false means truncation or a stopped walk.
    */
  final case class Meta(codec: String, channels: Int, sampleRate: Int,
      preSkip: Int, nPages: Int, granuleLast: Long, durationMs: Long,
      serial: Long, complete: Boolean)

  // ---------------------------------------------------------------- CRC
  // RFC 3533 appendix: poly 0x04c11db7, init 0, no reflection, no xorout
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }
  private[graft] def crc(b: Array[Byte], from: Int, len: Int): Int = {
    var r = 0
    var i = from
    val end = from + len
    while (i < end) {
      r = (r << 8) ^ CrcTable(((r >>> 24) ^ (b(i) & 0xff)) & 0xff)
      i += 1
    }
    r
  }

  // ------------------------------------------------------------- builder

  /** One Ogg page. `granule` -1 encodes the RFC's "no packet ends
    * here" sentinel. Payload is spread over 255-byte lacing values
    * with the sub-255 terminator (a payload of exactly k*255 bytes
    * gets a trailing 0 lacing value, per spec).
    */
  def page(headerType: Int, granule: Long, serial: Long, seq: Long,
      payload: Array[Byte]): Array[Byte] = {
    val nFull = payload.length / 255
    val rem = payload.length % 255
    val nSegs = nFull + 1 // the terminating sub-255 (possibly 0) value
    require(nSegs <= 255, s"payload too large for one page: ${payload.length}")
    val out = new Array[Byte](27 + nSegs + payload.length)
    out(0) = 'O'; out(1) = 'g'; out(2) = 'g'; out(3) = 'S'
    out(4) = 0 // version
    out(5) = headerType.toByte
    var g = granule
    (0 until 8).foreach { i => out(6 + i) = (g & 0xff).toByte; g >>= 8 }
    var s = serial
    (0 until 4).foreach { i => out(14 + i) = (s & 0xff).toByte; s >>= 8 }
    var q = seq
    (0 until 4).foreach { i => out(18 + i) = (q & 0xff).toByte; q >>= 8 }
    // 22..25 crc, filled below
    out(26) = nSegs.toByte
    (0 until nFull).foreach(i => out(27 + i) = 0xff.toByte)
    out(27 + nFull) = rem.toByte
    System.arraycopy(payload, 0, out, 27 + nSegs, payload.length)
    val c = crc(out, 0, out.length)
    (0 until 4).foreach(i => out(22 + i) = ((c >>> (8 * i)) & 0xff).toByte)
    out
  }

  /** An Opus-in-Ogg (or Vorbis-in-Ogg) stream: BOS identification
    * page, a comment-header page, then `dataPages` audio pages whose
    * granules advance by `granulePerPage`, the last flagged EOS.
    */
  def build(codec: String, channels: Int, sampleRate: Int, preSkip: Int,
      serial: Long, dataPages: Int, granulePerPage: Long): Array[Byte] = {
    require(Seq("opus", "vorbis").contains(codec), codec)
    val idHeader: Array[Byte] = codec match {
      case "opus" =>
        val b = new ByteArrayOutputStream()
        b.write("OpusHead".getBytes("US-ASCII"))
        b.write(1) // version
        b.write(channels)
        b.write(preSkip & 0xff); b.write((preSkip >> 8) & 0xff)
        var r = sampleRate
        (0 until 4).foreach { _ => b.write(r & 0xff); r >>= 8 }
        b.write(0); b.write(0) // output gain
        b.write(0) // channel mapping family 0
        b.toByteArray
      case _ =>
        val b = new ByteArrayOutputStream()
        b.write(1); b.write("vorbis".getBytes("US-ASCII"))
        (0 until 4).foreach(_ => b.write(0)) // version 0
        b.write(channels)
        var r = sampleRate
        (0 until 4).foreach { _ => b.write(r & 0xff); r >>= 8 }
        (0 until 12).foreach(_ => b.write(0)) // bitrate triple
        b.write(0xb8) // blocksizes
        b.write(1) // framing bit
        b.toByteArray
    }
    val out = new ByteArrayOutputStream()
    out.write(page(0x02, 0L, serial, 0L, idHeader)) // BOS
    val comment = ("CMT!" + "tag=v" * 8).getBytes("US-ASCII")
    out.write(page(0x00, 0L, serial, 1L, comment))
    (1 to dataPages).foreach { i =>
      val ht = if (i == dataPages) 0x04 else 0x00 // EOS on the last
      val payload = new Array[Byte](40 + i % 7)
      java.util.Arrays.fill(payload, i.toByte)
      out.write(page(ht, granulePerPage * i + (if (codec == "opus") preSkip
        else 0), serial, 1L + i, payload))
    }
    out.toByteArray
  }

  // ------------------------------------------------------------- parser

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 27) return None
    if (bytes(0) != 'O' || bytes(1) != 'g' || bytes(2) != 'g' ||
      bytes(3) != 'S') return None
    if (bytes(4) != 0) return None // only version 0 exists

    def u32le(p: Int): Long =
      (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
    def u64le(p: Int): Long = u32le(p) | (u32le(p + 4) << 32)

    // walk pages: each must be complete and CRC-clean to count
    var p = 0
    var nPages = 0
    var granule = -1L
    var serial = -1L
    var complete = false
    var firstPayload: Array[Byte] = null
    var ok = true
    while (ok && p + 27 <= bytes.length && bytes(p) == 'O' &&
      bytes(p + 1) == 'g' && bytes(p + 2) == 'g' && bytes(p + 3) == 'S' &&
      bytes(p + 4) == 0) {
      val nSegs = bytes(p + 26) & 0xff
      if (p + 27 + nSegs > bytes.length) ok = false
      else {
        var payloadLen = 0
        (0 until nSegs).foreach(i => payloadLen += bytes(p + 27 + i) & 0xff)
        val total = 27 + nSegs + payloadLen
        if (p + total > bytes.length) ok = false
        else {
          // CRC with the stored field zeroed (RFC 3533 §6)
          val stored = u32le(p + 22).toInt
          val copy = java.util.Arrays.copyOfRange(bytes, p, p + total)
          copy(22) = 0; copy(23) = 0; copy(24) = 0; copy(25) = 0
          if (crc(copy, 0, copy.length) != stored) ok = false
          else {
            if (nPages == 0) {
              serial = u32le(p + 14)
              firstPayload = java.util.Arrays.copyOfRange(
                bytes, p + 27 + nSegs, p + total)
            }
            val g = u64le(p + 6)
            if (g >= 0) granule = g // -1 = no packet ends here
            complete = (bytes(p + 5) & 0x04) != 0
            nPages += 1
            p += total
          }
        }
      }
    }
    if (nPages == 0 || firstPayload == null) return None

    def fpU16le(q: Int): Int =
      (firstPayload(q) & 0xff) | ((firstPayload(q + 1) & 0xff) << 8)
    def fpU32le(q: Int): Int =
      fpU16le(q) | (fpU16le(q + 2) << 16)
    def fpIs(q: Int, s: String): Boolean =
      q + s.length <= firstPayload.length &&
        new String(firstPayload, q, s.length, "US-ASCII") == s

    if (fpIs(0, "OpusHead") && firstPayload.length >= 19) {
      val ch = firstPayload(9) & 0xff
      val preSkip = fpU16le(10)
      val inputRate = fpU32le(12)
      // Opus granules tick at 48 kHz and subtract pre-skip (RFC 7845)
      val dur =
        if (granule > preSkip) (granule - preSkip) * 1000L / 48000L else -1L
      Some(Meta("opus", ch, inputRate, preSkip, nPages, granule, dur,
        serial, complete))
    } else if (firstPayload.length >= 30 && firstPayload(0) == 1 &&
      fpIs(1, "vorbis")) {
      val ch = firstPayload(11) & 0xff
      val rate = fpU32le(12)
      val dur = if (granule > 0 && rate > 0) granule * 1000L / rate else -1L
      Some(Meta("vorbis", ch, rate, -1, nPages, granule, dur, serial,
        complete))
    } else None // unknown codec in an Ogg wrapper (speex/theora/flac)
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("codec", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("pre_skip", IntegerType), // null for vorbis
    StructField("n_pages", IntegerType),
    StructField("granule_last", LongType),
    StructField("duration_ms", LongType), // null when underivable
    StructField("serial", LongType),
    StructField("complete", BooleanType)))

  /** Appends `${binCol}_ogg` (struct, null when unparseable). */
  def audioMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_ogg", metaType)) { b =>
      def n(i: Int): Any = if (i >= 0) i else null
      parseMeta(b).map(x => Row(x.codec, x.channels, x.sampleRate,
        n(x.preSkip), x.nPages, x.granuleLast,
        if (x.durationMs >= 0) x.durationMs else null,
        x.serial, x.complete)).orNull
    }
}
