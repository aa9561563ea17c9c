package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** FLAC STREAMINFO metadata — the lossless sibling of [[Mpeg]]: the
  * last common audio container ([[Multimodal.decodeWav]] PCM,
  * [[Mp4]] MP4/fMP4, [[Mpeg]] MP3) without a metadata walk. What a
  * curation pipeline needs from a `.flac` column is stream shape —
  * sample rate, channels, bit depth, total samples (hence exact
  * duration) — and ALL of it lives in the mandatory first metadata
  * block (STREAMINFO, published layout: RFC 9639 §8.2 / the xiph
  * format spec), so the walk reads block headers only and never
  * touches an audio frame.
  *
  * Layout walked here: `fLaC` magic, then metadata blocks each headed
  * by 1 byte (bit 7 = last-block flag, bits 0–6 = type) + u24
  * big-endian payload length. Type 0 STREAMINFO (34 bytes, required
  * first): u16 min/max block size, u24 min/max frame size, then a
  * packed u20 sample rate, u3 channels−1, u5 bits-per-sample−1,
  * u36 total samples, 16-byte MD5. Type 4 VORBIS_COMMENT (the tagging
  * block: u32 LITTLE-endian lengths — the one LE island in an
  * otherwise BE format) contributes a comment count; type 1 PADDING
  * contributes its byte size (reserved tag headroom — a repack
  * signal).
  *
  * Honest nulls, the [[Mp4.parseMeta]] boundary: bad magic, a
  * truncated block, STREAMINFO absent/not-first/wrong-sized, or a
  * declared sample rate of 0 (invalid per spec, and the duration
  * divisor) parse to None. Validation parity is in-repo builder +
  * FlacSpec hand-computed offsets + the q174 analytic oracle — no
  * third-party FLAC tool ships in this container.
  */
object Flac {

  /** `totalSamples` is STREAMINFO's u36 inter-channel sample count
    * (0 = unknown per spec → `durationMs` null-signalled as -1 at the
    * case-class layer, null in the DataFrame); `nBlocks` counts ALL
    * metadata blocks including STREAMINFO; `paddingBytes` sums type-1
    * payloads; `nComments` is the VORBIS_COMMENT user-comment count
    * (-1 = no such block, distinct from an empty one).
    */
  final case class Meta(sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, durationMs: Long, minBlockSize: Int,
      maxBlockSize: Int, nBlocks: Int, paddingBytes: Int, nComments: Int)

  // ------------------------------------------------------------- builder

  /** A FLAC header: magic + STREAMINFO (+ VORBIS_COMMENT when
    * `comments` is non-empty, + PADDING when `paddingSize >= 0`), the
    * last block flagged, followed by `frameBytes` of opaque audio-
    * frame filler (the walk never reads it — realism only).
    */
  def build(sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, blockSize: Int = 4096,
      comments: Seq[(String, String)] = Nil, paddingSize: Int = -1,
      frameBytes: Int = 64): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"sr $sampleRate")
    require(channels >= 1 && channels <= 8, s"ch $channels")
    require(bitsPerSample >= 4 && bitsPerSample <= 32, s"bps $bitsPerSample")
    require(totalSamples >= 0 && totalSamples < (1L << 36), s"n $totalSamples")
    val out = new ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    def block(tpe: Int, last: Boolean, payload: Array[Byte]): Unit = {
      out.write((if (last) 0x80 else 0x00) | tpe)
      out.write((payload.length >> 16) & 0xff)
      out.write((payload.length >> 8) & 0xff)
      out.write(payload.length & 0xff)
      out.write(payload)
    }
    val si = new Array[Byte](34)
    si(0) = (blockSize >> 8).toByte; si(1) = blockSize.toByte // min
    si(2) = (blockSize >> 8).toByte; si(3) = blockSize.toByte // max
    // min/max frame size (u24 each) left 0 = unknown, spec-legal
    si(10) = (sampleRate >> 12).toByte
    si(11) = ((sampleRate >> 4) & 0xff).toByte
    si(12) = (((sampleRate & 0xf) << 4) | ((channels - 1) << 1) |
      ((bitsPerSample - 1) >> 4)).toByte
    si(13) = ((((bitsPerSample - 1) & 0xf) << 4) |
      ((totalSamples >> 32) & 0xf).toInt).toByte
    si(14) = ((totalSamples >> 24) & 0xff).toByte
    si(15) = ((totalSamples >> 16) & 0xff).toByte
    si(16) = ((totalSamples >> 8) & 0xff).toByte
    si(17) = (totalSamples & 0xff).toByte
    (18 until 34).foreach(i => si(i) = (i * 7).toByte) // fixture MD5
    val hasVc = comments.nonEmpty
    val hasPad = paddingSize >= 0
    block(0, last = !hasVc && !hasPad, si)
    if (hasVc) {
      val vc = new ByteArrayOutputStream()
      def le32(v: Int): Unit = {
        vc.write(v & 0xff); vc.write((v >> 8) & 0xff)
        vc.write((v >> 16) & 0xff); vc.write((v >> 24) & 0xff)
      }
      val vendor = "graft".getBytes("UTF-8")
      le32(vendor.length); vc.write(vendor)
      le32(comments.length)
      comments.foreach { case (k, v) =>
        val b = s"$k=$v".getBytes("UTF-8")
        le32(b.length); vc.write(b)
      }
      block(4, last = !hasPad, vc.toByteArray)
    }
    if (hasPad) block(1, last = true, new Array[Byte](paddingSize))
    (0 until frameBytes).foreach(i => out.write(if (i == 0) 0xff else i % 251))
    out.toByteArray
  }

  // ------------------------------------------------------------- parser

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 4 + 4 + 34) return None
    if (bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' ||
      bytes(3) != 'C') return None
    var p = 4
    var last = false
    var first = true
    var sr = 0; var ch = 0; var bps = 0; var minB = 0; var maxB = 0
    var total = 0L
    var nBlocks = 0; var padBytes = 0; var nComments = -1
    while (!last) {
      if (p + 4 > bytes.length) return None // truncated block header
      val hdr = bytes(p) & 0xff
      last = (hdr & 0x80) != 0
      val tpe = hdr & 0x7f
      val len = ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) |
        (bytes(p + 3) & 0xff)
      val body = p + 4
      if (body + len > bytes.length) return None // truncated payload
      if (first && (tpe != 0 || len != 34)) return None // STREAMINFO first
      if (!first && tpe == 0) return None // duplicate STREAMINFO
      tpe match {
        case 0 =>
          minB = ((bytes(body) & 0xff) << 8) | (bytes(body + 1) & 0xff)
          maxB = ((bytes(body + 2) & 0xff) << 8) | (bytes(body + 3) & 0xff)
          sr = ((bytes(body + 10) & 0xff) << 12) |
            ((bytes(body + 11) & 0xff) << 4) | ((bytes(body + 12) & 0xf0) >> 4)
          ch = ((bytes(body + 12) >> 1) & 0x07) + 1
          bps = (((bytes(body + 12) & 0x01) << 4) |
            ((bytes(body + 13) & 0xf0) >> 4)) + 1
          total = ((bytes(body + 13) & 0x0fL) << 32) |
            ((bytes(body + 14) & 0xffL) << 24) |
            ((bytes(body + 15) & 0xffL) << 16) |
            ((bytes(body + 16) & 0xffL) << 8) | (bytes(body + 17) & 0xffL)
        case 1 => padBytes += len
        case 4 =>
          // little-endian lengths (the Vorbis heritage): vendor, count
          def le32(q: Int): Long =
            (bytes(q) & 0xffL) | ((bytes(q + 1) & 0xffL) << 8) |
              ((bytes(q + 2) & 0xffL) << 16) | ((bytes(q + 3) & 0xffL) << 24)
          if (len >= 8) {
            val vlen = le32(body)
            val cntAt = body + 4 + vlen
            if (vlen >= 0 && cntAt + 4 <= body + len)
              nComments = le32(cntAt.toInt).toInt
          }
        case _ => () // SEEKTABLE/APPLICATION/CUESHEET/PICTURE: size-skip
      }
      nBlocks += 1
      first = false
      p = body + len
    }
    if (sr == 0) return None // invalid per spec; also the duration divisor
    Some(Meta(sr, ch, bps, total,
      if (total == 0) -1L else total * 1000L / sr,
      minB, maxB, nBlocks, padBytes, nComments))
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("total_samples", LongType),
    StructField("duration_ms", LongType), // null when total unknown (0)
    StructField("min_block", IntegerType),
    StructField("max_block", IntegerType),
    StructField("n_blocks", IntegerType),
    StructField("padding_bytes", IntegerType),
    StructField("n_comments", IntegerType))) // null when no VORBIS_COMMENT

  /** Appends `${binCol}_flac` (struct, null when unparseable). */
  def audioMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_flac", metaType)) { b =>
      parseMeta(b).map(x => Row(x.sampleRate, x.channels, x.bitsPerSample,
        x.totalSamples, if (x.durationMs >= 0) x.durationMs else null,
        x.minBlockSize, x.maxBlockSize, x.nBlocks, x.paddingBytes,
        if (x.nComments >= 0) x.nComments else null)).orNull
    }
}
