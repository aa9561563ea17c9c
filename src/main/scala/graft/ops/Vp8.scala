package graft.ops

import scala.collection.mutable.ArrayBuffer

/** Pure-Scala VP8 (lossy WebP) INTRA keyframe codec — RFC 6386,
  * the last pixel-blind spot of the image stack (VERDICT r10 missing
  * #2: dims parsed since r10, features/dHash stayed null for the
  * majority-share lossy WebP).
  *
  * Scope, stated plainly: KEYFRAMES only (intra 16x16 + B_PRED 4x4 +
  * chroma modes, full segmentation, per-segment/per-mode filter-level
  * bookkeeping, multiple token partitions, coefficient probability
  * updates, and the in-loop deblocking filter in both normal and
  * simple profiles). Interframes (golden/altref, motion) are out —
  * a still-image WebP is exactly one keyframe, which is the crawl
  * use case.
  *
  * Validation: Vp8Spec decodes REAL libwebp-encoded payloads baked as
  * test resources and asserts BIT-EXACT Y/U/V plane equality against
  * libwebp's own decode (VP8 reconstruction is fully specified integer
  * math — RFC 6386 §14 — so two correct decoders agree on every
  * sample), plus encoder→decoder round-trips of this file's own
  * minimal encoder. All constants are the published-spec tables
  * ([[Vp8Tables]]).
  *
  * Scale shape: a per-row scalar decode used inside mapPartitions
  * scans (ImageDedup.decodeImage) — embarrassingly parallel, no
  * driver involvement, no shuffle.
  */
object Vp8 {

  // ------------------------------------------------------ bool decoder

  /** RFC 6386 §7.2 boolean decoder. Reads past `end` yield zero bits —
    * the spec's padding convention.
    */
  private[graft] final class BoolDecoder(data: Array[Byte], start: Int, end: Int) {
    private var range = 255
    private var value = 0
    private var bitCount = 0 // §7.2 init: two bytes loaded, count 0
    private var pos = start
    // init: load first two bytes
    value = (nextByte() << 8) | nextByte()

    private def nextByte(): Int = {
      val b = if (pos < end) data(pos) & 0xff else 0
      pos += 1
      b
    }

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      var ret = 0
      if (value >= bigSplit) { ret = 1; range -= split; value -= bigSplit }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }

    /** n-bit unsigned literal, MSB first (§7.3). */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }

    /** Sign-magnitude literal: n magnitude bits then a sign bit. */
    def signedLiteral(n: Int): Int = {
      val v = literal(n)
      if (bool(128) == 1) -v else v
    }

    /** Flag-gated signed literal (the header's "delta present" form). */
    def maybeSignedLiteral(n: Int): Int =
      if (bool(128) == 1) signedLiteral(n) else 0
  }

  // ------------------------------------------------------ bool encoder

  /** The matching arithmetic encoder (carry-propagating renormalizer —
    * the standard public VP8 encoder construction; §7 defines only the
    * decoder, the encoder is its inverse).
    */
  private[graft] final class BoolEncoder {
    private val out = ArrayBuffer[Byte]()
    private var range = 255
    private var low = 0L
    private var count = -24

    def bool(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { low += split; range -= split } else range = split
      var shift = Integer.numberOfLeadingZeros(range) - 24
      range <<= shift
      count += shift
      if (count >= 0) {
        val offset = shift - count
        if (((low << (offset - 1)) & 0x80000000L) != 0) {
          // carry into already-emitted bytes (0xff wraps and ripples)
          var x = out.length - 1
          while (x >= 0 && out(x) == 0xff.toByte) { out(x) = 0; x -= 1 }
          require(x >= 0, "bool encoder carry out of stream")
          out(x) = ((out(x) & 0xff) + 1).toByte
        }
        out += ((low >> (24 - offset)) & 0xff).toByte
        low = (low << offset) & 0xffffff
        shift = count
        count -= 8
        low = (low << shift) & 0xffffffffL
      } else {
        low = (low << shift) & 0xffffffffL
      }
    }

    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool(128, (v >> i) & 1); i -= 1 }
    }

    def finish(): Array[Byte] = {
      var i = 0
      while (i < 32) { bool(128, 0); i += 1 }
      out.toArray
    }
  }

  // ------------------------------------------------------ frame model

  /** Decoded keyframe: YUV 4:2:0 planes (unclipped frame dimensions —
    * callers crop to (width, height); planes are the padded
    * macroblock grid).
    */
  final case class Frame(width: Int, height: Int, mbW: Int, mbH: Int,
      y: Array[Byte], u: Array[Byte], v: Array[Byte]) {
    def yStride: Int = mbW * 16
    def uvStride: Int = mbW * 8
    def yAt(x: Int, yy: Int): Int = y(yy * yStride + x) & 0xff
    def uAt(x: Int, yy: Int): Int = u(yy * uvStride + x) & 0xff
    def vAt(x: Int, yy: Int): Int = v(yy * uvStride + x) & 0xff
  }

  // luma 16x16 / chroma modes
  private val DC_PRED = 0; private val V_PRED = 1
  private val H_PRED = 2; private val TM_PRED = 3; private val B_PRED = 4
  // 4x4 modes
  private val B_DC = 0; private val B_TM = 1; private val B_VE = 2
  private val B_HE = 3; private val B_RD = 4; private val B_VR = 5
  private val B_LD = 6; private val B_VL = 7; private val B_HD = 8
  private val B_HU = 9

  import Vp8Tables._

  // ------------------------------------------------------ dequant

  private def clip(v: Int, max: Int): Int = if (v < 0) 0 else if (v > max) max else v

  /** Per-segment dequant factors (§14.1; the y2-AC 155/100 scaling and
    * the 117 chroma-DC index cap follow the reference decoder's exact
    * integer forms, which every deployed decoder matches).
    */
  private final class Dequant(q: Int, yDcD: Int, y2DcD: Int, y2AcD: Int,
      uvDcD: Int, uvAcD: Int) {
    val yDc: Int = DcQ(clip(q + yDcD, 127))
    val yAc: Int = AcQ(clip(q, 127))
    val y2Dc: Int = DcQ(clip(q + y2DcD, 127)) * 2
    val y2Ac: Int = { val a = (AcQ(clip(q + y2AcD, 127)) * 101581) >> 16; if (a < 8) 8 else a }
    val uvDc: Int = DcQ(clip(q + uvDcD, 117))
    val uvAc: Int = AcQ(clip(q + uvAcD, 127))
  }

  // ------------------------------------------------------ transforms

  /** Inverse 4x4 DCT (§14.3), exact integer form. `in` is the
    * dequantized block in raster order; adds into nothing — returns
    * the 16 residuals.
    */
  private[graft] def idct4x4(in: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    // 20091 = (sqrt(2)*cos(pi/8) - 1) * 65536; 35468 = sqrt(2)*sin(pi/8) * 65536
    while (i < 4) {
      val a1 = in(i) + in(8 + i)
      val b1 = in(i) - in(8 + i)
      val t1 = (in(4 + i) * 35468) >> 16
      val t2 = in(12 + i) + ((in(12 + i) * 20091) >> 16)
      val c1 = t1 - t2
      val t3 = in(4 + i) + ((in(4 + i) * 20091) >> 16)
      val t4 = (in(12 + i) * 35468) >> 16
      val d1 = t3 + t4
      tmp(i) = a1 + d1
      tmp(12 + i) = a1 - d1
      tmp(4 + i) = b1 + c1
      tmp(8 + i) = b1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = 4 * i
      val a1 = tmp(r) + tmp(r + 2)
      val b1 = tmp(r) - tmp(r + 2)
      val t1 = (tmp(r + 1) * 35468) >> 16
      val t2 = tmp(r + 3) + ((tmp(r + 3) * 20091) >> 16)
      val c1 = t1 - t2
      val t3 = tmp(r + 1) + ((tmp(r + 1) * 20091) >> 16)
      val t4 = (tmp(r + 3) * 35468) >> 16
      val d1 = t3 + t4
      out(r) = (a1 + d1 + 4) >> 3
      out(r + 3) = (a1 - d1 + 4) >> 3
      out(r + 1) = (b1 + c1 + 4) >> 3
      out(r + 2) = (b1 - c1 + 4) >> 3
      i += 1
    }
  }

  /** Inverse Walsh-Hadamard for the Y2 block (§14.3). */
  private[graft] def iwht4x4(in: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = in(i) + in(12 + i)
      val b1 = in(4 + i) + in(8 + i)
      val c1 = in(4 + i) - in(8 + i)
      val d1 = in(i) - in(12 + i)
      tmp(i) = a1 + b1
      tmp(4 + i) = c1 + d1
      tmp(8 + i) = a1 - b1
      tmp(12 + i) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = 4 * i
      val a1 = tmp(r) + tmp(r + 3)
      val b1 = tmp(r + 1) + tmp(r + 2)
      val c1 = tmp(r + 1) - tmp(r + 2)
      val d1 = tmp(r) - tmp(r + 3)
      out(r) = (a1 + b1 + 3) >> 3
      out(r + 1) = (c1 + d1 + 3) >> 3
      out(r + 2) = (a1 - b1 + 3) >> 3
      out(r + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  // ------------------------------------------------------ token decode

  /** Decode one 4x4 coefficient block (§13.3): `tpe` 0 = Y-after-Y2,
    * 1 = Y2, 2 = chroma, 3 = Y-with-DC; `first` = 1 when the DC rides
    * Y2. Fills `coeffs` (raster order, dequantized) and returns the
    * count of decoded positions (0 = all zero).
    */
  private def decodeBlock(bd: BoolDecoder, probs: Array[Int], tpe: Int,
      ctx0: Int, first: Int, dqDc: Int, dqAc: Int, coeffs: Array[Int]): Int = {
    java.util.Arrays.fill(coeffs, 0)
    var n = first
    var ctx = ctx0
    var prevZero = false
    var last = 0
    while (n < 16) {
      val base = ((tpe * 8 + CoeffBands(n)) * 3 + ctx) * 11
      if (!prevZero && bd.bool(probs(base)) == 0) return last
      if (bd.bool(probs(base + 1)) == 0) {
        ctx = 0; prevZero = true; n += 1
      } else {
        prevZero = false
        var v = 0
        if (bd.bool(probs(base + 2)) == 0) { v = 1; ctx = 1 }
        else {
          ctx = 2
          if (bd.bool(probs(base + 3)) == 0) {
            if (bd.bool(probs(base + 4)) == 0) v = 2
            else v = 3 + bd.bool(probs(base + 5))
          } else if (bd.bool(probs(base + 6)) == 0) {
            if (bd.bool(probs(base + 7)) == 0) v = 5 + bd.bool(Cat1(0))
            else v = 7 + 2 * bd.bool(Cat2(0)) + bd.bool(Cat2(1))
          } else if (bd.bool(probs(base + 8)) == 0) {
            if (bd.bool(probs(base + 9)) == 0) v = 11 + extra(bd, Cat3)
            else v = 19 + extra(bd, Cat4)
          } else {
            if (bd.bool(probs(base + 10)) == 0) v = 35 + extra(bd, Cat5)
            else v = 67 + extra(bd, Cat6)
          }
        }
        if (bd.bool(128) == 1) v = -v
        coeffs(Zigzag(n)) = v * (if (n == 0) dqDc else dqAc)
        n += 1
        last = n
      }
    }
    last
  }

  private def extra(bd: BoolDecoder, cat: Array[Int]): Int = {
    var v = 0
    var i = 0
    while (i < cat.length) { v = (v << 1) | bd.bool(cat(i)); i += 1 }
    v
  }

  // ------------------------------------------------------ decoding

  /** Decode a VP8 keyframe payload (the bytes of a RIFF "VP8 " chunk).
    * None on anything malformed, non-key, or out of scope — callers
    * (ImageDedup) degrade to null features, never task failures.
    */
  def decodeKeyframe(payload: Array[Byte]): Option[Frame] =
    try decodeKeyframeImpl(payload) catch {
      case e: Exception =>
        if (sys.env.contains("GRAFT_VP8_DEBUG")) e.printStackTrace()
        None
    }

  private def decodeKeyframeImpl(d: Array[Byte]): Option[Frame] = {
    if (d.length < 10) return None
    def u8(i: Int): Int = d(i) & 0xff
    val tag = u8(0) | (u8(1) << 8) | (u8(2) << 16)
    val keyframe = (tag & 1) == 0
    val part0Len = tag >> 5
    if (!keyframe) return None
    if (!(u8(3) == 0x9d && u8(4) == 0x01 && u8(5) == 0x2a)) return None
    val width = (u8(6) | (u8(7) << 8)) & 0x3fff
    val height = (u8(8) | (u8(9) << 8)) & 0x3fff
    if (width == 0 || height == 0) return None
    val mbW = (width + 15) >> 4
    val mbH = (height + 15) >> 4
    val part0Start = 10
    val part0End = part0Start + part0Len
    if (part0End > d.length) return None
    val bd = new BoolDecoder(d, part0Start, part0End)

    // ---- frame header (§9)
    bd.literal(1) // color space
    bd.literal(1) // clamping type
    // segmentation (§9.3)
    var segEnabled = false
    var segMapCoded = false
    var segAbs = false
    val segTreeProbs = Array(255, 255, 255)
    val segQuant = new Array[Int](4)
    val segFilter = new Array[Int](4)
    if (bd.bool(128) == 1) {
      segEnabled = true
      val updateMap = bd.bool(128) == 1
      val updateData = bd.bool(128) == 1
      if (updateData) {
        segAbs = bd.bool(128) == 1
        var i = 0
        while (i < 4) { segQuant(i) = bd.maybeSignedLiteral(7); i += 1 }
        i = 0
        while (i < 4) { segFilter(i) = bd.maybeSignedLiteral(6); i += 1 }
      }
      if (updateMap) {
        segMapCoded = true
        var i = 0
        while (i < 3) {
          segTreeProbs(i) = if (bd.bool(128) == 1) bd.literal(8) else 255
          i += 1
        }
      }
      // map not updated: per-MB segment bits are NOT coded; a keyframe
      // then runs with segment 0 everywhere (no previous map exists)
    }
    // loop filter (§9.4)
    val filterSimple = bd.literal(1) == 1
    val filterLevel = bd.literal(6)
    val sharpness = bd.literal(3)
    val refLfDelta = new Array[Int](4)
    val modeLfDelta = new Array[Int](4)
    var lfDeltaEnabled = false
    if (bd.bool(128) == 1) {
      lfDeltaEnabled = true
      if (bd.bool(128) == 1) { // update
        var i = 0
        while (i < 4) { refLfDelta(i) = bd.maybeSignedLiteral(6); i += 1 }
        i = 0
        while (i < 4) { modeLfDelta(i) = bd.maybeSignedLiteral(6); i += 1 }
      }
    }
    // token partitions (§9.5)
    val nParts = 1 << bd.literal(2)
    val partsTableStart = part0End
    val partsDataStart = partsTableStart + 3 * (nParts - 1)
    if (partsDataStart > d.length) return None
    val partStarts = new Array[Int](nParts)
    val partEnds = new Array[Int](nParts)
    var acc = partsDataStart
    var pi = 0
    while (pi < nParts) {
      val len =
        if (pi == nParts - 1) d.length - acc
        else u8(partsTableStart + 3 * pi) | (u8(partsTableStart + 3 * pi + 1) << 8) |
          (u8(partsTableStart + 3 * pi + 2) << 16)
      partStarts(pi) = acc
      acc += len
      partEnds(pi) = math.min(acc, d.length)
      pi += 1
    }
    val partBd = Array.tabulate(nParts)(i => new BoolDecoder(d, partStarts(i), partEnds(i)))
    // quantizer (§9.6)
    val yAcQi = bd.literal(7)
    val yDcD = bd.maybeSignedLiteral(4)
    val y2DcD = bd.maybeSignedLiteral(4)
    val y2AcD = bd.maybeSignedLiteral(4)
    val uvDcD = bd.maybeSignedLiteral(4)
    val uvAcD = bd.maybeSignedLiteral(4)
    val dequants = Array.tabulate(4) { s =>
      val q =
        if (!segEnabled) yAcQi
        else if (segAbs) segQuant(s)
        else yAcQi + segQuant(s)
      new Dequant(clip(q, 127), yDcD, y2DcD, y2AcD, uvDcD, uvAcD)
    }
    bd.literal(1) // refresh entropy probs (keyframe: state resets anyway)
    // coefficient probability updates (§9.9 / §13.4)
    val probs = CoeffProbs.clone()
    var i = 0
    while (i < 1056) {
      if (bd.bool(CoeffUpdateProbs(i)) == 1) probs(i) = bd.literal(8)
      i += 1
    }
    val noSkipCoeff = bd.bool(128) == 1
    val probSkipFalse = if (noSkipCoeff) bd.literal(8) else 0
    if (sys.env.contains("GRAFT_VP8_DEBUG"))
      System.err.println(s"[vp8hdr] ${width}x$height seg=$segEnabled/" +
        s"$segMapCoded abs=$segAbs q=$yAcQi segQ=${segQuant.toSeq} " +
        s"filter=$filterLevel/$sharpness simple=$filterSimple " +
        s"lfd=$lfDeltaEnabled parts=$nParts skipP=$probSkipFalse")

    // ---- per-MB state
    val yStride = mbW * 16
    val uvStride = mbW * 8
    val yPlane = new Array[Byte](yStride * mbH * 16)
    val uPlane = new Array[Byte](uvStride * mbH * 8)
    val vPlane = new Array[Byte](uvStride * mbH * 8)

    // nonzero context: per MB column, bits for 4 luma + 2 u + 2 v + y2
    val aboveNz = new Array[Int](mbW * 9)
    val leftNz = new Array[Int](9)
    // above/left b-modes for keyframe B_PRED context
    val aboveBMode = Array.fill(mbW * 4)(B_DC)
    val leftBMode = Array.fill(4)(B_DC)
    // per-MB records for the loop filter
    val mbSegment = new Array[Int](mbW * mbH)
    val mbSkipNoCoeff = new Array[Boolean](mbW * mbH)
    val mbIsB = new Array[Boolean](mbW * mbH)

    val coeffs = new Array[Int](25 * 16) // 16 Y, 4+4 UV, 1 Y2 (last)
    val block = new Array[Int](16)
    val resid = new Array[Int](16)
    val y2out = new Array[Int](16)

    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      java.util.Arrays.fill(leftBMode, B_DC)
      var mbX = 0
      while (mbX < mbW) {
        // ---- mode parsing (first partition)
        val segment =
          if (segMapCoded) {
            // keyframe always codes the map when enabled+updated; the
            // spec's tree over 3 probs
            if (bd.bool(segTreeProbs(0)) == 0) bd.bool(segTreeProbs(1))
            else 2 + bd.bool(segTreeProbs(2))
          } else 0
        val skip = if (noSkipCoeff) bd.bool(probSkipFalse) == 1 else false
        // keyframe Y mode (§11.2): tree over fixed probs
        // kf_ymode_tree is BALANCED below the B_PRED leaf:
        // {-B_PRED, 2, 4, 6, -DC, -V, -H, -TM}
        val yMode = {
          val p = KfYModeProbs
          if (bd.bool(p(0)) == 0) B_PRED
          else if (bd.bool(p(1)) == 0) {
            if (bd.bool(p(2)) == 0) DC_PRED else V_PRED
          } else {
            if (bd.bool(p(3)) == 0) H_PRED else TM_PRED
          }
        }
        val bModes = new Array[Int](16)
        if (yMode == B_PRED) {
          var b = 0
          while (b < 16) {
            val r = b >> 2; val c = b & 3
            val above = if (r == 0) aboveBMode(mbX * 4 + c) else bModes(b - 4)
            val left = if (c == 0) leftBMode(r) else bModes(b - 1)
            bModes(b) = decodeBMode(bd, above, left)
            b += 1
          }
        } else {
          // implied b-modes for neighbor context (§11.3)
          val implied = yMode match {
            case DC_PRED => B_DC
            case V_PRED  => B_VE
            case H_PRED  => B_HE
            case _       => B_TM
          }
          java.util.Arrays.fill(bModes, implied)
        }
        var b = 0
        while (b < 4) {
          aboveBMode(mbX * 4 + b) = bModes(12 + b)
          leftBMode(b) = bModes(b * 4 + 3)
          b += 1
        }
        val uvMode = {
          val p = KfUvModeProbs
          if (bd.bool(p(0)) == 0) DC_PRED
          else if (bd.bool(p(1)) == 0) V_PRED
          else if (bd.bool(p(2)) == 0) H_PRED
          else TM_PRED
        }

        // ---- residuals (token partition for this row)
        val tb = partBd(mbY % nParts)
        val dq = dequants(segment)
        java.util.Arrays.fill(coeffs, 0)
        var anyCoeffs = false
        val hasY2 = yMode != B_PRED
        if (!skip) {
          var y2Nz = 0
          if (hasY2) {
            val ctx = (leftNz(8) & 1) + (aboveNz(mbX * 9 + 8) & 1)
            val n = decodeBlock(tb, probs, 1, ctx, 0, dq.y2Dc, dq.y2Ac, block)
            y2Nz = if (n > 0) 1 else 0
            System.arraycopy(block, 0, coeffs, 24 * 16, 16)
            leftNz(8) = y2Nz; aboveNz(mbX * 9 + 8) = y2Nz
            if (n > 0) anyCoeffs = true
          }
          val tpe = if (hasY2) 0 else 3
          val first = if (hasY2) 1 else 0
          var i = 0
          while (i < 16) {
            val r = i >> 2; val c = i & 3
            val ctx = (leftNz(r) & 1) + (aboveNz(mbX * 9 + c) & 1)
            val n = decodeBlock(tb, probs, tpe, ctx, first, dq.yDc, dq.yAc, block)
            System.arraycopy(block, 0, coeffs, i * 16, 16)
            val nz = if (n > 0) 1 else 0
            leftNz(r) = nz; aboveNz(mbX * 9 + c) = nz
            if (n > 0) anyCoeffs = true
            i += 1
          }
          i = 0
          while (i < 8) {
            val pl = i >> 2 // 0 = U, 1 = V
            val r = (i >> 1) & 1; val c = i & 1
            val li = 4 + pl * 2 + r
            val ai = 4 + pl * 2 + c
            val ctx = (leftNz(li) & 1) + (aboveNz(mbX * 9 + ai) & 1)
            val n = decodeBlock(tb, probs, 2, ctx, 0, dq.uvDc, dq.uvAc, block)
            System.arraycopy(block, 0, coeffs, (16 + i) * 16, 16)
            val nz = if (n > 0) 1 else 0
            leftNz(li) = nz; aboveNz(mbX * 9 + ai) = nz
            if (n > 0) anyCoeffs = true
            i += 1
          }
        } else {
          // skipped MB: contexts reset (no coefficients); Y2 context
          // persists when the MB HAS no Y2 (B_PRED), else clears
          var k = 0
          while (k < 8) { leftNz(k) = 0; aboveNz(mbX * 9 + k) = 0; k += 1 }
          if (hasY2) { leftNz(8) = 0; aboveNz(mbX * 9 + 8) = 0 }
        }

        // Y2 inverse transform feeds luma DCs
        if (hasY2) {
          System.arraycopy(coeffs, 24 * 16, block, 0, 16)
          iwht4x4(block, y2out)
          var i = 0
          while (i < 16) { coeffs(i * 16) = y2out(i); i += 1 }
        }

        // ---- prediction + reconstruction
        reconstructMb(yPlane, uPlane, vPlane, yStride, uvStride, mbW, mbH,
          mbX, mbY, yMode, uvMode, bModes, coeffs, resid, block)

        if (sys.env.contains("GRAFT_VP8_DEBUG"))
          System.err.println(s"[vp8mb] ($mbX,$mbY) seg=$segment skip=$skip " +
            s"ymode=$yMode uvmode=$uvMode bmodes=${if (yMode == B_PRED) bModes.mkString("") else "-"}")
        val mi = mbY * mbW + mbX
        mbSegment(mi) = segment
        mbIsB(mi) = yMode == B_PRED
        mbSkipNoCoeff(mi) = !anyCoeffs
        mbX += 1
      }
      mbY += 1
    }

    // ---- in-loop deblocking (§15)
    if (filterLevel > 0) {
      loopFilter(yPlane, uPlane, vPlane, yStride, uvStride, mbW, mbH,
        filterSimple, filterLevel, sharpness, segEnabled, segAbs,
        segFilter, lfDeltaEnabled, refLfDelta, modeLfDelta,
        mbSegment, mbSkipNoCoeff, mbIsB)
    }
    Some(Frame(width, height, mbW, mbH, yPlane, uPlane, vPlane))
  }

  /** Keyframe 4x4 mode via the context-dependent tree (§11.5). */
  private def decodeBMode(bd: BoolDecoder, above: Int, left: Int): Int = {
    val p = KfBModeProbs
    val base = (above * 10 + left) * 9
    // bmode_tree: {-B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10,
    //   -B_RD, -B_VR, -B_LD, 14, -B_VL, 16, -B_HD, -B_HU}
    if (bd.bool(p(base)) == 0) return B_DC
    if (bd.bool(p(base + 1)) == 0) return B_TM
    if (bd.bool(p(base + 2)) == 0) return B_VE
    if (bd.bool(p(base + 3)) == 0) {
      if (bd.bool(p(base + 4)) == 0) return B_HE
      if (bd.bool(p(base + 5)) == 0) return B_RD
      return B_VR
    }
    if (bd.bool(p(base + 6)) == 0) return B_LD
    if (bd.bool(p(base + 7)) == 0) return B_VL
    if (bd.bool(p(base + 8)) == 0) return B_HD
    B_HU
  }

  // ------------------------------------------------ intra prediction

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
  private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2

  /** Reconstruct one macroblock: whole-plane intra prediction for
    * Y (16x16 or per-4x4 B_PRED) and chroma (8x8), plus the IDCT
    * residuals, written straight into the planes (off-frame neighbor
    * conventions: above row 127, left column 129 — §12.2).
    */
  private def reconstructMb(yP: Array[Byte], uP: Array[Byte], vP: Array[Byte],
      yStride: Int, uvStride: Int, mbW: Int, mbH: Int, mbX: Int, mbY: Int,
      yMode: Int, uvMode: Int, bModes: Array[Int], coeffs: Array[Int],
      resid: Array[Int], block: Array[Int]): Unit = {

    // ---- luma
    val yx = mbX * 16; val yy = mbY * 16
    if (yMode == B_PRED) {
      var b = 0
      while (b < 16) {
        val r = b >> 2; val c = b & 3
        predictB(yP, yStride, mbW, yx + c * 4, yy + r * 4, bModes(b))
        System.arraycopy(coeffs, b * 16, block, 0, 16)
        addResidual(yP, yStride, yx + c * 4, yy + r * 4, block, resid)
        b += 1
      }
    } else {
      predictWhole(yP, yStride, mbW * 16, yx, yy, 16, yMode)
      var b = 0
      while (b < 16) {
        val r = b >> 2; val c = b & 3
        System.arraycopy(coeffs, b * 16, block, 0, 16)
        addResidual(yP, yStride, yx + c * 4, yy + r * 4, block, resid)
        b += 1
      }
    }
    // ---- chroma
    val cx = mbX * 8; val cy = mbY * 8
    predictWhole(uP, uvStride, mbW * 8, cx, cy, 8, uvMode)
    predictWhole(vP, uvStride, mbW * 8, cx, cy, 8, uvMode)
    var b = 0
    while (b < 4) {
      val r = b >> 1; val c = b & 1
      System.arraycopy(coeffs, (16 + b) * 16, block, 0, 16)
      addResidual(uP, uvStride, cx + c * 4, cy + r * 4, block, resid)
      System.arraycopy(coeffs, (20 + b) * 16, block, 0, 16)
      addResidual(vP, uvStride, cx + c * 4, cy + r * 4, block, resid)
      b += 1
    }
  }

  private def addResidual(p: Array[Byte], stride: Int, x: Int, y: Int,
      dq: Array[Int], resid: Array[Int]): Unit = {
    var nz = false
    var i = 0
    while (i < 16 && !nz) { if (dq(i) != 0) nz = true; i += 1 }
    if (!nz) return
    idct4x4(dq, resid)
    var r = 0
    while (r < 4) {
      val off = (y + r) * stride + x
      var c = 0
      while (c < 4) {
        p(off + c) = clamp255((p(off + c) & 0xff) + resid(r * 4 + c)).toByte
        c += 1
      }
      r += 1
    }
  }

  /** 16x16 luma / 8x8 chroma whole-block prediction (§12.2). */
  private def predictWhole(p: Array[Byte], stride: Int, planeW: Int,
      x: Int, y: Int, size: Int, mode: Int): Unit = {
    val hasAbove = y > 0
    val hasLeft = x > 0
    def above(i: Int): Int = if (hasAbove) p((y - 1) * stride + x + i) & 0xff else 127
    def left(i: Int): Int = if (hasLeft) p((y + i) * stride + x - 1) & 0xff else 129
    val tl = if (!hasAbove) 127 else if (!hasLeft) 129 else p((y - 1) * stride + x - 1) & 0xff
    mode match {
      case DC_PRED =>
        var sum = 0
        var n = 0
        if (hasAbove) { var i = 0; while (i < size) { sum += above(i); i += 1 }; n += size }
        if (hasLeft) { var i = 0; while (i < size) { sum += left(i); i += 1 }; n += size }
        val dc = if (n == 0) 128 else (sum + n / 2) / n
        fill(p, stride, x, y, size, dc)
      case V_PRED =>
        var r = 0
        while (r < size) {
          var c = 0
          while (c < size) { p((y + r) * stride + x + c) = above(c).toByte; c += 1 }
          r += 1
        }
      case H_PRED =>
        var r = 0
        while (r < size) {
          val v = left(r).toByte
          var c = 0
          while (c < size) { p((y + r) * stride + x + c) = v; c += 1 }
          r += 1
        }
      case _ => // TM
        var r = 0
        while (r < size) {
          val l = left(r)
          var c = 0
          while (c < size) {
            p((y + r) * stride + x + c) = clamp255(l + above(c) - tl).toByte
            c += 1
          }
          r += 1
        }
    }
  }

  private def fill(p: Array[Byte], stride: Int, x: Int, y: Int, size: Int,
      v: Int): Unit = {
    val b = v.toByte
    var r = 0
    while (r < size) {
      java.util.Arrays.fill(p, (y + r) * stride + x, (y + r) * stride + x + size, b)
      r += 1
    }
  }

  /** 4x4 B_PRED (§12.3). `x`,`y` are plane coordinates of the
    * subblock. Above-right (A[4..7]): from the row above when it
    * exists — for subblocks below the MB's top row (or when the above
    * row runs off the plane) the above-right of the MB's TOP row
    * applies, replicated at the frame edge, matching the deployed
    * decoder behavior.
    */
  private def predictB(p: Array[Byte], stride: Int, mbW: Int,
      x: Int, y: Int, mode: Int): Unit = {
    val planeW = mbW * 16
    val hasAbove = y > 0
    val hasLeft = x > 0
    val a = new Array[Int](8)
    val l = new Array[Int](4)
    var i = 0
    while (i < 4) {
      a(i) = if (hasAbove) p((y - 1) * stride + x + i) & 0xff else 127
      l(i) = if (hasLeft) p((y + i) * stride + x - 1) & 0xff else 129
      i += 1
    }
    // above-right: the row above the subblock when inside the MB's top
    // row; else the row above the MACROBLOCK at the same columns.
    // Off-plane (rightmost MB): replicate A[3] of the top row; above
    // the frame: 127.
    val arY = y & ~15 // the MB's top row
    i = 0
    while (i < 4) {
      val ax = x + 4 + i
      a(4 + i) =
        if (!hasAbove) 127
        else if ((x & 15) == 12) {
          // right-edge subblock: above-right comes from above the MB
          if (arY == 0) 127
          else if (ax < planeW) p((arY - 1) * stride + ax) & 0xff
          else p((arY - 1) * stride + planeW - 1) & 0xff
        } else {
          if (ax < planeW) p((y - 1) * stride + ax) & 0xff
          else p((y - 1) * stride + planeW - 1) & 0xff
        }
      i += 1
    }
    val tl = if (!hasAbove) 127 else if (!hasLeft) 129 else p((y - 1) * stride + x - 1) & 0xff
    val b = new Array[Int](16)
    mode match {
      case B_DC =>
        val dc = (a(0) + a(1) + a(2) + a(3) + l(0) + l(1) + l(2) + l(3) + 4) >> 3
        java.util.Arrays.fill(b, dc)
      case B_TM =>
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { b(r * 4 + c) = clamp255(l(r) + a(c) - tl); c += 1 }
          r += 1
        }
      case B_VE =>
        var c = 0
        while (c < 4) {
          val v = avg3(if (c == 0) tl else a(c - 1), a(c), a(c + 1))
          b(c) = v; b(4 + c) = v; b(8 + c) = v; b(12 + c) = v
          c += 1
        }
      case B_HE =>
        val r0 = avg3(tl, l(0), l(1))
        val r1 = avg3(l(0), l(1), l(2))
        val r2 = avg3(l(1), l(2), l(3))
        val r3 = avg3(l(2), l(3), l(3))
        var c = 0
        while (c < 4) { b(c) = r0; b(4 + c) = r1; b(8 + c) = r2; b(12 + c) = r3; c += 1 }
      case B_LD =>
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val k = r + c
            b(r * 4 + c) =
              if (k < 6) avg3(a(k), a(k + 1), a(k + 2))
              else avg3(a(6), a(7), a(7))
            c += 1
          }
          r += 1
        }
      case B_RD =>
        val e = Array(l(3), l(2), l(1), l(0), tl, a(0), a(1), a(2), a(3))
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val k = c - r + 3
            b(r * 4 + c) = avg3(e(k), e(k + 1), e(k + 2))
            c += 1
          }
          r += 1
        }
      case B_VR =>
        b(0) = avg2(tl, a(0)); b(1) = avg2(a(0), a(1))
        b(2) = avg2(a(1), a(2)); b(3) = avg2(a(2), a(3))
        b(4) = avg3(l(0), tl, a(0)); b(5) = avg3(tl, a(0), a(1))
        b(6) = avg3(a(0), a(1), a(2)); b(7) = avg3(a(1), a(2), a(3))
        b(8) = avg3(l(1), l(0), tl); b(9) = b(0); b(10) = b(1); b(11) = b(2)
        b(12) = avg3(l(2), l(1), l(0)); b(13) = b(4); b(14) = b(5); b(15) = b(6)
      case B_VL =>
        b(0) = avg2(a(0), a(1)); b(1) = avg2(a(1), a(2))
        b(2) = avg2(a(2), a(3)); b(3) = avg2(a(3), a(4))
        b(4) = avg3(a(0), a(1), a(2)); b(5) = avg3(a(1), a(2), a(3))
        b(6) = avg3(a(2), a(3), a(4)); b(7) = avg3(a(3), a(4), a(5))
        b(8) = b(1); b(9) = b(2); b(10) = b(3)
        b(12) = b(5); b(13) = b(6); b(14) = b(7)
        // the two corner values break the pattern (§12.3)
        b(11) = avg3(a(4), a(5), a(6))
        b(15) = avg3(a(5), a(6), a(7))
      case B_HD =>
        b(0) = avg2(l(0), tl); b(1) = avg3(l(0), tl, a(0))
        b(2) = avg3(tl, a(0), a(1)); b(3) = avg3(a(0), a(1), a(2))
        b(4) = avg2(l(1), l(0)); b(5) = avg3(l(1), l(0), tl)
        b(6) = b(0); b(7) = b(1)
        b(8) = avg2(l(2), l(1)); b(9) = avg3(l(2), l(1), l(0))
        b(10) = b(4); b(11) = b(5)
        b(12) = avg2(l(3), l(2)); b(13) = avg3(l(3), l(2), l(1))
        b(14) = b(8); b(15) = b(9)
      case _ => // B_HU
        b(0) = avg2(l(0), l(1)); b(1) = avg3(l(0), l(1), l(2))
        b(2) = avg2(l(1), l(2)); b(3) = avg3(l(1), l(2), l(3))
        b(4) = b(2); b(5) = b(3)
        b(6) = avg2(l(2), l(3)); b(7) = avg3(l(2), l(3), l(3))
        b(8) = b(6); b(9) = b(7)
        b(10) = l(3); b(11) = l(3)
        b(12) = l(3); b(13) = l(3); b(14) = l(3); b(15) = l(3)
    }
    var r = 0
    while (r < 4) {
      var c = 0
      while (c < 4) { p((y + r) * stride + x + c) = b(r * 4 + c).toByte; c += 1 }
      r += 1
    }
  }

  // ------------------------------------------------ in-loop deblocking

  private def sClamp(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** §15: deblock every MB edge and (for MBs that carry coefficients or
    * are B_PRED) interior 4px edges, normal or simple profile, with
    * per-segment levels and the intra mode delta. Runs AFTER the whole
    * frame reconstructs (keyframe intra prediction never reads
    * filtered pixels of a previous frame, and within the frame VP8
    * intra prediction is defined on UNFILTERED neighbors only for...
    * the filter is applied per MB row in the reference; for a
    * keyframe, prediction reads reconstructed-but-unfiltered pixels
    * only when decode and filter are interleaved row-by-row with the
    * filter trailing one MB row. We reproduce that by filtering the
    * whole frame at the end against a copy of the unfiltered planes
    * where ordering could matter — see `loopFilter`'s in-place edge
    * order, which matches the reference's raster MB order.
    */
  private def loopFilter(yP: Array[Byte], uP: Array[Byte], vP: Array[Byte],
      yStride: Int, uvStride: Int, mbW: Int, mbH: Int,
      simple: Boolean, baseLevel: Int, sharpness: Int,
      segEnabled: Boolean, segAbs: Boolean, segFilter: Array[Int],
      lfDelta: Boolean, refLfDelta: Array[Int], modeLfDelta: Array[Int],
      mbSegment: Array[Int], mbSkipNoCoeff: Array[Boolean],
      mbIsB: Array[Boolean]): Unit = {
    var mbY = 0
    while (mbY < mbH) {
      var mbX = 0
      while (mbX < mbW) {
        val mi = mbY * mbW + mbX
        var level =
          if (!segEnabled) baseLevel
          else if (segAbs) segFilter(mbSegment(mi))
          else baseLevel + segFilter(mbSegment(mi))
        if (lfDelta) {
          level += refLfDelta(0) // keyframe = INTRA ref
          if (mbIsB(mi)) level += modeLfDelta(0)
        }
        level = if (level < 0) 0 else if (level > 63) 63 else level
        if (level > 0) {
          var interior = level
          if (sharpness > 0) {
            interior >>= (if (sharpness > 4) 2 else 1)
            if (interior > 9 - sharpness) interior = 9 - sharpness
          }
          if (interior < 1) interior = 1
          val hevT = if (level >= 40) 2 else if (level >= 15) 1 else 0
          val mbLim = (level + 2) * 2 + interior
          val subLim = level * 2 + interior
          val inner = !mbSkipNoCoeff(mi) || mbIsB(mi)
          if (simple) {
            filterMbSimple(yP, yStride, mbX, mbY, mbLim, subLim, inner)
          } else {
            filterMbNormal(yP, yStride, mbX * 16, mbY * 16, 16,
              mbLim, subLim, interior, hevT, inner)
            filterMbNormal(uP, uvStride, mbX * 8, mbY * 8, 8,
              mbLim, subLim, interior, hevT, inner)
            filterMbNormal(vP, uvStride, mbX * 8, mbY * 8, 8,
              mbLim, subLim, interior, hevT, inner)
          }
        }
        mbX += 1
      }
      mbY += 1
    }
  }

  /** One plane-block's edges, normal filter: left/top MB edges (6-tap
    * window) then the interior 4px edges (4-tap), vertical before
    * horizontal — the reference order.
    */
  private def filterMbNormal(p: Array[Byte], stride: Int, x: Int, y: Int,
      size: Int, mbLim: Int, subLim: Int, interior: Int, hevT: Int,
      inner: Boolean): Unit = {
    // vertical edges (filter across columns)
    def vEdge(ex: Int, mbEdge: Boolean): Unit = {
      val lim = if (mbEdge) mbLim else subLim
      var r = 0
      while (r < size) {
        val o = (y + r) * stride + ex
        filterEdge(p, o, 1, mbEdge, lim, interior, hevT)
        r += 1
      }
    }
    def hEdge(ey: Int, mbEdge: Boolean): Unit = {
      val lim = if (mbEdge) mbLim else subLim
      var c = 0
      while (c < size) {
        val o = ey * stride + x + c
        filterEdge(p, o, stride, mbEdge, lim, interior, hevT)
        c += 1
      }
    }
    if (x > 0) vEdge(x, mbEdge = true)
    if (inner) {
      var e = 4
      while (e < size) { vEdge(x + e, mbEdge = false); e += 4 }
    }
    if (y > 0) hEdge(y, mbEdge = true)
    if (inner) {
      var e = 4
      while (e < size) { hEdge(y + e, mbEdge = false); e += 4 }
    }
  }

  /** Filter one 8-pixel window centered on an edge at offset `o`
    * (pixels o-4*step .. o+3*step); §15.2/§15.3.
    */
  private def filterEdge(p: Array[Byte], o: Int, step: Int, mbEdge: Boolean,
      lim: Int, interior: Int, hevT: Int): Unit = {
    val p3 = p(o - 4 * step) & 0xff; val p2 = p(o - 3 * step) & 0xff
    val p1 = p(o - 2 * step) & 0xff; val p0 = p(o - step) & 0xff
    val q0 = p(o) & 0xff; val q1 = p(o + step) & 0xff
    val q2 = p(o + 2 * step) & 0xff; val q3 = p(o + 3 * step) & 0xff
    val mask =
      math.abs(p3 - p2) <= interior && math.abs(p2 - p1) <= interior &&
      math.abs(p1 - p0) <= interior && math.abs(q3 - q2) <= interior &&
      math.abs(q2 - q1) <= interior && math.abs(q1 - q0) <= interior &&
      math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= lim
    if (!mask) return
    val hev = math.abs(p1 - p0) > hevT || math.abs(q1 - q0) > hevT
    // signed domain
    val sp2 = p2 - 128; val sp1 = p1 - 128; val sp0 = p0 - 128
    val sq0 = q0 - 128; val sq1 = q1 - 128; val sq2 = q2 - 128
    if (!mbEdge) {
      // subblock filter (§15.3): common adjust, outer taps only on hev
      val a = sClamp((if (hev) sClamp(sp1 - sq1) else 0) + 3 * (sq0 - sp0))
      val f1 = sClamp(a + 4) >> 3
      val f2 = sClamp(a + 3) >> 3
      val nq0 = sq0 - f1
      val np0 = sp0 + f2
      p(o) = clamp255(sClamp(nq0) + 128).toByte
      p(o - step) = clamp255(sClamp(np0) + 128).toByte
      if (!hev) {
        val a2 = (f1 + 1) >> 1
        p(o + step) = clamp255(sClamp(sq1 - a2) + 128).toByte
        p(o - 2 * step) = clamp255(sClamp(sp1 + a2) + 128).toByte
      }
    } else {
      if (hev) {
        val a = sClamp(sClamp(sp1 - sq1) + 3 * (sq0 - sp0))
        val f1 = sClamp(a + 4) >> 3
        val f2 = sClamp(a + 3) >> 3
        p(o) = clamp255(sClamp(sq0 - f1) + 128).toByte
        p(o - step) = clamp255(sClamp(sp0 + f2) + 128).toByte
      } else {
        val w = sClamp(sClamp(sp1 - sq1) + 3 * (sq0 - sp0))
        var a = sClamp((27 * w + 63) >> 7)
        p(o) = clamp255(sClamp(sq0 - a) + 128).toByte
        p(o - step) = clamp255(sClamp(sp0 + a) + 128).toByte
        a = sClamp((18 * w + 63) >> 7)
        p(o + step) = clamp255(sClamp(sq1 - a) + 128).toByte
        p(o - 2 * step) = clamp255(sClamp(sp1 + a) + 128).toByte
        a = sClamp((9 * w + 63) >> 7)
        p(o + 2 * step) = clamp255(sClamp(sq2 - a) + 128).toByte
        p(o - 3 * step) = clamp255(sClamp(sp2 + a) + 128).toByte
      }
    }
  }

  /** Simple-profile filter: luma only, p1..q1 window, common adjust
    * with outer taps (§15.1).
    */
  private def filterMbSimple(yP: Array[Byte], yStride: Int, mbX: Int,
      mbY: Int, mbLim: Int, subLim: Int, inner: Boolean): Unit = {
    val x = mbX * 16; val y = mbY * 16
    def edge(o: Int, step: Int, lim: Int): Unit = {
      val p1 = yP(o - 2 * step) & 0xff; val p0 = yP(o - step) & 0xff
      val q0 = yP(o) & 0xff; val q1 = yP(o + step) & 0xff
      if (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= lim) {
        val sp1 = p1 - 128; val sp0 = p0 - 128
        val sq0 = q0 - 128; val sq1 = q1 - 128
        val a = sClamp(sClamp(sp1 - sq1) + 3 * (sq0 - sp0))
        val f1 = sClamp(a + 4) >> 3
        val f2 = sClamp(a + 3) >> 3
        yP(o) = clamp255(sClamp(sq0 - f1) + 128).toByte
        yP(o - step) = clamp255(sClamp(sp0 + f2) + 128).toByte
      }
    }
    def vEdge(ex: Int, lim: Int): Unit = {
      var r = 0
      while (r < 16) { edge((y + r) * yStride + ex, 1, lim); r += 1 }
    }
    def hEdge(ey: Int, lim: Int): Unit = {
      var c = 0
      while (c < 16) { edge(ey * yStride + x + c, yStride, lim); c += 1 }
    }
    if (x > 0) vEdge(x, mbLim)
    if (inner) { vEdge(x + 4, subLim); vEdge(x + 8, subLim); vEdge(x + 12, subLim) }
    if (y > 0) hEdge(y, mbLim)
    if (inner) { hEdge(y + 4, subLim); hEdge(y + 8, subLim); hEdge(y + 12, subLim) }
  }

  // ------------------------------------------------------ encoder

  /** Minimal REAL VP8 keyframe encoder for fixtures and round-trip
    * tests: every macroblock is DC_PRED luma + DC_PRED chroma with one
    * quantized Y2-DC level per MB (`mbLevels`, row-major mbW x mbH,
    * each in [-2114, 2114] — the token alphabet's range), default
    * coefficient probabilities, one token partition, no segmentation,
    * loop filter level 0. The output is a spec-complete bitstream any
    * VP8 decoder reads; Vp8Spec round-trips it here and the dev-side
    * parity harness decodes it with libwebp.
    */
  def encodeDcKeyframe(width: Int, height: Int, mbLevels: Array[Int],
      yAcQi: Int): Array[Byte] = {
    val mbW = (width + 15) >> 4
    val mbH = (height + 15) >> 4
    require(mbLevels.length == mbW * mbH, s"need ${mbW * mbH} MB levels")
    require(yAcQi >= 0 && yAcQi <= 127, "yAcQi in [0,127]")

    // ---- first partition: header + modes
    val hd = new BoolEncoder
    hd.literal(0, 1) // color space
    hd.literal(0, 1) // clamping
    hd.bool(128, 0) // segmentation disabled
    hd.literal(0, 1) // filter type: normal
    hd.literal(0, 6) // filter level 0
    hd.literal(0, 3) // sharpness
    hd.bool(128, 0) // no lf deltas
    hd.literal(0, 2) // one token partition
    hd.literal(yAcQi, 7)
    var i = 0
    while (i < 5) { hd.bool(128, 0); i += 1 } // no quant deltas
    hd.literal(0, 1) // refresh entropy probs
    i = 0
    while (i < 1056) { hd.bool(CoeffUpdateProbs(i), 0); i += 1 }
    hd.bool(128, 1) // mb_no_skip_coeff: skip flag is coded
    hd.literal(255, 8) // prob_skip_false: "not skipped" is the cheap bit
    // per-MB modes
    var mb = 0
    while (mb < mbW * mbH) {
      hd.bool(255, 0) // not skipped
      hd.bool(KfYModeProbs(0), 1) // not B_PRED
      hd.bool(KfYModeProbs(1), 0) // left subtree (DC | V)
      hd.bool(KfYModeProbs(2), 0) // DC_PRED
      hd.bool(KfUvModeProbs(0), 0) // chroma DC_PRED
      mb += 1
    }
    val part0 = hd.finish()

    // ---- token partition
    val tk = new BoolEncoder
    val probs = CoeffProbs
    // nonzero contexts mirror the decoder exactly
    val aboveNz = new Array[Int](mbW * 9)
    val leftNz = new Array[Int](9)
    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      var mbX = 0
      while (mbX < mbW) {
        val lvl = mbLevels(mbY * mbW + mbX)
        // Y2 (type 1): DC token `lvl`, then EOB at position 1
        val ctx = (leftNz(8) & 1) + (aboveNz(mbX * 9 + 8) & 1)
        if (lvl != 0) {
          encodeCoeff(tk, probs, 1, 0, ctx, lvl)
          val nextCtx = if (math.abs(lvl) == 1) 1 else 2
          encodeEob(tk, probs, 1, 1, nextCtx)
        } else {
          encodeEob(tk, probs, 1, 0, ctx) // empty block: EOB at DC
        }
        val nz = if (lvl != 0) 1 else 0
        leftNz(8) = nz; aboveNz(mbX * 9 + 8) = nz
        // 16 luma blocks (type 0, first = 1): empty
        var b = 0
        while (b < 16) {
          val r = b >> 2; val c = b & 3
          val bctx = (leftNz(r) & 1) + (aboveNz(mbX * 9 + c) & 1)
          encodeEob(tk, probs, 0, 1, bctx)
          leftNz(r) = 0; aboveNz(mbX * 9 + c) = 0
          b += 1
        }
        // 8 chroma blocks (type 2): empty
        b = 0
        while (b < 8) {
          val pl = b >> 2
          val r = (b >> 1) & 1; val c = b & 1
          val li = 4 + pl * 2 + r; val ai = 4 + pl * 2 + c
          val bctx = (leftNz(li) & 1) + (aboveNz(mbX * 9 + ai) & 1)
          encodeEob(tk, probs, 2, 0, bctx)
          leftNz(li) = 0; aboveNz(mbX * 9 + ai) = 0
          b += 1
        }
        mbX += 1
      }
      mbY += 1
    }
    val part1 = tk.finish()

    // ---- uncompressed header + assembly
    val tag = (part0.length << 5) | (1 << 4) | 0 // show_frame, version 0, keyframe
    val out = new ArrayBuffer[Byte](part0.length + part1.length + 16)
    out += (tag & 0xff).toByte
    out += ((tag >> 8) & 0xff).toByte
    out += ((tag >> 16) & 0xff).toByte
    out += 0x9d.toByte; out += 0x01.toByte; out += 0x2a.toByte
    out += (width & 0xff).toByte; out += ((width >> 8) & 0x3f).toByte
    out += (height & 0xff).toByte; out += ((height >> 8) & 0x3f).toByte
    out ++= part0
    out ++= part1
    out.toArray
  }

  /** Encode an EOB at position `n` of a block. */
  private def encodeEob(tk: BoolEncoder, probs: Array[Int], tpe: Int,
      n: Int, ctx: Int): Unit = {
    val base = ((tpe * 8 + CoeffBands(n)) * 3 + ctx) * 11
    tk.bool(probs(base), 0)
  }

  /** Encode one signed coefficient token at position `n` (|v| <= 2114,
    * the cat6 ceiling), the exact mirror of [[decodeBlock]]'s tree
    * walk.
    */
  private def encodeCoeff(tk: BoolEncoder, probs: Array[Int], tpe: Int,
      n: Int, ctx: Int, v0: Int): Unit = {
    val base = ((tpe * 8 + CoeffBands(n)) * 3 + ctx) * 11
    val v = math.abs(v0)
    require(v >= 1 && v <= 2114, s"token value out of range: $v0")
    tk.bool(probs(base), 1) // not EOB
    tk.bool(probs(base + 1), 1) // not zero (zero would be bit 0 here)
    if (v == 1) tk.bool(probs(base + 2), 0)
    else {
      tk.bool(probs(base + 2), 1)
      if (v <= 4) {
        tk.bool(probs(base + 3), 0)
        if (v == 2) tk.bool(probs(base + 4), 0)
        else { tk.bool(probs(base + 4), 1); tk.bool(probs(base + 5), v - 3) }
      } else {
        tk.bool(probs(base + 3), 1)
        if (v <= 10) {
          tk.bool(probs(base + 6), 0)
          if (v <= 6) { tk.bool(probs(base + 7), 0); extraBits(tk, Cat1, v - 5) }
          else { tk.bool(probs(base + 7), 1); extraBits(tk, Cat2, v - 7) }
        } else if (v <= 34) {
          tk.bool(probs(base + 6), 1); tk.bool(probs(base + 8), 0)
          if (v <= 18) { tk.bool(probs(base + 9), 0); extraBits(tk, Cat3, v - 11) }
          else { tk.bool(probs(base + 9), 1); extraBits(tk, Cat4, v - 19) }
        } else {
          tk.bool(probs(base + 6), 1); tk.bool(probs(base + 8), 1)
          if (v <= 66) { tk.bool(probs(base + 10), 0); extraBits(tk, Cat5, v - 35) }
          else { tk.bool(probs(base + 10), 1); extraBits(tk, Cat6, v - 67) }
        }
      }
    }
    tk.bool(128, if (v0 < 0) 1 else 0)
  }

  private def extraBits(tk: BoolEncoder, cat: Array[Int], v: Int): Unit = {
    var i = 0
    while (i < cat.length) {
      tk.bool(cat(i), (v >> (cat.length - 1 - i)) & 1)
      i += 1
    }
  }

  /** The "VP8 " chunk payload of a RIFF/WEBP container, None when the
    * container is malformed or lossless-only.
    */
  def vp8Chunk(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 20) return None
    var off = 12
    while (off + 8 <= bytes.length) {
      val tag = new String(bytes, off, 4, "US-ASCII")
      val len = (bytes(off + 4) & 0xff) | ((bytes(off + 5) & 0xff) << 8) |
        ((bytes(off + 6) & 0xff) << 16) | ((bytes(off + 7) & 0xff) << 24)
      if (tag == "VP8 ")
        return Some(java.util.Arrays.copyOfRange(bytes, off + 8,
          math.min(off + 8 + len, bytes.length)))
      off += 8 + len + (len & 1)
    }
    None
  }

  /** Wrap a VP8 payload in a RIFF/WEBP container. */
  def wrapWebp(vp8: Array[Byte]): Array[Byte] = {
    def le32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    val padded = if (vp8.length % 2 == 1) vp8 :+ 0.toByte else vp8
    "RIFF".getBytes("US-ASCII") ++ le32(4 + 8 + padded.length) ++
      "WEBP".getBytes("US-ASCII") ++
      "VP8 ".getBytes("US-ASCII") ++ le32(vp8.length) ++ padded
  }
}
