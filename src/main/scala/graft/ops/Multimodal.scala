package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** Multimodal column plumbing: images/audio/video ride as opaque
  * `binary` columns with a typed metadata struct; decode / feature
  * extraction runs batched per partition.
  *
  * Image payloads in the JDK's ImageIO formats (PNG/JPEG/GIF/BMP) are
  * decoded for REAL — width/height/channels plus an 8-dim content
  * feature (quadrant lumas, global RGB means, aspect). Payloads ImageIO
  * can't read (and audio/video codecs, which this container lacks) fall
  * back to `decodeStub`, a clearly marked deterministic fake with the
  * same signature — a real codec swaps in without touching plumbing.
  * Decodes append their fields through [[graft.runtime.PerRow]].
  */
object Multimodal {

  // Memory-backed ImageIO streams (see the ImageDedup note): the
  // default disk cache costs a temp-file create+delete per decode.
  javax.imageio.ImageIO.setUseCache(false)

  /** The metadata contract for a multimodal asset column. */
  val metaType: StructType = StructType(Seq(
    StructField("modality", StringType),   // image | audio | video
    StructField("format", StringType),     // png/jpeg/wav/mp4/...
    StructField("n_bytes", LongType)))

  /** Wrap a binary column with its metadata struct (the ingest step). */
  def asAsset(df: DataFrame, binCol: String, modality: String, format: String): DataFrame =
    df.withColumn(s"${binCol}_meta",
      struct(lit(modality).as("modality"), lit(format).as("format"),
        length(col(binCol)).cast("long").as("n_bytes")))

  /** ==== STUB ==== Deterministic fake decode: "decodes" a binary asset
    * to (width, height, channels) + an 8-dim feature vector derived from
    * content bytes. A real implementation replaces ONLY this function
    * with a codec call; signature and determinism contract stay.
    */
  private[ops] def decodeStub(bytes: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val h = graft.runtime.Rng.mix(bytes.length.toLong ^
      (if (bytes.nonEmpty) bytes(0).toLong << 32 else 0L))
    val width = 64 + (Math.floorMod(h, 16L) * 64).toInt
    val height = 64 + (Math.floorMod(h >>> 8, 16L) * 64).toInt
    val features = new Array[Float](8)
    var i = 0
    while (i < 8) {
      features(i) = ((graft.runtime.Rng.mix(h + i) >>> 11) * 1.1102230246251565e-16).toFloat
      i += 1
    }
    (width, height, 3, features)
  }

  /** Real image decode: the JDK's ImageIO (PNG/JPEG/GIF/BMP) plus the
    * pure-Scala VP8L fallback for WebP-lossless (r9 — lossy VP8 and
    * undecodable WebP still return None). Returns None for payloads
    * that aren't a readable image — the caller falls back to the stub.
    * A magic-byte sniff runs first so arbitrary binary blobs don't pay
    * ImageIO's reader-discovery cost per row.
    */
  private[ops] def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    if (bytes == null || bytes.length < 12) return None
    def b(i: Int): Int = bytes(i) & 0xff
    val looksImage =
      (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') || // png
        (b(0) == 0xff && b(1) == 0xd8) ||                            // jpeg
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') ||               // gif
        (b(0) == 'B' && b(1) == 'M') ||                              // bmp
        (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') // webp
    if (!looksImage) return None
    try {
      val img = ImageDedup.decodeImage(bytes)
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val channels = img.getColorModel.getNumComponents
        // 8-dim content feature: mean luma per quadrant (4), global mean
        // R/G/B (3), aspect ratio (1) — deterministic, codec-independent
        val sums = new Array[Double](3)
        val quad = new Array[Double](4)
        val quadN = new Array[Long](4)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val bl = rgb & 0xff
            sums(0) += r; sums(1) += g; sums(2) += bl
            val qi = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
            quad(qi) += 0.299 * r + 0.587 * g + 0.114 * bl
            quadN(qi) += 1
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        val features = Array(
          (quad(0) / math.max(1L, quadN(0)) / 255).toFloat,
          (quad(1) / math.max(1L, quadN(1)) / 255).toFloat,
          (quad(2) / math.max(1L, quadN(2)) / 255).toFloat,
          (quad(3) / math.max(1L, quadN(3)) / 255).toFloat,
          (sums(0) / n / 255).toFloat, (sums(1) / n / 255).toFloat,
          (sums(2) / n / 255).toFloat, w.toFloat / h)
        Some((w, h, channels, features))
      }
    } catch { case _: Exception => None }
  }

  private val decodedType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("features", ArrayType(FloatType, containsNull = false))))

  /** Decode + feature-extract a binary asset column: appends
    * `<binCol>_decoded` (struct; null for a null payload, like every
    * other seam). Real ImageIO decode for image payloads; the
    * deterministic stub for everything else.
    */
  def decodeFeatures(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_decoded", decodedType)) { bytes =>
      if (bytes == null) null
      else decodeImage(bytes) match {
        case Some((w, h, c, f)) => Row(w, h, c, f.toSeq)
        case None =>
          // r10: lossy WebP (and any other well-formed WebP outside
          // the VP8L pixel decoder) still yields REAL dimensions from
          // the container/frame header — dims filled, channels and
          // features null, so downstream sees honest partial
          // metadata instead of the stub's fake
          WebpLossless.headerDimensions(bytes) match {
            case Some((w, h)) => Row(w, h, null, null)
            case None =>
              val (w, h, c, f) = decodeStub(bytes)
              Row(w, h, c, f.toSeq)
          }
      }
    }

  /** Video frame sampling plumbing: one row per sampled frame index at
    * `fps`-spaced offsets (the decode of each frame is the same stub
    * seam). Fan-out is a codegen'd explode, not a UDF loop.
    */
  def sampleFrames(df: DataFrame, binCol: String, nFrames: Int): DataFrame =
    df.withColumn("frame_idx",
      explode(sequence(lit(0), lit(nFrames - 1))))
      .withColumn("frame_offset_bytes",
        (col("frame_idx") * greatest(length(col(binCol)).cast("long") / nFrames, lit(1L)))
          .cast("long"))

  /** Resize plumbing: records the target geometry next to the decoded
    * struct (the pixel-rewriting form is [[resizeImages]]).
    */
  def withResizeTarget(df: DataFrame, width: Int, height: Int): DataFrame =
    df.withColumn("resize_target",
      struct(lit(width).as("width"), lit(height).as("height")))

  /** REAL image resize: ImageIO decode → bilinear Graphics2D scale →
    * PNG re-encode, one offscreen buffer per row, pure JDK (headless-
    * safe — no display connection for offscreen rasters). Appends
    * `<binCol>_resized` (binary; null for undecodable/non-image
    * payloads so corrupt assets degrade to a filterable column, never a
    * task failure). Embarrassingly parallel, no shuffle; at 100 TB this
    * is the canonical CPU-bound scan stage — executor cores are the
    * only scaling knob, exactly as intended.
    */
  def resizeImages(df: DataFrame, binCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1, s"target must be positive: ${width}x$height")
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_resized", BinaryType)) { bytes =>
      if (bytes == null) null
      else try {
        val img = ImageDedup.decodeImage(bytes) // ImageIO, then VP8L
        if (img == null) null
        else {
          val out = new java.awt.image.BufferedImage(width, height,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, width, height, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          bos.toByteArray
        }
      } catch { case _: Exception => null }
    }
  }

  // ------------------------------------------------- audio (RIFF/WAV)

  /** Encode 16-bit PCM samples as a canonical RIFF/WAV byte payload
    * (44-byte header + little-endian samples) — the fixture encoder for
    * the audio path and a usable sink for synthesized audio columns.
    */
  def wavBytes(samples: Array[Short], sampleRate: Int, channels: Int): Array[Byte] = {
    require(sampleRate >= 1 && channels >= 1)
    val dataSize = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)                     // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2)       // byte rate
      .putShort((channels * 2).toShort)        // block align
      .putShort(16.toShort)                    // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** REAL RIFF/WAV parse: validates the RIFF/WAVE container, walks the
    * chunk list (unknown chunks are skipped by their declared size, so
    * files with LIST/INFO metadata between fmt and data parse fine),
    * requires PCM 16-bit, and computes integer features from the data
    * chunk. Returns (sampleRate, channels, nSamplesPerChannel, peak,
    * sumSq) or None for anything that isn't a readable PCM wav.
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    if (bytes == null || bytes.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int): String =
      new String(bytes, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var fmt: Option[(Int, Int, Int)] = None // (audioFormat, channels, rate)
    var bits = 0
    var dataOff = -1
    var dataLen = 0
    while (pos + 8 <= bytes.length && (fmt.isEmpty || dataOff < 0)) {
      val id = tag(pos)
      val size = bb.getInt(pos + 4)
      if (size < 0 || pos + 8 + size > bytes.length) return None
      id match {
        case "fmt " if size >= 16 =>
          fmt = Some((bb.getShort(pos + 8).toInt, bb.getShort(pos + 10).toInt,
            bb.getInt(pos + 12)))
          bits = bb.getShort(pos + 22).toInt
        case "data" =>
          dataOff = pos + 8; dataLen = size
        case _ => () // skip LIST/INFO/fact/...
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    fmt match {
      // rate >= 1: a corrupt fmt chunk with rate 0 (or negative) would
      // otherwise reach audioFeatures' `n * 1000 / rate` and kill the
      // scan with ArithmeticException — the decoder's contract is that
      // untrusted bytes degrade to nulls, never to task failure
      case Some((1, channels, rate)) if bits == 16 && dataOff >= 0 && channels >= 1 && rate >= 1 =>
        val n = dataLen / 2
        var (i, peak, sumSq) = (0, 0L, 0L)
        while (i < n) {
          val s = bb.getShort(dataOff + i * 2).toLong
          val a = math.abs(s)
          if (a > peak) peak = a
          sumSq += s * s
          i += 1
        }
        Some((rate, channels, n.toLong / channels, peak, sumSq))
      case _ => None
    }
  }

  /** Audio feature extraction: appends sample_rate / channels /
    * n_samples / duration_ms / peak / amp_sum_sq (all integer —
    * engine-portable), all null on undecodable payloads. Embarrassingly
    * parallel scan stage, no shuffle.
    */
  def audioFeatures(df: DataFrame, binCol: String): DataFrame =
    PerRow.appendAll[Array[Byte]](df, binCol, Seq(
      StructField("sample_rate", IntegerType), StructField("channels", IntegerType),
      StructField("n_samples", LongType), StructField("duration_ms", LongType),
      StructField("peak", LongType), StructField("amp_sum_sq", LongType))) { bytes =>
      decodeWav(bytes) match {
        case Some((rate, ch, n, peak, sumSq)) =>
          // Seq[Any]: a plain Seq literal would numerically widen the
          // Ints to Long and break the Row encoder's INT fields
          Seq[Any](rate, ch, n, n * 1000L / rate, peak, sumSq)
        case None => Seq(null, null, null, null, null, null)
      }
    }
}
