package graft.ops

import java.awt.image.BufferedImage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField}
import graft.runtime.{Barrier, PerRow}

/** Perceptual image deduplication via difference hash (dHash).
  *
  * The standard near-dup detector for image corpora: decode, grayscale,
  * shrink to a (W+1) x H luma grid, and emit one bit per cell — set when
  * the right neighbor is brighter. The 64-bit signature is invariant
  * under uniform brightness/contrast shifts and lossy re-encodes (both
  * preserve the ORDER of neighboring lumas), which is exactly the
  * duplicate class crawl pipelines need to collapse: the same photo
  * served at different quality settings.
  *
  * Scale shape: hashing is an embarrassingly parallel decode scan
  * (appended through [[graft.runtime.PerRow]] — no shuffle);
  * pair finding reuses the SimHash pigeonhole banding
  * ([[Dedup.bandedHammingPairs]]), so candidates come from band-equal
  * bucket joins, never an all-pairs product — the same plan that holds
  * for text near-dup at 100 TB holds here.
  *
  * Everything downstream of the decode is integer-exact: grayscale is
  * the ITU-R 601 weighting in parts-per-1000 (299·R + 587·G + 114·B)
  * div 1000, comparisons are strict, so the q141 oracle can replay the
  * full 64-bit hash in SQL for losslessly-encoded fixtures.
  */
object ImageDedup {

  // ImageIO's default stream cache is DISK-backed: every read/write
  // spins up a FileCache*ImageStream temp file under java.io.tmpdir —
  // one create+delete per image, serialized through the filesystem.
  // For corpus-scale decode scans (thousands of small payloads per
  // task, 32 concurrent tasks) that is pure overhead and tmp churn;
  // memory-backed streams decode the same bytes to the same pixels.
  javax.imageio.ImageIO.setUseCache(false)

  /** Hash grid: 9x8 lumas -> 8x8 = 64 horizontal comparisons. */
  val GridW: Int = 9
  val GridH: Int = 8

  /** Integer ITU-R 601 luma of a packed RGB pixel (exact: the weights
    * sum to 1000, so a gray pixel r=g=b=v maps back to v).
    */
  private[ops] def luma(rgb: Int): Int = {
    val r = (rgb >> 16) & 0xff
    val g = (rgb >> 8) & 0xff
    val b = rgb & 0xff
    (299 * r + 587 * g + 114 * b) / 1000
  }

  /** Lossless gray PNG encoder (fixture generator and a usable sink for
    * synthesized image columns — the image analog of
    * [[Multimodal.wavBytes]]). `lumas` is row-major, values clamped to
    * [0, 255]; pixels are written r=g=b=v into an RGB raster so the
    * decode side's integer luma recovers v exactly.
    */
  def grayPng(lumas: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && h >= 1 && lumas.length == w * h,
      s"expected $w x $h = ${w * h} lumas, got ${lumas.length}")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < lumas.length) {
      val v = math.max(0, math.min(255, lumas(i)))
      img.setRGB(i % w, i / w, (v << 16) | (v << 8) | v)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic fixture image: a 9x8 gray PNG whose lumas come from
    * the XXH64 chain DuckDB replays bit-for-bit (shared by the q141 and
    * g119 rigs). Lumas sit in [0, 200], so a uniform `shift` up to 55
    * can never clamp at 255 — neighbor order, hence the dHash, is
    * provably preserved for shifted duplicates.
    */
  def hashCorpusPng(baseId: Long, shift: Int): Array[Byte] =
    hashCorpusPng(baseId, shift, 0)

  /** The fixture with a bounded CONTENT edit on top: the first
    * `editRows` rows get their column-0 luma inverted (255 - v). A
    * column-0 cell participates in exactly ONE dHash comparison (it has
    * no left neighbor), so the edit perturbs at most `editRows` hash
    * bits — a provable hamming <= editRows near-duplicate of the
    * unedited image, which is what the banded (hamming <= k) dedup rigs
    * plant.
    */
  def hashCorpusPng(baseId: Long, shift: Int, editRows: Int): Array[Byte] = {
    val nPx = GridW * GridH
    val lumas = Array.tabulate(nPx) { idx =>
      val v = Math.floorMod(org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(baseId * nPx + idx, 42L), 201L).toInt + shift
      if (idx % GridW == 0 && idx / GridW < editRows) 255 - v else v
    }
    grayPng(lumas, GridW, GridH)
  }

  /** Bilinear shrink to the hash grid (the [[Multimodal.resizeImages]]
    * path); images already at grid geometry skip the raster copy so
    * lossless fixtures stay bit-exact.
    */
  private def toGrid(img: BufferedImage): BufferedImage =
    if (img.getWidth == GridW && img.getHeight == GridH) img
    else {
      val out = new BufferedImage(GridW, GridH, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, GridW, GridH, null)
      g.dispose()
      out
    }

  /** The 64-bit dHash of a decoded image: bit (y·8 + x) is set when
    * luma(x+1, y) > luma(x, y) on the 9x8 grid.
    */
  def dHashBits(img: BufferedImage): Long = {
    val grid = toGrid(img)
    var bits = 0L
    var y = 0
    while (y < GridH) {
      var left = luma(grid.getRGB(0, y))
      var x = 0
      while (x < GridW - 1) {
        val right = luma(grid.getRGB(x + 1, y))
        if (right > left) bits |= 1L << (y * (GridW - 1) + x)
        left = right
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Decode a binary payload to a BufferedImage: ImageIO first
    * (PNG/JPEG/GIF/BMP), then the pure-Scala VP8L decoder for
    * WebP-lossless payloads ([[WebpLossless]] — r9: the format ImageIO
    * silently nulls). Null when nothing can read it.
    */
  def decodeImage(bytes: Array[Byte]): BufferedImage = {
    if (bytes == null) return null
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img != null) return img
    } catch { case _: Exception => () }
    WebpLossless.decode(bytes) match {
      case Some((w, h, px)) =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
        img.setRGB(0, 0, w, h, px, 0, w)
        img
      case None =>
        // r11: lossy WebP (VP8 keyframe) decodes too — rendered as the
        // LUMA plane (r=g=b=Y): every perceptual feature downstream is
        // luma-based (dHash compares integer lumas), so chroma
        // upsampling would add a conversion convention without adding
        // signal. The decode itself is bit-exact vs libwebp (Vp8Spec).
        Vp8.vp8Chunk(bytes).flatMap(Vp8.decodeKeyframe) match {
          case Some(fr) =>
            val img = new BufferedImage(fr.width, fr.height,
              BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < fr.height) {
              var x = 0
              while (x < fr.width) {
                val v = fr.yAt(x, y)
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
                x += 1
              }
              y += 1
            }
            img
          case None => null
        }
    }
  }

  /** Decode + hash a binary image column: appends `<binCol>_dhash`
    * (LongType; null when the payload isn't a readable image, so
    * corrupt assets degrade to a filterable column, never a task
    * failure). No shuffle — a pure scan stage.
    */
  def dHash(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_dhash", LongType)) { bytes =>
      if (bytes == null) null
      else try {
        val img = decodeImage(bytes)
        if (img == null) null else Long.box(dHashBits(img))
      } catch { case _: Exception => null }
    }

  /** Container format of a binary payload by MAGIC BYTES — a native
    * expression (binary substring compares), no decode, no UDF. The
    * point is WebP: a large share of modern crawls, and the JDK's
    * ImageIO has no WebP reader, so those payloads silently degrade to
    * null in [[dHash]]/[[Multimodal.decodeFeatures]] — this classifier
    * makes that a MEASURED per-format rate instead of a silent one.
    */
  def imageFormat(bin: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    def magic(off: Int, bytes: Array[Byte]) =
      substring(bin, off + 1, bytes.length) === lit(bytes)
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    when(bin.isNull, "missing")
      .when(magic(0, Array(0x89.toByte) ++ ascii("PNG")), "png")
      .when(magic(0, Array(0xff, 0xd8, 0xff).map(_.toByte)), "jpeg")
      .when(magic(0, ascii("GIF8")), "gif")
      .when(magic(0, ascii("BM")), "bmp")
      .when(magic(0, ascii("RIFF")) && magic(8, ascii("WEBP")), "webp")
      .when(magic(0, ascii("II") ++ Array[Byte](42, 0)) ||
        magic(0, ascii("MM") ++ Array[Byte](0, 42)), "tiff")
      .otherwise("other")
  }

  /** Decode-coverage telemetry: per container format (magic bytes),
    * how many payloads exist and how many the JVM decode seam can
    * actually read. One decode scan + a tiny groupBy on a
    * cardinality-~7 key — runs at corpus scale as a side metric of any
    * image pass, and is the observability answer to the silent-WebP
    * gap (VERDICT r8 item 4 / missing #1).
    */
  def decodeCoverage(df: DataFrame, binCol: String): DataFrame = {
    val hashed = dHash(df, binCol)
    // r10 dims-known probe: a decodable payload has dims by definition;
    // for the rest, a well-formed WebP container/frame header carries
    // dimensions WITHOUT any pixel decode (VP8 keyframe header, VP8L
    // signature, VP8X canvas) — the lossy-WebP share reports real dims
    // even though its pixels stay undecodable here
    val binIdx = hashed.schema.fieldIndex(binCol)
    val hashIdx = hashed.schema.fieldIndex(s"${binCol}_dhash")
    PerRow.appendFromRow(hashed, Seq(StructField("__dims", BooleanType, nullable = false))) { r =>
      Seq(!r.isNullAt(hashIdx) ||
        WebpLossless.headerDimensions(r.getAs[Array[Byte]](binIdx)).isDefined)
    }
      .select(imageFormat(col(binCol)).as("format"),
        col(s"${binCol}_dhash").isNotNull.as("__dec"), col("__dims"))
      .groupBy("format")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__dec"), 1L).otherwise(0L)).as("n_decodable"),
        sum(when(col("__dims"), 1L).otherwise(0L)).as("n_dims_known"))
  }

  /** Deterministic mixed-format fixture payload for the coverage rig:
    * kinds 0-3 are REAL encodes of the [[hashCorpusPng]] image (png /
    * jpeg / gif / bmp — all JDK-decodable), kind 4 is a well-formed
    * RIFF/WEBP VP8 (lossy) container nothing here decodes, kind 5 is
    * non-image junk, kind 6 is a missing (null) payload, and kind 7
    * (r9) is a REAL WebP-lossless encode of the same fixture image —
    * decodable through [[WebpLossless]], so the coverage telemetry
    * measures the lossy-vs-lossless WebP split instead of a blanket
    * webp-is-null rate.
    */
  def fixturePayload(baseId: Long, kind: Int): Array[Byte] = kind match {
    case 0 => hashCorpusPng(baseId, 0)
    case 1 | 2 | 3 =>
      val fmt = Seq("jpg", "gif", "bmp")(kind - 1)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(hashCorpusPng(baseId, 0)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    case 4 =>
      // r11: a REAL lossy-WebP payload — the [[Vp8]] DC-mode encoder
      // over a 9x8 macroblock grid (144x128) whose per-MB Y2 levels
      // come from the XXH64 chain DuckDB replays, so the decoded
      // lossy PIXELS themselves are oracle-checkable (q153's 2D
      // DC-prediction recurrence). Replaces the r10 headers-only
      // container: kind 4 now counts in n_decodable, not just
      // n_dims_known.
      Vp8.wrapWebp(vp8Fixture(baseId))
    case 5 =>
      // leading 0x00 matches no magic, so the junk can never be
      // misclassified whatever the hash bytes are
      0.toByte +: Array.tabulate(8)(i =>
        (graft.runtime.Rng.mix(baseId * 8 + i) & 0xff).toByte)
    case 7 =>
      val nPx = GridW * GridH
      WebpLossless.encodeGray(Array.tabulate(nPx) { idx =>
        Math.floorMod(org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(baseId * nPx + idx, 42L), 201L).toInt
      }, GridW, GridH)
    case _ => null
  }

  /** The kind-4 VP8 fixture body: DC-mode keyframe, 144x128 (9x8 MBs —
    * one MB per dHash grid cell), quantizer index 20, per-MB levels in
    * [-4, 4] from the replayable XXH64 chain. Shared by
    * [[fixturePayload]] and the q153 pixel-pin query so the oracle and
    * the coverage rig see identical bytes.
    */
  def vp8Fixture(baseId: Long): Array[Byte] = {
    val levels = Array.tabulate(72) { mb =>
      Math.floorMod(org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(baseId * 72 + mb, 42L), 9L).toInt - 4
    }
    Vp8.encodeDcKeyframe(144, 128, levels, 20)
  }

  /** Near-duplicate image pairs within `maxHamming` bits: drop
    * undecodable rows, then the shared pigeonhole banding
    * ([[Dedup.bandedHammingPairs]]) — recall 1.0, candidates from
    * band-bucket joins. `maxHamming = 0` degenerates to one full-hash
    * equi-join (exact perceptual match).
    */
  def dHashPairs(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 0): DataFrame = {
    // cut: the banding self-join references the hashed frame twice —
    // without the barrier every PNG decodes twice. Signatures are 16
    // bytes/row, so the checkpoint is id-space-sized, not payload-sized.
    val hashed = Barrier.cut(dHash(df, binCol)
      .filter(col(s"${binCol}_dhash").isNotNull)
      .select(col(idCol), col(s"${binCol}_dhash")))
    Dedup.bandedHammingPairs(hashed, idCol, s"${binCol}_dhash", maxHamming)
  }
}
