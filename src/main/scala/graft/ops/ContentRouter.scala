package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** Content triage — the first operator a mixed crawl column meets:
  * sniff the magic, dispatch to the right metadata walk, and emit one
  * uniform row a curation pipeline can filter/route on without
  * knowing seven formats. This is the COMPOSITION layer over
  * [[Exif]]/[[Pdf]]/[[Zip]]/[[Mpeg]]/[[Id3]]/[[Flac]]/[[Ogg]]: each
  * walk already exists and is gate-proven alone; the router proves
  * they compose — e.g. an ID3v2-tagged MP3 yields BOTH the tag's
  * title ([[Id3]]) and the stream's duration ([[Mpeg]], which skips
  * the tag by its declared size).
  *
  * Output is deliberately flat: `kind` + two salient quantities + one
  * identity string, per kind:
  *
  *   jpeg: sof width/height + Make     pdf: pages/objects + Producer
  *   zip:  entries/total bytes + sub-kind   mp3: duration/bitrate + title
  *   flac: duration/sample rate        ogg: duration/channels + codec
  *   text (valid UTF-8): byte length   bin: byte length
  *
  * A kind whose walk degrades (torn PDF, EXIF-less JPEG) keeps the
  * kind with null quantities — routing never depends on the deep walk
  * succeeding.
  */
object ContentRouter {

  /** Magic-based sniff; `text` requires STRICT UTF-8 validity over
    * the whole buffer, `bin` is the honest remainder.
    */
  def sniff(b: Array[Byte]): String = {
    if (b == null || b.length < 4) return "bin"
    def at(i: Int) = b(i) & 0xff
    if (at(0) == 'I' && at(1) == 'D' && at(2) == '3') "mp3"
    else if (at(0) == 0xff && (at(1) & 0xfe) == 0xfa) "mp3"
    else if (at(0) == 0xff && at(1) == 0xd8) "jpeg"
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G')
      "png"
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8')
      "gif"
    else if (at(0) == 'f' && at(1) == 'L' && at(2) == 'a' && at(3) == 'C')
      "flac"
    else if (at(0) == 'O' && at(1) == 'g' && at(2) == 'g' && at(3) == 'S')
      "ogg"
    else if (at(0) == '%' && at(1) == 'P' && at(2) == 'D' && at(3) == 'F')
      "pdf"
    else if (at(0) == 'P' && at(1) == 'K' && (at(2) == 3 || at(2) == 5))
      "zip"
    else if (isUtf8(b)) "text"
    else "bin"
  }

  private def isUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) {
      val c = b(i) & 0xff
      val n =
        if (c < 0x80) 0
        else if ((c & 0xe0) == 0xc0 && c >= 0xc2) 1
        else if ((c & 0xf0) == 0xe0) 2
        else if ((c & 0xf8) == 0xf0 && c <= 0xf4) 3
        else return false
      if (i + n >= b.length && n > 0) return false
      var k = 1
      while (k <= n) {
        if ((b(i + k) & 0xc0) != 0x80) return false
        k += 1
      }
      i += n + 1
    }
    true
  }

  private def route(b: Array[Byte]): (String, Any, Any, String) = {
    val kind = sniff(b)
    def l(v: Long): Any = java.lang.Long.valueOf(v)
    def opt(v: Long): Any = if (v >= 0) java.lang.Long.valueOf(v) else null
    kind match {
      case "jpeg" => Exif.parseMeta(b) match {
        case Some(m) => (kind, opt(m.sofW), opt(m.sofH), m.make)
        case None => (kind, null, null, null)
      }
      case "png" => Png.parseMeta(b) match {
        case Some(m) => (kind, l(m.width), l(m.height),
          if (m.aiGenerated) "ai" else null)
        case None => (kind, null, null, null)
      }
      case "gif" => Gif.parseMeta(b) match {
        case Some(m) => (kind, l(m.nFrames), l(m.totalDelayMs), null)
        case None => (kind, null, null, null)
      }
      case "pdf" => Pdf.parseMeta(b) match {
        case Some(m) => (kind, opt(m.nPages), opt(m.nObjects), m.producer)
        case None => (kind, null, null, null)
      }
      case "zip" => Zip.parseMeta(b) match {
        case Some(m) => (kind, l(m.nEntries), l(m.totalUncomp), m.kind)
        case None => (kind, null, null, null)
      }
      case "mp3" =>
        val tag = Id3.parseMeta(b) // None on untagged audio
        Mpeg.parseMeta(b) match {
          case Some(m) => (kind, l(m.durationMs), l(m.avgBitrateKbps),
            tag.map(_.title).orNull)
          case None => (kind, null, null, tag.map(_.title).orNull)
        }
      case "flac" => Flac.parseMeta(b) match {
        case Some(m) => (kind, opt(m.durationMs), l(m.sampleRate), null)
        case None => (kind, null, null, null)
      }
      case "ogg" => Ogg.parseMeta(b) match {
        case Some(m) => (kind, opt(m.durationMs), l(m.channels), m.codec)
        case None => (kind, null, null, null)
      }
      case _ => (kind, l(b.length), null, null)
    }
  }

  // ----------------------------------------------------------- DataFrame

  private val routeType = StructType(Seq(
    StructField("kind", StringType),
    StructField("qty1", LongType),
    StructField("qty2", LongType),
    StructField("label", StringType)))

  /** Appends `${binCol}_route` (struct, null for a null payload and
    * never null otherwise — `bin` is a kind).
    */
  def routeMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_route", routeType)) { b =>
      if (b == null) null
      else {
        val (kind, q1, q2, label) = route(b)
        Row(kind, q1, q2, label)
      }
    }
}
