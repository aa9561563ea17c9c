package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** Subtitle cues (SRT + WebVTT) — the TEXT of a video corpus: for
  * video training data the transcript arrives as `.srt`/`.vtt`
  * sidecars, and what a curation pipeline needs is cue timing (speech
  * density, coverage), clean text (inline markup stripped), and
  * honest malformed handling — not a player. Both grammars are
  * published: SRT blocks are index / `HH:MM:SS,mmm --> HH:MM:SS,mmm`
  * / text lines / blank; WebVTT (W3C) leads with `WEBVTT`, uses `.`
  * millisecond separators, allows an optional cue id line, cue
  * settings after the arrow, hour-less `MM:SS.mmm` stamps, and
  * NOTE/STYLE/REGION comment blocks between cues.
  *
  * Inline markup (`<i>`, `<b>`, `<c.class>`, `<00:00:01.000>` karaoke
  * stamps) strips from the text — tags are presentation, not
  * transcript. A cue whose time line does not parse stops the walk
  * with cues before it kept ([[Mpeg]]'s desync convention); no
  * parseable header/first-cue at all → None.
  */
object Subtitles {

  final case class Cue(startMs: Long, endMs: Long, text: String)

  /** `speechMs` sums cue durations (overlaps counted per cue — the
    * density signal); `textChars` counts stripped text including the
    * newlines BETWEEN a cue's lines, not between cues.
    */
  final case class Meta(kind: String, nCues: Int, firstStartMs: Long,
      lastEndMs: Long, speechMs: Long, textMd5: String, textChars: Long)

  private val SrtTime =
    """(\d{1,2}):(\d{2}):(\d{2})[,.](\d{3})\s*-->\s*(\d{1,2}):(\d{2}):(\d{2})[,.](\d{3}).*""".r
  private val VttTimeShort =
    """(\d{2}):(\d{2})\.(\d{3})\s*-->\s*(\d{2}):(\d{2})\.(\d{3}).*""".r

  private def stripTags(s: String): String =
    s.replaceAll("<[^>]*>", "")

  private def parseTimeLine(l: String): Option[(Long, Long)] = l match {
    case SrtTime(h1, m1, s1, ms1, h2, m2, s2, ms2) =>
      def t(h: String, m: String, s: String, ms: String) =
        h.toLong * 3600000L + m.toLong * 60000L + s.toLong * 1000L + ms.toLong
      Some((t(h1, m1, s1, ms1), t(h2, m2, s2, ms2)))
    case VttTimeShort(m1, s1, ms1, m2, s2, ms2) =>
      def t(m: String, s: String, ms: String) =
        m.toLong * 60000L + s.toLong * 1000L + ms.toLong
      Some((t(m1, s1, ms1), t(m2, s2, ms2)))
    case _ => None
  }

  def parse(content: String): Option[Meta] = {
    if (content == null) return None
    val lines = content.split("\r\n|\n|\r", -1)
    var i = 0
    val isVtt = lines.nonEmpty && lines(0).startsWith("WEBVTT")
    if (isVtt) {
      i = 1
      while (i < lines.length && lines(i).nonEmpty) i += 1 // header meta
    }
    val cues = Seq.newBuilder[Cue]
    var n = 0
    var bad = false
    while (!bad && i < lines.length) {
      while (i < lines.length && lines(i).trim.isEmpty) i += 1
      if (i < lines.length) {
        // comment blocks (VTT): skip to the next blank line
        if (isVtt && (lines(i).startsWith("NOTE") ||
          lines(i).startsWith("STYLE") || lines(i).startsWith("REGION"))) {
          while (i < lines.length && lines(i).trim.nonEmpty) i += 1
        } else {
          // optional numeric index (SRT) / cue id (VTT): a line with
          // no arrow preceding the time line
          var timeLine = lines(i)
          if (!timeLine.contains("-->") && i + 1 < lines.length) {
            i += 1; timeLine = lines(i)
          }
          parseTimeLine(timeLine) match {
            case Some((a, b)) =>
              i += 1
              val text = new StringBuilder()
              while (i < lines.length && lines(i).trim.nonEmpty) {
                if (text.nonEmpty) text.append('\n')
                text.append(stripTags(lines(i)))
                i += 1
              }
              cues += Cue(a, b, text.toString)
              n += 1
            case None => bad = true // stop at the first torn cue
          }
        }
      }
    }
    val cs = cues.result()
    if (cs.isEmpty && !isVtt) return None // no header and no cue: not subs
    val kind = if (isVtt) "vtt" else "srt"
    if (cs.isEmpty)
      return Some(Meta(kind, 0, -1L, -1L, 0L, null, 0L))
    val joined = cs.map(_.text).mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(joined.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    Some(Meta(kind, cs.length, cs.head.startMs, cs.map(_.endMs).max,
      cs.map(c => c.endMs - c.startMs).sum, md5,
      cs.map(_.text.length.toLong).sum))
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("kind", StringType),
    StructField("n_cues", IntegerType),
    StructField("first_start_ms", LongType),
    StructField("last_end_ms", LongType),
    StructField("speech_ms", LongType),
    StructField("text_md5", StringType),
    StructField("text_chars", LongType)))

  /** Appends `${strCol}_subs` (struct, null when not subtitles) over
    * a STRING column — transcripts are text sidecars, not binaries.
    */
  def cueMeta(df: DataFrame, strCol: String): DataFrame =
    PerRow.append[String](df, strCol, StructField(s"${strCol}_subs", metaType)) { s =>
      parse(s).map(x => Row(x.kind, x.nCues,
        if (x.firstStartMs >= 0) x.firstStartMs else null,
        if (x.lastEndMs >= 0) x.lastEndMs else null,
        x.speechMs, x.textMd5, x.textChars)).orNull
    }
}
