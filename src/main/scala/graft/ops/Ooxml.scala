package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** OOXML text extraction — the step that turns the [[Zip]] walk's
  * "this is a docx/xlsx" routing into TRAINING TEXT. Both formats
  * keep their text in one well-known member: WordprocessingML's
  * `word/document.xml` (paragraphs of `<w:p>`, runs of `<w:t>`,
  * explicit `<w:tab/>`/`<w:br/>` — everything else is formatting),
  * and SpreadsheetML's `xl/sharedStrings.xml` (`<si><t>` entries, the
  * deduplicated string table every cell references). Extraction is
  * regex over the member's XML — the same deliberate scope as
  * [[graft.ops.HtmlExtract]]: tags are structure, the text between
  * `<w:t>`/`<t>` boundaries is the content, XML entities (named +
  * numeric) decode with `&amp;` resolved last so `&amp;lt;` cannot
  * double-decode.
  *
  * Honest boundaries: not a ZIP, or the expected member absent /
  * encrypted / torn → None (the router said docx; a docx without
  * `word/document.xml` is not one). Empty documents yield an empty
  * string, not null — "no text" is an answer.
  */
object Ooxml {

  private[graft] def unescape(s: String): String = {
    val numeric = "&#(x[0-9a-fA-F]+|\\d+);".r
    val n = numeric.replaceAllIn(s, m => {
      val g = m.group(1)
      val cp = if (g.startsWith("x") || g.startsWith("X"))
        Integer.parseInt(g.substring(1), 16)
      else Integer.parseInt(g)
      java.util.regex.Matcher.quoteReplacement(
        new String(Character.toChars(cp)))
    })
    n.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&amp;", "&") // last: entity-in-entity stays literal
  }

  /** Paragraph texts of `word/document.xml`: `<w:t>` runs concatenate
    * within a paragraph, `<w:tab/>` becomes \t, `<w:br/>` \n.
    */
  def docxParagraphs(zip: Array[Byte]): Option[Seq[String]] = {
    val xml = member(zip, "word/document.xml").getOrElse(return None)
    // self-closing form FIRST: were it second, `<w:p/` would match the
    // open class and lazily swallow everything to the NEXT </w:p>
    val para = "(?s)<w:p/>|<w:p[ >].*?</w:p>".r
    // `<w:t` must be followed by whitespace-led attributes or `>`:
    // a bare `[^>]*` would also match `<w:tab/>` and lazily swallow
    // everything to the NEXT run's closing tag
    val piece =
      "(?s)<w:t(?:\\s[^>]*)?>(.*?)</w:t>|<w:tab\\s*/>|<w:br\\s*/>".r
    Some(para.findAllIn(xml).map { p =>
      piece.findAllMatchIn(p).map { m =>
        if (m.matched.startsWith("<w:tab")) "\t"
        else if (m.matched.startsWith("<w:br")) "\n"
        else unescape(m.group(1))
      }.mkString
    }.toVector)
  }

  /** The shared-string table of `xl/sharedStrings.xml` in file
    * order — one entry per `<si>`, its `<t>` runs concatenated (rich
    * text splits one string across runs).
    */
  def xlsxStrings(zip: Array[Byte]): Option[Seq[String]] = {
    val xml = member(zip, "xl/sharedStrings.xml").getOrElse(return None)
    val si = "(?s)<si>(.*?)</si>".r
    val t = "(?s)<t(?:\\s[^>]*)?>(.*?)</t>".r
    Some(si.findAllMatchIn(xml).map(m =>
      t.findAllMatchIn(m.group(1)).map(x => unescape(x.group(1))).mkString)
      .toVector)
  }

  private def member(zip: Array[Byte], name: String): Option[String] =
    Zip.parseMeta(zip).flatMap(_.entries.find(_.name == name))
      .flatMap(e => Zip.readMember(zip, e))
      .map(b => new String(b, "UTF-8"))

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("kind", StringType), // docx / xlsx per the Zip router
    StructField("n_units", IntegerType), // paragraphs / shared strings
    StructField("text", StringType))) // units joined with \n

  /** Appends `${binCol}_ooxml` (struct, null when not OOXML or the
    * text member is unreadable).
    */
  def textMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_ooxml", metaType)) { b =>
      Zip.parseMeta(b).map(_.kind) match {
        case Some("docx") => docxParagraphs(b)
          .map(ps => Row("docx", ps.length, ps.mkString("\n"))).orNull
        case Some("xlsx") => xlsxStrings(b)
          .map(ss => Row("xlsx", ss.length, ss.mkString("\n"))).orNull
        case _ => null
      }
    }
}
