package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** EPUB chapter extraction — books are the densest long-form text a
  * training corpus gets, and an EPUB is a ZIP with a published map to
  * its text: `META-INF/container.xml` names the OPF package file, the
  * OPF's `<manifest>` maps ids to hrefs (relative to the OPF's own
  * directory), its `<spine>` lists the READING ORDER by idref — the
  * order that must govern extraction; manifest order is storage, not
  * narrative — and Dublin Core metadata (`dc:title`/`dc:creator`/
  * `dc:language`) carries the provenance a curation pipeline dedups
  * and routes by. Chapter XHTML reduces to text by body extraction,
  * tag stripping, and entity decoding ([[Ooxml.unescape]]).
  *
  * Honest boundaries: not a ZIP / no container / no OPF → None; a
  * spine idref with no manifest item, or a chapter member missing
  * from the archive, skips that chapter rather than failing the book
  * (torn books are normal in a crawl); an empty spine is an empty
  * book, not null.
  */
object Epub {

  final case class Book(title: String, creator: String, language: String,
      chapters: Seq[String]) // chapter texts in SPINE order

  def parse(zip: Array[Byte]): Option[Book] = {
    val meta = Zip.parseMeta(zip).getOrElse(return None)
    if (meta.kind != "epub") return None
    def member(name: String): Option[String] =
      meta.entries.find(_.name == name).flatMap(e => Zip.readMember(zip, e))
        .map(b => new String(b, "UTF-8"))
    val container = member("META-INF/container.xml").getOrElse(return None)
    val opfPath = "full-path=[\"']([^\"']+)[\"']".r
      .findFirstMatchIn(container).map(_.group(1)).getOrElse(return None)
    val opf = member(opfPath).getOrElse(return None)
    val opfDir = {
      val cut = opfPath.lastIndexOf('/')
      if (cut >= 0) opfPath.substring(0, cut + 1) else ""
    }
    def dc(tag: String): String =
      s"(?s)<dc:$tag[^>]*>(.*?)</dc:$tag>".r.findFirstMatchIn(opf)
        .map(m => Ooxml.unescape(m.group(1)).trim).orNull
    val items = "(?s)<item\\s[^>]*/?>".r.findAllIn(opf).flatMap { it =>
      for {
        id <- "\\bid=[\"']([^\"']+)[\"']".r.findFirstMatchIn(it)
        href <- "\\bhref=[\"']([^\"']+)[\"']".r.findFirstMatchIn(it)
      } yield id.group(1) -> href.group(1)
    }.toMap
    val spine = "(?s)<itemref\\s[^>]*/?>".r.findAllIn(opf).flatMap { ir =>
      "\\bidref=[\"']([^\"']+)[\"']".r.findFirstMatchIn(ir).map(_.group(1))
    }.toVector
    val chapters = spine.flatMap(idref => items.get(idref))
      .flatMap(href => member(opfDir + href))
      .map(xhtmlText)
    Some(Book(dc("title"), dc("creator"), dc("language"), chapters))
  }

  /** Body text of one XHTML chapter: head discarded, tags stripped,
    * entities decoded. Whitespace is preserved as written — collapse
    * is a downstream normalization choice, not an extraction one.
    */
  private def xhtmlText(xhtml: String): String = {
    val body = "(?s)<body[^>]*>(.*?)</body>".r.findFirstMatchIn(xhtml)
      .map(_.group(1)).getOrElse(xhtml)
    Ooxml.unescape(body.replaceAll("(?s)<[^>]*>", ""))
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("title", StringType),
    StructField("creator", StringType),
    StructField("language", StringType),
    StructField("n_chapters", IntegerType),
    StructField("text", StringType))) // chapters joined with \n

  /** Appends `${binCol}_epub` (struct, null when not an epub). */
  def bookMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_epub", metaType)) { b =>
      parse(b).map(x => Row(x.title, x.creator, x.language,
        x.chapters.length, x.chapters.mkString("\n"))).orNull
    }
}
