package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** PDF document metadata — after HTML, the single most common
  * document format a web crawl yields for training data, and the one
  * whose metadata lives deepest: page count, encryption, and
  * provenance strings require walking the cross-reference machinery,
  * not scanning bytes. Everything here is the published ISO 32000-1
  * grammar:
  *
  *   header `%PDF-M.m` → `startxref` (scanned from EOF) → either a
  *   CLASSIC xref table (20-byte entries + a `trailer` dict) or a
  *   v1.5+ XREF STREAM (/Type /XRef: FlateDecode'd /W-packed rows,
  *   optionally PNG-predicted — /Predictor 12 "Up" is what real
  *   writers emit; [[graft.sources.Http]]'s sibling Inflater does the
  *   decode) → the trailer's /Root → catalog → /Pages → /Count, the
  *   /Info dict's Title/Author/Producer (literal or hex strings), and
  *   /Encrypt PRESENCE — an encrypted PDF is a curation drop/route
  *   signal long before any decryption.
  *
  * The object parser underneath is deliberately small: names, dicts,
  * arrays, numbers, `n g R` references (one-token lookahead), literal
  * strings with escapes and nested parens, hex strings, and
  * stream-dict /Length (direct ints — this walker's scope). No
  * /Prev chains (incremental updates read the newest section only —
  * add the hop when a corpus needs it) and no content streams: page
  * TEXT extraction is a different op; this is the metadata gate.
  *
  * Honest degradation, the [[Exif]] boundary: no `%PDF-` magic →
  * None; a valid header whose xref machinery fails (corrupt offset,
  * truncation, unsupported filter) keeps `version` and nulls the
  * rest — a crawl carries torn PDFs, and version-only is still a
  * classification signal.
  */
object Pdf {

  /** Sentinels at the case-class layer (nulls in the DataFrame):
    * null strings / -1 ints absent. `xrefKind` is "table" or
    * "stream"; `nObjects` is the trailer /Size (indirect objects + 1,
    * the spec's counting).
    */
  final case class Meta(version: String, nPages: Int, nObjects: Int,
      xrefKind: String, encrypted: Boolean, title: String, author: String,
      producer: String)

  // ------------------------------------------------------- value model

  private final case class PName(s: String)
  private final case class PRef(num: Int)
  private case object PNull

  // ------------------------------------------------------------ lexer

  /** A tiny recursive-descent reader over the byte array. Throws
    * `PdfErr` on anything out of contract; the public parse catches.
    */
  private final class PdfErr(msg: String) extends Exception(msg)
  private def err(msg: String): Nothing = throw new PdfErr(msg)

  private final class Rd(val b: Array[Byte], var p: Int) {
    def eof: Boolean = p >= b.length
    def peek: Int = if (eof) -1 else b(p) & 0xff
    def next(): Int = { val c = peek; p += 1; c }
    def ws(): Unit = {
      var go = true
      while (go && !eof) {
        val c = peek
        if (c == ' ' || c == '\r' || c == '\n' || c == '\t' || c == '\f' ||
          c == 0) p += 1
        else if (c == '%') { while (!eof && peek != '\r' && peek != '\n') p += 1 }
        else go = false
      }
    }
    def expect(s: String): Unit = {
      ws()
      s.foreach { ch =>
        if (eof || next() != ch.toInt) err(s"expected '$s' at ${p - 1}")
      }
    }
    def tryKeyword(s: String): Boolean = {
      ws()
      val save = p
      var i = 0
      var ok = true
      while (ok && i < s.length) {
        if (eof || next() != s(i).toInt) ok = false
        i += 1
      }
      if (!ok) p = save
      ok
    }
    private def isDelim(c: Int): Boolean =
      c == -1 || c == ' ' || c == '\r' || c == '\n' || c == '\t' ||
        c == '\f' || c == 0 || c == '/' || c == '(' || c == ')' ||
        c == '<' || c == '>' || c == '[' || c == ']' || c == '%'

    def parseValue(): Any = {
      ws()
      peek match {
        case '<' =>
          if (p + 1 < b.length && b(p + 1) == '<') parseDict()
          else parseHexString()
        case '(' => parseLiteralString()
        case '/' => parseName()
        case '[' =>
          p += 1
          val items = Vector.newBuilder[Any]
          ws()
          while (peek != ']') {
            if (eof) err("unterminated array")
            items += parseValue()
            ws()
          }
          p += 1
          items.result()
        case 't' => expect("true"); java.lang.Boolean.TRUE
        case 'f' => expect("false"); java.lang.Boolean.FALSE
        case 'n' => expect("null"); PNull
        case c if c == '+' || c == '-' || (c >= '0' && c <= '9') ||
          c == '.' => parseNumberOrRef()
        case c => err(s"unexpected value start $c at $p")
      }
    }

    def parseName(): PName = {
      expect("/")
      val sb = new java.lang.StringBuilder(16)
      while (!isDelim(peek)) {
        val c = next()
        if (c == '#' && p + 1 < b.length) { // #xx escape
          val h = Integer.parseInt(
            new String(Array(b(p), b(p + 1)), "US-ASCII"), 16)
          sb.append(h.toChar); p += 2
        } else sb.append(c.toChar)
      }
      PName(sb.toString)
    }

    def parseDict(): Map[String, Any] = {
      expect("<<")
      val m = Map.newBuilder[String, Any]
      ws()
      while (!(peek == '>' && p + 1 < b.length && b(p + 1) == '>')) {
        if (eof) err("unterminated dict")
        val k = parseName()
        m += k.s -> parseValue()
        ws()
      }
      p += 2
      m.result()
    }

    private def parseHexString(): String = {
      expect("<")
      val bytes = new ByteArrayOutputStream()
      var hi = -1
      while (peek != '>') {
        val c = next()
        val v = Character.digit(c, 16)
        if (v >= 0) {
          if (hi < 0) hi = v
          else { bytes.write((hi << 4) | v); hi = -1 }
        } else if (!(c == ' ' || c == '\r' || c == '\n' || c == '\t'))
          err(s"bad hex char $c")
        if (eof) err("unterminated hex string")
      }
      p += 1
      if (hi >= 0) bytes.write(hi << 4) // odd count: trailing 0 nibble
      new String(bytes.toByteArray, "ISO-8859-1")
    }

    private def parseLiteralString(): String = {
      expect("(")
      val bytes = new ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        if (eof) err("unterminated string")
        val c = next()
        c match {
          case '(' => depth += 1; bytes.write(c)
          case ')' => depth -= 1; if (depth > 0) bytes.write(c)
          case '\\' =>
            val e = next()
            e match {
              case 'n' => bytes.write('\n'); case 'r' => bytes.write('\r')
              case 't' => bytes.write('\t'); case 'b' => bytes.write('\b')
              case 'f' => bytes.write('\f')
              case '(' | ')' | '\\' => bytes.write(e)
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && peek >= '0' && peek <= '7') {
                  v = v * 8 + (next() - '0'); k += 1
                }
                bytes.write(v & 0xff)
              case '\n' => () // line continuation
              case '\r' => if (peek == '\n') p += 1
              case other => bytes.write(other) // spec: drop the backslash
            }
          case _ => bytes.write(c)
        }
      }
      new String(bytes.toByteArray, "ISO-8859-1")
    }

    private def parseNumberOrRef(): Any = {
      val sb = new java.lang.StringBuilder(16)
      if (peek == '+' || peek == '-') sb.append(next().toChar)
      var real = false
      while ((peek >= '0' && peek <= '9') || peek == '.') {
        if (peek == '.') real = true
        sb.append(next().toChar)
      }
      if (sb.length() == 0) err(s"empty number at $p")
      if (real) java.lang.Double.valueOf(sb.toString)
      else {
        val n = java.lang.Long.parseLong(sb.toString)
        // `n g R` lookahead — a reference only when BOTH follow
        val save = p
        ws()
        var gDigits = 0
        while (peek >= '0' && peek <= '9') { p += 1; gDigits += 1 }
        if (gDigits > 0) {
          ws()
          if (peek == 'R' && isDelim(if (p + 1 < b.length) b(p + 1) & 0xff
            else -1)) {
            p += 1
            return PRef(n.toInt)
          }
        }
        p = save
        java.lang.Long.valueOf(n)
      }
    }
  }

  // ------------------------------------------------------------- parser

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 8) return None
    if (!(bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' &&
      bytes(3) == 'F' && bytes(4) == '-')) return None
    var v = 5
    while (v < bytes.length && bytes(v) != '\r' && bytes(v) != '\n' &&
      v < 16) v += 1
    val version = new String(bytes, 5, v - 5, "US-ASCII").trim
    val bare = Meta(version, -1, -1, null, encrypted = false, null, null, null)
    try Some(extract(bytes, version)) catch { case _: Exception => Some(bare) }
  }

  private def extract(b: Array[Byte], version: String): Meta = {
    // startxref scanned from EOF (the spec's own instruction)
    val tailFrom = math.max(0, b.length - 256)
    val tail = new String(b, tailFrom, b.length - tailFrom, "ISO-8859-1")
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) err("no startxref")
    val rd0 = new Rd(b, tailFrom + sx + "startxref".length)
    val xrefAt = rd0.parseValue() match {
      case n: java.lang.Long => n.longValue()
      case _ => err("bad startxref offset")
    }
    if (xrefAt < 0 || xrefAt >= b.length) err("startxref out of range")

    // walk the /Prev chain of xref sections, NEWEST first: an
    // incrementally-updated PDF appends a section whose entries
    // supersede older ones for the same object number, so earlier
    // sections only CONTRIBUTE objects the newer map lacks
    var offsets = Map.empty[Int, Long]
    var trailer: Map[String, Any] = null
    var kind: String = null
    var sectionAt = xrefAt
    var seen = Set.empty[Long]
    while (sectionAt >= 0 && sectionAt < b.length && !seen(sectionAt) &&
      seen.size < 16) {
      seen += sectionAt
      val (offs, tr, k) = parseSection(b, sectionAt)
      if (trailer == null) { trailer = tr; kind = k } // newest wins
      offsets = offs ++ offsets // newer entries override on conflict
      sectionAt = tr.get("Prev") match {
        case Some(n: java.lang.Long) => n.longValue()
        case _ => -1L
      }
    }
    if (trailer == null) err("no xref section parsed")
    finishExtract(b, version, offsets, trailer, kind)
  }

  /** One xref section (classic table or XRef stream) at `at`. */
  private def parseSection(b: Array[Byte], at: Long)
      : (Map[Int, Long], Map[String, Any], String) = {
    var offsets = Map.empty[Int, Long]
    var trailer: Map[String, Any] = null
    var kind: String = null
    val rd = new Rd(b, at.toInt)
    if (rd.tryKeyword("xref")) {
      kind = "table"
      var go = true
      while (go) {
        rd.ws()
        if (rd.tryKeyword("trailer")) {
          trailer = rd.parseDict()
          go = false
        } else {
          val start = rd.parseValue().asInstanceOf[java.lang.Long].intValue()
          val count = rd.parseValue().asInstanceOf[java.lang.Long].intValue()
          var i = 0
          while (i < count) {
            rd.ws()
            // 20-byte entries: 10-digit offset, 5-digit gen, n/f
            val off = java.lang.Long.parseLong(
              new String(b, rd.p, 10, "US-ASCII"))
            val key = b(rd.p + 17).toChar
            if (key == 'n') offsets += (start + i) -> off
            rd.p += 18
            i += 1
          }
        }
      }
    } else {
      kind = "stream"
      val (dict, data) = objStreamAt(rd)
      if (!dict.get("Type").contains(PName("XRef"))) err("not an XRef stream")
      trailer = dict
      val w = dict.getOrElse("W", err("no /W")).asInstanceOf[Vector[Any]]
        .map(_.asInstanceOf[java.lang.Long].intValue())
      val size = dict.getOrElse("Size", err("no /Size"))
        .asInstanceOf[java.lang.Long].intValue()
      val index: Vector[Int] = dict.get("Index") match {
        case Some(ix: Vector[Any]) =>
          ix.map(_.asInstanceOf[java.lang.Long].intValue())
        case _ => Vector(0, size)
      }
      val rowLen = w.sum
      var rowAt = 0
      def field(row: Int, f: Int): Long = {
        var off = row * rowLen
        (0 until f).foreach(k => off += w(k))
        var x = 0L
        (0 until w(f)).foreach(k => x = (x << 8) | (data(off + k) & 0xff))
        x
      }
      index.grouped(2).foreach { pair =>
        val (start, count) = (pair(0), pair(1))
        (0 until count).foreach { i =>
          val tpe = if (w(0) == 0) 1L else field(rowAt, 0)
          if (tpe == 1L) offsets += (start + i) -> field(rowAt, 1)
          rowAt += 1 // type 0 free / type 2 object-stream rows skip
        }
      }
    }
    (offsets, trailer, kind)
  }

  private def finishExtract(b: Array[Byte], version: String,
      offsets: Map[Int, Long], trailer: Map[String, Any], kind: String)
      : Meta = {
    def getObj(num: Int): Any = offsets.get(num) match {
      case Some(off) if off >= 0 && off < b.length =>
        val r = new Rd(b, off.toInt)
        r.parseValue(); r.parseValue() // obj number, generation
        r.expect("obj")
        r.parseValue()
      case _ => err(s"object $num not in xref")
    }
    def deref(v: Any): Any = v match {
      case PRef(n) => getObj(n)
      case other => other
    }

    val nObjects = trailer.get("Size") match {
      case Some(n: java.lang.Long) => n.intValue()
      case _ => -1
    }
    val encrypted = trailer.contains("Encrypt")
    val nPages = trailer.get("Root").map(deref) match {
      case Some(cat: Map[String @unchecked, Any @unchecked]) =>
        cat.get("Pages").map(deref) match {
          case Some(pg: Map[String @unchecked, Any @unchecked]) =>
            pg.get("Count").map(deref) match {
              case Some(n: java.lang.Long) => n.intValue()
              case _ => -1
            }
          case _ => -1
        }
      case _ => -1
    }
    def infoStr(key: String): String =
      trailer.get("Info").map(deref) match {
        case Some(info: Map[String @unchecked, Any @unchecked]) =>
          info.get(key) match {
            case Some(s: String) => s
            case _ => null
          }
        case _ => null
      }
    Meta(version, nPages, nObjects, kind, encrypted,
      infoStr("Title"), infoStr("Author"), infoStr("Producer"))
  }

  /** `N G obj <<dict>> stream\n…\nendstream` at the reader position:
    * returns the dict and the DECODED stream bytes (FlateDecode,
    * optional PNG-Up predictor — what real xref-stream writers emit).
    */
  private def objStreamAt(rd: Rd): (Map[String, Any], Array[Byte]) = {
    rd.parseValue(); rd.parseValue()
    rd.expect("obj")
    val dict = rd.parseValue() match {
      case d: Map[String @unchecked, Any @unchecked] => d
      case _ => err("xref object is not a dict")
    }
    rd.expect("stream")
    // EOL after `stream`: CRLF or LF per spec
    if (rd.peek == '\r') rd.p += 1
    if (rd.peek == '\n') rd.p += 1
    val len = dict.get("Length") match {
      case Some(n: java.lang.Long) => n.intValue() // direct ints: our scope
      case _ => err("no direct /Length")
    }
    if (rd.p + len > rd.b.length) err("stream truncated")
    val raw = java.util.Arrays.copyOfRange(rd.b, rd.p, rd.p + len)
    val flate = dict.get("Filter") match {
      case Some(PName("FlateDecode")) =>
        graft.sources.Http.decompress(raw, "deflate")
          .getOrElse(err("FlateDecode failed"))
      case None => raw
      case other => err(s"unsupported filter $other")
    }
    val data = dict.get("DecodeParms") match {
      case Some(parms: Map[String @unchecked, Any @unchecked]) =>
        val pred = parms.get("Predictor") match {
          case Some(n: java.lang.Long) => n.intValue(); case _ => 1
        }
        if (pred < 10) flate
        else {
          val cols = parms.get("Columns") match {
            case Some(n: java.lang.Long) => n.intValue(); case _ => 1
          }
          unpredictPng(flate, cols)
        }
      case _ => flate
    }
    (dict, data)
  }

  /** PNG row predictors over `cols`-byte rows: filter 0 (None) and
    * 2 (Up) — the pair xref-stream writers use. Anything else errs.
    */
  private def unpredictPng(enc: Array[Byte], cols: Int): Array[Byte] = {
    if (cols <= 0 || enc.length % (cols + 1) != 0) err("bad predictor rows")
    val rows = enc.length / (cols + 1)
    val out = new Array[Byte](rows * cols)
    var r = 0
    while (r < rows) {
      val f = enc(r * (cols + 1)) & 0xff
      var c = 0
      while (c < cols) {
        val e = enc(r * (cols + 1) + 1 + c)
        out(r * cols + c) = f match {
          case 0 => e
          case 2 =>
            if (r == 0) e
            else (e + out((r - 1) * cols + c)).toByte // Up
          case other => err(s"unsupported PNG filter $other")
        }
        c += 1
      }
      r += 1
    }
    out
  }

  // ------------------------------------------------------------- builder

  /** A well-formed single-section PDF: catalog, page tree, `nPages`
    * page objects, an /Info dict (title as a HEX string when
    * `hexTitle` — both spellings are real), optionally a stub
    * /Encrypt dict, cross-referenced by a classic table or a v1.5
    * xref stream (FlateDecode, PNG-Up predicted when `predictor`).
    */
  def build(version: String, nPages: Int, title: String, author: String,
      producer: String, xrefStream: Boolean = false,
      predictor: Boolean = false, encrypted: Boolean = false,
      hexTitle: Boolean = false): Array[Byte] = {
    require(nPages >= 1, s"nPages $nPages")
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    var offsets = Map.empty[Int, Int]
    def obj(num: Int)(body: => Unit): Unit = {
      offsets += num -> out.size()
      w(s"$num 0 obj\n"); body; w("\nendobj\n")
    }
    w(s"%PDF-$version\n%âãÏÓ\n") // binary-marker comment
    val kids = (3 until 3 + nPages).map(n => s"$n 0 R").mkString(" ")
    obj(1)(w(s"<< /Type /Catalog /Pages 2 0 R >>"))
    obj(2)(w(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"))
    (3 until 3 + nPages).foreach { n =>
      obj(n)(w("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>"))
    }
    val infoNum = 3 + nPages
    val titleTok =
      if (hexTitle) "<" + title.getBytes("ISO-8859-1")
        .map(x => f"${x & 0xff}%02X").mkString + ">"
      else "(" + title.replace("\\", "\\\\").replace("(", "\\(")
        .replace(")", "\\)") + ")"
    obj(infoNum)(w(s"<< /Title $titleTok /Author ($author) " +
      s"/Producer ($producer) >>"))
    var encNum = -1
    if (encrypted) {
      encNum = infoNum + 1
      obj(encNum)(w("<< /Filter /Standard /V 2 /R 3 /Length 128 >>"))
    }
    val lastContent = if (encrypted) encNum else infoNum
    val trailerRefs = s"/Root 1 0 R /Info $infoNum 0 R" +
      (if (encrypted) s" /Encrypt $encNum 0 R" else "")

    if (!xrefStream) {
      val size = lastContent + 1
      val xrefAt = out.size()
      w(s"xref\n0 $size\n")
      w(f"${0}%010d 65535 f\r\n")
      (1 until size).foreach(n => w(f"${offsets(n)}%010d 00000 n\r\n"))
      w(s"trailer\n<< /Size $size $trailerRefs >>\n")
      w(s"startxref\n$xrefAt\n%%EOF\n")
    } else {
      val xrefNum = lastContent + 1
      val size = xrefNum + 1
      // rows: W [1 4 1] — type, offset/next-free, gen
      val cols = 6
      val rows = new ByteArrayOutputStream()
      def row(tpe: Int, f2: Long, f3: Int): Unit = {
        rows.write(tpe)
        rows.write(((f2 >> 24) & 0xff).toInt); rows.write(((f2 >> 16) & 0xff).toInt)
        rows.write(((f2 >> 8) & 0xff).toInt); rows.write((f2 & 0xff).toInt)
        rows.write(f3)
      }
      val xrefAt = out.size()
      row(0, 0L, 255) // object 0: free
      (1 until xrefNum).foreach(n => row(1, offsets(n), 0))
      row(1, xrefAt, 0) // the xref stream object itself
      val raw = rows.toByteArray
      val enc =
        if (!predictor) raw
        else { // PNG Up over 6-byte rows
          val n = raw.length / cols
          val o = new ByteArrayOutputStream()
          (0 until n).foreach { r =>
            o.write(2)
            (0 until cols).foreach { c =>
              val up = if (r == 0) 0 else raw((r - 1) * cols + c)
              o.write((raw(r * cols + c) - up) & 0xff)
            }
          }
          o.toByteArray
        }
      val deflated = {
        val d = new java.util.zip.Deflater()
        d.setInput(enc); d.finish()
        val bo = new ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
        d.end(); bo.toByteArray
      }
      val parms =
        if (predictor) s" /DecodeParms << /Predictor 12 /Columns $cols >>"
        else ""
      offsets += xrefNum -> out.size()
      w(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 1] " +
        s"/Index [0 $size] /Filter /FlateDecode$parms " +
        s"/Length ${deflated.length} $trailerRefs >>\nstream\n")
      out.write(deflated)
      w("\nendstream\nendobj\n")
      w(s"startxref\n$xrefAt\n%%EOF\n")
    }
    out.toByteArray
  }

  /** An INCREMENTAL UPDATE over `base` (the save-in-place layout
    * every edited PDF carries): a replacement /Info object with
    * `newTitle` appended after the original bytes, plus a one-entry
    * classic xref section whose trailer carries /Prev to the base's
    * section — appenders write classic tables even over xref-stream
    * originals. The superseded object's old bytes remain in the file;
    * only the newest section's entry may win.
    */
  def buildIncremental(base: Array[Byte], newTitle: String): Array[Byte] = {
    val s = new String(base, "ISO-8859-1")
    val sx = s.lastIndexOf("startxref")
    require(sx >= 0, "base has no startxref")
    val prevAt = s.substring(sx + 9).trim.takeWhile(_.isDigit).toLong
    // the base trailer's /Info target and /Size carry over
    val infoM = "/Info (\\d+) 0 R".r.findFirstMatchIn(s)
      .getOrElse(sys.error("base has no /Info"))
    val infoNum = infoM.group(1).toInt
    val sizeM = "/Size (\\d+)".r
      .findFirstMatchIn(s.substring(math.max(0, sx - 600)))
      .getOrElse(sys.error("base has no /Size"))
    val size = sizeM.group(1).toInt
    val rootM = "/Root (\\d+) 0 R".r.findFirstMatchIn(s)
      .getOrElse(sys.error("base has no /Root"))
    // an updater PRESERVES /Encrypt — dropping it would decrypt by fiat
    val encryptRef = "/Encrypt (\\d+) 0 R".r.findFirstMatchIn(s)
      .map(m => s" /Encrypt ${m.group(1)} 0 R").getOrElse("")
    val out = new ByteArrayOutputStream()
    out.write(base)
    def w(x: String): Unit = out.write(x.getBytes("ISO-8859-1"))
    val objAt = out.size()
    w(s"$infoNum 0 obj\n<< /Title (${newTitle.replace("\\", "\\\\")
      .replace("(", "\\(").replace(")", "\\)")}) " +
      "/Author (updated) /Producer (graft-incr) >>\nendobj\n")
    val xrefAt = out.size()
    w(s"xref\n$infoNum 1\n")
    w(f"$objAt%010d 00000 n\r\n")
    w(s"trailer\n<< /Size $size /Root ${rootM.group(1)} 0 R " +
      s"/Info $infoNum 0 R$encryptRef /Prev $prevAt >>\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("version", StringType),
    StructField("n_pages", IntegerType),
    StructField("n_objects", IntegerType),
    StructField("xref_kind", StringType),
    StructField("encrypted", BooleanType),
    StructField("title", StringType),
    StructField("author", StringType),
    StructField("producer", StringType)))

  /** Appends `${binCol}_pdf` (struct, null when not a PDF). */
  def docMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_pdf", metaType)) { b =>
      def n(i: Int): Any = if (i >= 0) i else null
      parseMeta(b).map(x => Row(x.version, n(x.nPages), n(x.nObjects),
        x.xrefKind,
        // no parsed xref -> encryption UNKNOWN, not false
        if (x.xrefKind == null) null else x.encrypted,
        x.title, x.author, x.producer)).orNull
    }
}
