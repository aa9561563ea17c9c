package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types.StructType

/** WRITE half of the `warc` DataSource V2 connector: curation output
  * back to the archive exchange format, each task emitting one
  * `.warc.gz` segment (record-per-gzip-member, the seekable
  * web-archive convention) PLUS its `.cdx` sidecar — so everything
  * this engine writes is immediately splittable to read back
  * ([[WarcDataSource.cdxOffsets]]) and point-addressable
  * ([[WarcRandomAccess]]).
  *
  * {{{ df.write.format("warc").option("path", dir).save() }}}
  *
  * Input columns (by name, any order): record_id, warc_type,
  * warc_date, content_type (required non-null), target_uri (nullable),
  * http_status / http_content_type (nullable), payload (binary). A
  * non-null http_status means `payload` is an HTTP BODY and the writer
  * synthesizes the response head — the exact inverse of the reader's
  * head/body split, so read(write(df)) round-trips field-for-field.
  * Extra columns (payload_len, anything else) are ignored: a DataFrame
  * straight off `spark.read.format("warc")` writes back unchanged.
  *
  * CDX sidecar lines are `offset<TAB>length<TAB>uri` — column 0 is
  * what the reader's splitter consumes (extra columns ignored), the
  * uri column is what CDX point lookup joins on. URIs containing tabs
  * or newlines would corrupt the sidecar; RFC 3986 URIs cannot.
  *
  * Layout and commit protocol are [[Archive]]'s: each task writes one
  * part (`part-<gen>-NNNNN.warc.gz`, or `.warc` with
  * `option("compression", "none")`) and its `.cdx`, and the manifest
  * lists `{"segment":..,"records":..}` entries.
  */
final class WarcWriter(tmpDir: String, schemaJson: String, gzipped: Boolean)
    extends ArchiveWriter(tmpDir, WarcDataSource.Layout,
      if (gzipped) ".warc.gz" else ".warc") {
  private val st = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
    .asInstanceOf[StructType]
  // fieldIndex throws naming the missing column — the schema contract
  private val oId = st.fieldIndex("record_id")
  private val oType = st.fieldIndex("warc_type")
  private val oUri = st.fieldIndex("target_uri")
  private val oDate = st.fieldIndex("warc_date")
  private val oCt = st.fieldIndex("content_type")
  private val oStatus = st.fieldIndex("http_status")
  private val oHct = st.fieldIndex("http_content_type")
  private val oPayload = st.fieldIndex("payload")
  // optional crawl-dedup headers: written when the column exists and
  // is non-null (round-trip fidelity for revisit corpora), absent
  // otherwise — the pre-revisit schema stays byte-identical
  private def optIdx(name: String): Int = st.fieldNames.indexOf(name)
  private val oDigest = optIdx("payload_digest")
  private val oRefers = optIdx("refers_to")
  private val oProfile = optIdx("warc_profile")
  private val oTrunc = optIdx("truncated")

  openPart()
  private val cdx = new java.lang.StringBuilder("#graft-cdx offset\tlength\turi\n")

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(oId) && !row.isNullAt(oType) && !row.isNullAt(oDate) &&
      !row.isNullAt(oCt) && !row.isNullAt(oPayload),
      "warc sink: record_id/warc_type/warc_date/content_type/payload must be non-null")
    val ct = row.getUTF8String(oCt).toString
    val body = row.getBinary(oPayload)
    val block =
      if (!row.isNullAt(oStatus)) {
        require(ct.toLowerCase(java.util.Locale.ROOT).startsWith("application/http"),
          s"warc sink: http_status set but content_type is not application/http: $ct")
        val code = row.getInt(oStatus)
        val sb = new StringBuilder(128)
        // standard reason phrase per code; unknown codes get an empty
        // reason ("HTTP/1.1 599 " — legal per RFC 7230 §3.1.2), never
        // a wrong one like "404 OK" (r11 advice)
        sb.append("HTTP/1.1 ").append(code).append(' ')
          .append(WarcWriter.reasonPhrase(code)).append("\r\n")
        if (!row.isNullAt(oHct))
          sb.append("Content-Type: ").append(row.getUTF8String(oHct)).append("\r\n")
        sb.append("Content-Length: ").append(body.length).append("\r\n\r\n")
        val head = sb.toString.getBytes(US_ASCII)
        val b = new Array[Byte](head.length + body.length)
        System.arraycopy(head, 0, b, 0, head.length)
        System.arraycopy(body, 0, b, head.length, body.length)
        b
      } else body
    val uri = if (row.isNullAt(oUri)) null else row.getUTF8String(oUri).toString
    var extra = List.empty[(String, String)]
    if (oTrunc >= 0 && !row.isNullAt(oTrunc))
      extra = ("WARC-Truncated" -> row.getUTF8String(oTrunc).toString) :: extra
    if (oProfile >= 0 && !row.isNullAt(oProfile))
      extra = ("WARC-Profile" -> row.getUTF8String(oProfile).toString) :: extra
    if (oRefers >= 0 && !row.isNullAt(oRefers))
      extra = ("WARC-Refers-To" ->
        s"<${row.getUTF8String(oRefers)}>") :: extra
    if (oDigest >= 0 && !row.isNullAt(oDigest))
      extra = ("WARC-Payload-Digest" ->
        row.getUTF8String(oDigest).toString) :: extra
    val off = out.count
    if (gzipped)
      WarcIo.writeRecordGzip(out, row.getUTF8String(oType).toString,
        row.getUTF8String(oId).toString, row.getUTF8String(oDate).toString,
        uri, ct, block, extra)
    else
      WarcIo.writeRecord(out, row.getUTF8String(oType).toString,
        row.getUTF8String(oId).toString, row.getUTF8String(oDate).toString,
        uri, ct, block, extra)
    cdx.append(off).append('\t').append(out.count - off).append('\t')
      .append(if (uri == null) "-" else uri).append('\n')
    units += 1
  }

  override protected def finish(): Unit = closePart(cdx.toString.getBytes("UTF-8"))
}

object WarcWriter {
  def at(schemaJson: String, gzipped: Boolean): String => DataWriter[InternalRow] =
    dir => new WarcWriter(dir, schemaJson, gzipped)

  /** RFC 9110 reason phrases for the codes a crawl corpus actually
    * carries; anything else writes an empty reason.
    */
  def reasonPhrase(code: Int): String = code match {
    case 200 => "OK"
    case 201 => "Created"
    case 204 => "No Content"
    case 206 => "Partial Content"
    case 301 => "Moved Permanently"
    case 302 => "Found"
    case 303 => "See Other"
    case 304 => "Not Modified"
    case 307 => "Temporary Redirect"
    case 308 => "Permanent Redirect"
    case 400 => "Bad Request"
    case 401 => "Unauthorized"
    case 403 => "Forbidden"
    case 404 => "Not Found"
    case 410 => "Gone"
    case 429 => "Too Many Requests"
    case 500 => "Internal Server Error"
    case 502 => "Bad Gateway"
    case 503 => "Service Unavailable"
    case 504 => "Gateway Timeout"
    case _   => ""
  }
}
