package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Http

class HttpSpec extends AnyFunSuite {
  private val ascii = java.nio.charset.StandardCharsets.US_ASCII

  private def chunked(s: String, sz: Int, ext: String,
      trailers: String): Array[Byte] = {
    val b = s.getBytes(ascii)
    val out = new StringBuilder()
    var i = 0
    while (i < b.length) {
      val n = math.min(sz, b.length - i)
      out.append(n.toHexString).append(if (i == 0) ext else "").append("\r\n")
        .append(s.substring(i, i + n)).append("\r\n")
      i += n
    }
    out.append("0\r\n").append(trailers).append("\r\n")
    out.toString.getBytes(ascii)
  }

  test("dechunk: plain, extensions, trailers, multi-hex sizes") {
    val text = "The quick brown fox jumps over the lazy dog, twice over."
    for {
      sz <- Seq(1, 5, 16, 100) // 100 > len: single chunk; 16 = hex '10'
      ext <- Seq("", ";k=v;q=\"x\"")
      tr <- Seq("", "X-T: 1\r\nX-U: 2\r\n")
    } {
      val got = Http.dechunk(chunked(text, sz, ext, tr))
        .getOrElse(fail(s"dechunk failed sz=$sz ext=$ext"))
      assert(new String(got, ascii) == text)
    }
    assert(new String(Http.dechunk("0\r\n\r\n".getBytes(ascii)).get,
      ascii) == "")
  }

  test("dechunk: malformed returns None, never throws") {
    assert(Http.dechunk(null) == None)
    assert(Http.dechunk("zz\r\nhello\r\n0\r\n\r\n".getBytes(ascii)) == None)
    assert(Http.dechunk("5\r\nhel".getBytes(ascii)) == None) // chunk cut
    assert(Http.dechunk("5\r\nhelloXY".getBytes(ascii)) == None) // no CRLF
    assert(Http.dechunk("5\r\nhello\r\n".getBytes(ascii)) == None) // no 0
    assert(Http.dechunk("123456789\r\n\r\n".getBytes(ascii)) == None) // >8 hex
  }

  test("decompress: gzip, zlib deflate, raw deflate, corrupt, unknown") {
    val text = ("entity body " * 20).getBytes(ascii)
    val gz = { val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo); g.write(text); g.close()
      bo.toByteArray }
    assert(Http.decompress(gz, "gzip").get.sameElements(text))
    assert(Http.decompress(gz, "x-gzip").get.sameElements(text))
    def deflate(raw: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(6, raw)
      d.setInput(text); d.finish()
      val bo = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
      d.end(); bo.toByteArray
    }
    assert(Http.decompress(deflate(raw = false), "deflate").get
      .sameElements(text)) // zlib-wrapped, the spec form
    assert(Http.decompress(deflate(raw = true), "deflate").get
      .sameElements(text)) // raw, the broken-server form
    assert(Http.decompress("garbage".getBytes(ascii), "gzip") == None)
    assert(Http.decompress(gz.take(10), "gzip") == None) // truncated
    assert(Http.decompress(text, "br") == None) // no codec here
  }
}
