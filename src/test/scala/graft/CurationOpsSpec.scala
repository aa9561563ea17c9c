package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Contamination, HtmlExtract, Quantiles, TextAnalysis}

/** Curation-operator tests: repetition signals, benchmark
  * decontamination, PII scrubbing, and exact per-key quantiles —
  * each against hand-computed expectations on constructed inputs.
  */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("HtmlExtract: tags, script/style spans, comments, entities, and malformed markup") {
    def ext(html: String): String = Seq((1L, html)).toDF("id", "h")
      .select(HtmlExtract.extractText(col("h"))).collect().head.getString(0)
    // plain structure: tags become separators, whitespace collapses
    assert(ext("<html><body><h1>A</h1>\n\n<p>b   c</p></body></html>") == "A b c")
    // script/style bodies vanish entirely, even containing < > and fake
    // closers inside comments; lazy span stops at the FIRST real closer
    assert(ext("a<script>if (1<2) { /* </p> */ }</script>b<style>p{x:1}</style>c")
      == "a b c")
    assert(ext("a<SCRIPT TYPE='x'>y</SCRIPT>b") == "a b", "case-insensitive")
    // comments vanish, multi-line included
    assert(ext("a<!-- x\ny --><!---->b") == "a b")
    // entity gauntlet: &amp; decodes LAST so &amp;lt; is a literal &lt;
    assert(ext("&amp;lt; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end")
      == "&lt; <b> \"q\" 's' end")
    // malformed: a < swallows to the NEXT > wherever one exists; a
    // trailing unclosed <... (no closer at all) stays literal text
    // instead of deleting the rest of the document; never throws
    assert(ext("a <b unclosed") == "a <b unclosed")
    assert(ext("a < b > c") == "a c", "a bare < opens a tag span")
    assert(ext("") == "")
    // stats: links, tags, density
    val row = HtmlExtract.extractStats(
      Seq((1L, "<html><a href=x>l</a><a\nhref=y>m</a><p>text</p></html>"))
        .toDF("id", "h"), "id", "h").collect().head
    assert(row.getAs[Long]("n_links") == 2)
    assert(row.getAs[Long]("n_tags") == 8)
    assert(row.getAs[String]("text") == "l m text")
    assert(row.getAs[Long]("density_ppm") ==
      8L * 1000000L / row.getAs[Long]("html_len"))
  }

  test("HtmlUnescape: numeric dec/hex, named table, single-pass, malformed stays literal") {
    import graft.expr.HtmlUnescape
    import org.apache.spark.unsafe.types.UTF8String
    // static decode = the interpreted path; the DataFrame run below is
    // the codegen path — both must agree
    def dec(s: String): String = HtmlUnescape.decode(UTF8String.fromString(s)).toString
    assert(dec("caf&eacute;") == "café")
    assert(dec("&#233; &#xE9; &#XE9;") == "é é é")
    assert(dec("A&mdash;B&hellip;") == "A—B…")
    assert(dec("&#x27;x&#X27; &#39;") == "'x' '")
    assert(dec("&nbsp;") == " ", "nbsp decodes to real U+00A0")
    // single-pass: scanning resumes AFTER a decoded reference — the
    // output of &amp; is never re-decoded
    assert(dec("&amp;lt;") == "&lt;")
    assert(dec("&amp;amp;") == "&amp;")
    // supplementary plane (surrogate pair on the JVM side)
    assert(dec("&#x1F600;") == new String(Character.toChars(0x1F600)))
    // malformed tail stays byte-identical: unknown name, bad digits,
    // bare &#, missing semicolon, out-of-range, surrogate, NUL, naked &
    for (bad <- Seq("&fake;", "&#xZZ;", "&#", "&#;", "&eacute", "&#39",
        "&#1114112;", "&#x110000;", "&#xD800;", "&#0;", "a & b", "&", "&;"))
      assert(dec(bad) == bad, s"expected literal passthrough for '$bad'")
    // fast path: no '&' returns the input untouched
    assert(dec("plain text") == "plain text")
    // codegen parity: same cases through a DataFrame plan
    val cases = Seq("caf&eacute;", "&#233; &#xE9;", "&amp;lt;", "&fake;",
      "&#x1F600;", "&#1114112;", "2&frac12; &le; 3", "")
    val viaPlan = cases.toDF("s").select(
      org.apache.spark.sql.graftbridge.PlanBridge.column(
        HtmlUnescape(org.apache.spark.sql.graftbridge.PlanBridge.expression(col("s")))))
      .collect().map(_.getString(0)).toSeq
    assert(viaPlan == cases.map(dec))
    // SQL registration face
    assert(spark.sql("SELECT html_unescape('caf&eacute; &#x27;')")
      .collect().head.getString(0) == "café '")
  }

  test("HtmlExtract.metaSignals: attribute order, quoting, case, and absent tags") {
    def sig(html: String): (String, Int, String) = {
      val r = HtmlExtract.metaSignals(
        Seq((1L, html)).toDF("id", "h"), "id", "h").collect().head
      (r.getString(1), r.getInt(2), r.getString(3))
    }
    // canonical case
    assert(sig("<head><title>T</title>" +
      "<meta name=\"robots\" content=\"noindex\">" +
      "<link rel=\"canonical\" href=\"https://x/y\"></head>")
      == (("T", 1, "https://x/y")))
    // reversed attribute order, single quotes, mixed case
    assert(sig("<META content='NOINDEX, nofollow' Name='robots'/>" +
      "<LINK HREF='https://a/b' REL='canonical'>")
      == (("", 1, "https://a/b")))
    // a robots tag WITHOUT noindex, and a decoy keywords meta with it
    assert(sig("<meta name='robots' content='index, follow'>" +
      "<meta name='keywords' content='noindex decoy'>") == (("", 0, "")))
    // nothing present: empty strings, zero flag, never null/throw
    assert(sig("<p>plain</p>") == (("", 0, "")))
    assert(sig("") == (("", 0, "")))
  }

  test("repetitionSignals: degenerate repetition maxes the bigram share, unique text minimizes it") {
    val df = Seq(
      (1L, "spam spam spam spam"),     // 4 tokens, 1 distinct, top bigram "spam spam" x3
      (2L, "alpha beta gamma delta"),  // all unique, each bigram once
      (3L, "solo"),                    // 1 token: no bigrams at all
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(1L) == ((4L, 1L, 250000L, 3L, 1000000L)))
    assert(got(2L) == ((4L, 4L, 1000000L, 1L, 333333L)))
    assert(got(3L) == ((1L, 1L, 1000000L, 0L, 0L)))
  }

  test("ngramHits: planted benchmark overlap is counted, clean docs emit nothing") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares "quick brown fox" window
      (2L, "completely different words here entirely"),     // clean
      (3L, "one quick brown fox two quick brown fox"),      // same bench trigram twice -> 1 distinct hit +
    ).toDF("doc_id", "text")                                //   "brown fox two"... not in bench
    val bench = Seq((100L, "a quick brown fox appeared")).toDF("doc_id", "text")
    val got = Contamination.ngramHits(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bench trigrams: {a quick brown, quick brown fox, brown fox appeared}
    assert(got(1L) == 1L)     // only "quick brown fox"
    assert(got(3L) == 1L)     // "quick brown fox" occurs twice but counts once
    assert(!got.contains(2L)) // clean doc: no row, not a zero row
  }

  test("pii counts and scrub: all three shapes found and redacted, order-independent") {
    val df = Seq(
      (1L, "mail me at a.b-c%d@sub.example.org thanks"),
      (2L, "ssn 123-45-6789 phone 555-010-0199 end"),
      (3L, "nothing sensitive here"),
    ).toDF("doc_id", "text")
    val got = df.select((col("doc_id") +: TextAnalysis.piiCounts(col("text"))) :+
        TextAnalysis.scrubPii(col("text")).as("scrubbed"): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getString(4))).toMap
    assert(got(1L)._1 == ((1L, 0L, 0L)))
    assert(got(1L)._2 == "mail me at <EMAIL> thanks")
    // the SSN's 3-2-4 grouping must NOT also fire the 3-3-4 phone
    // pattern, and vice versa
    assert(got(2L)._1 == ((0L, 1L, 1L)))
    assert(got(2L)._2 == "ssn <SSN> phone <PHONE> end")
    assert(got(3L)._1 == ((0L, 0L, 0L)))
    assert(got(3L)._2 == "nothing sensitive here")
  }

  test("compressionSignals: repetitive text compresses far below varied text, deterministic") {
    val rep = "spam " * 200
    val varied = (1 to 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val df = Seq((1L, rep), (2L, varied), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.compressionSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L)._1 == 1000L && got(2L)._1 > 0)
    // repetitive text compresses below 5%, varied stays above 30%
    assert(got(1L)._3 < 50000L, s"repetitive ratio ${got(1L)._3}")
    assert(got(2L)._3 > 300000L, s"varied ratio ${got(2L)._3}")
    // empty doc: zero raw bytes, sentinel ratio 1e6
    assert(got(3L)._1 == 0L && got(3L)._3 == 1000000L)
    // partitioning-invariant
    val re = TextAnalysis.compressionSignals(df.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(re == got)
    // the round-trip CRC equals java.util.zip.CRC32 of the raw text —
    // the g90 oracle recomputes exactly this value in SQL
    val crcs = TextAnalysis.compressionSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    def crcOf(s: String): Long = {
      val c = new java.util.zip.CRC32(); c.update(s.getBytes("UTF-8")); c.getValue
    }
    assert(crcs == Map(1L -> crcOf(rep), 2L -> crcOf(varied), 3L -> crcOf("")))
  }

  test("removeBoilerplateChunks: frequent chunks drop, rare survive in order, all-boilerplate docs stay") {
    // 60 docs share the chunk "visit our site" (df=60 > maxDf=10); each
    // also carries a unique 2-token tail chunk. One doc is PURE
    // boilerplate, one has no boilerplate at all.
    val docs = (1 to 60).map(i => (i.toLong, s"visit our site tail$i end")) ++
      Seq((100L, "visit our site"), (101L, "fresh original content here"))
    val out = TextAnalysis.removeBoilerplateChunks(
      docs.toDF("doc_id", "text"), "doc_id", "text", 3, 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    (1 to 60).foreach { i =>
      assert(out(i.toLong) == ((s"tail$i end", 1L, 1L)), s"doc $i: ${out(i.toLong)}")
    }
    // all-boilerplate doc survives with empty text, not a dropped row
    assert(out(100L) == (("", 0L, 1L)))
    // untouched doc: both chunks kept, reassembled in original order
    assert(out(101L) == (("fresh original content here", 2L, 0L)))
    assert(out.size == 62)
  }

  test("exactQuantiles: nearest-rank values per key, singleton keys degenerate to the value") {
    val rows = (1L to 100L).map(v => ("a", v, v)) :+ (("b", 42L, 1L))
    val df = rows.toDF("k", "v", "tie")
    val got = Quantiles.exactQuantiles(df, "k", col("v"), col("tie"), Seq(50, 90, 99))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // nearest-rank over 1..100: rank ceil(p*n/100) = p
    assert(got("a") == ((100L, 50L, 90L, 99L)))
    assert(got("b") == ((1L, 42L, 42L, 42L)))
  }

  test("qualitySignals length and token columns equal q25's at sf0.001") {
    val d = "/root/testdata/sf0.001"
    val cols = Seq("doc_id", "len_chars", "n_tokens", "avg_token_len_milli")
    val q25 = graft.queries.PipelineQueries.q25_quality_score.fn(spark, d)
    val got = TextAnalysis.qualitySignals(
      graft.runtime.Tables.read(spark, d, "documents"), "text")
      .select(cols.map(col): _*)
    assert(q25.columns.toSeq == cols)
    assert(got.count() == q25.count() && got.count() > 0)
    assert(got.exceptAll(q25).isEmpty && q25.exceptAll(got).isEmpty,
      "qualitySignals diverged from q25's inline columns")
  }
}
