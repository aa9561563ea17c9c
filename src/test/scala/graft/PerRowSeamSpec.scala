package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Every per-row seam of `graft.ops` over four payloads of its format:
  * valid (built by the format's own `build` helper), truncated, garbage
  * and null. A seam keeps the input columns as they were, appends
  * exactly its declared fields (nullability included), and the
  * appended columns hash to a pin: the sum of xxhash64(appended) mod
  * 1e9+7 over the one-row frame, captured with the per-seam
  * `mapPartitions` copies that `graft.runtime.PerRow` replaced. Those
  * copies failed the task on a null payload in `Tar.tarEntries` and
  * `ContentRouter.routeMeta`, and `Multimodal.decodeFeatures` gave it
  * the stub's made-up dims and features; all three now append null,
  * like every other seam. A `Fails` pin is a payload the seam rejects
  * loudly (a malformed tar).
  */
class PerRowSeamSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  private val Fails: Option[Long] = None
  /** xxhash64's seed: every appended value is null. */
  private val AllNull: Option[Long] = Some(42L)

  /** One seam: the valid, truncated and garbage payloads (null is the
    * fourth), the call over the payload column `p`, the shape of what
    * it appends (of its whole output when it aggregates), and one pin
    * per payload.
    */
  private case class Seam(name: String, valid: Any, run: DataFrame => DataFrame,
      shape: String, pins: Seq[Option[Long]], appends: Boolean = true) {
    def payloads: Seq[Any] = valid match {
      case s: String => Seq(s, s.take(s.length * 2 / 3), GarbageText, null)
      case b: Array[Byte] => Seq(b, b.take(b.length * 2 / 3), Garbage, null)
      case other => sys.error(s"payload type ${other.getClass}")
    }
  }

  private val Cases = Seq("valid", "truncated", "garbage", "null")
  private val Garbage = Array.tabulate[Byte](1024)(i => ((i * 73 + 41) ^ (i >> 3)).toByte)
  private val GarbageText = "\u0000 ### \té€ ]]> --> 99:99"

  private def b(s: String) = s.getBytes("UTF-8")

  /** A type with its nullability spelled out: `!` marks a non-nullable
    * field or array element.
    */
  private def shape(t: DataType): String = t match {
    case s: StructType => s.fields.map(field).mkString("struct<", ",", ">")
    case a: ArrayType => s"array<${shape(a.elementType)}${if (a.containsNull) "" else "!"}>"
    case o => o.simpleString
  }
  private def field(f: StructField) =
    s"${f.name}:${shape(f.dataType)}${if (f.nullable) "" else "!"}"

  private val png = Png.build(16, 8, texts = Seq("Software" -> "graft", "parameters" -> "p"))
  private val flac = Flac.build(44100, 2, 16, 44100L * 3, comments = Seq("k" -> "v"))
  private val epub = Zip.build(Seq(
    ("mimetype", b("application/epub+zip"), 0, false),
    ("META-INF/container.xml", b("""<container><rootfiles><rootfile """ +
      """full-path="OEBPS/content.opf"/></rootfiles></container>"""), 8, false),
    ("OEBPS/content.opf", b("""<package><metadata><dc:title>A &amp; B</dc:title>""" +
      "<dc:creator>C</dc:creator><dc:language>en</dc:language></metadata>" +
      """<manifest><item id="c0" href="c0.xhtml"/><item id="c1" href="c1.xhtml"/>""" +
      """</manifest><spine><itemref idref="c1"/><itemref idref="c0"/></spine></package>"""),
      8, false),
    ("OEBPS/c0.xhtml", b("<html><body><p>one</p></body></html>"), 8, false),
    ("OEBPS/c1.xhtml", b("<html><body><p>two &lt;</p></body></html>"), 8, false)))
  private val docx = Zip.build(Seq(
    ("[Content_Types].xml", b("<Types/>"), 8, false),
    ("word/document.xml", b("<w:document><w:body><w:p><w:r><w:t>Hi</w:t></w:r>" +
      "<w:r><w:tab/></w:r><w:r><w:t>a &amp; b</w:t></w:r></w:p><w:p/></w:body>" +
      "</w:document>"), 8, false)))
  private val srt = "1\n00:00:01,000 --> 00:00:03,500\nHello <i>world</i>\n\n" +
    "2\n00:00:04,000 --> 00:00:06,000\nBye\n"
  private val wav = Multimodal.wavBytes(
    Array.tabulate(400)(i => ((i * 331) % 2000 - 1000).toShort), 16000, 1)
  private val merges = Seq((0, "t", "h", 9L), (1, "th", "e", 7L), (2, "e", "</w>", 5L),
    (3, "the", "</w>", 4L))

  private val seams = Seq(
    Seam("Png.imageMeta", png, Png.imageMeta(_, "p"),
      "p_png:struct<width:int,height:int,bit_depth:int,color_type:int," +
        "interlaced:boolean,n_chunks:int,animated:boolean,n_frames:int,dpi:int," +
        "has_exif:boolean,text_keys:array<string>,text_values:array<string>," +
        "ai_generated:boolean,complete:boolean>",
      Seq(Some(597792114L), Some(193887519L), AllNull, AllNull)),
    Seam("Gif.imageMeta", Gif.build(16, 8, frames = 3, delaysCs = Seq(5, 6, 7),
      loop = 0, comment = "c"), Gif.imageMeta(_, "p"),
      "p_gif:struct<width:int,height:int,gct_colors:int,n_frames:int," +
        "animated:boolean,total_delay_ms:bigint,loop_count:int,has_comment:boolean," +
        "complete:boolean>",
      Seq(Some(982083917L), Some(996567353L), AllNull, AllNull)),
    Seam("Flac.audioMeta", flac, Flac.audioMeta(_, "p"),
      "p_flac:struct<sample_rate:int,channels:int,bits_per_sample:int," +
        "total_samples:bigint,duration_ms:bigint,min_block:int,max_block:int," +
        "n_blocks:int,padding_bytes:int,n_comments:int>",
      Seq(Some(356319668L), Some(356319668L), AllNull, AllNull)),
    Seam("Id3.tagMeta", Id3.build(4, "Song", "Artist", "Album", "2001", enc = 3,
      audio = Array.fill[Byte](16)(0x55), padding = 8), Id3.tagMeta(_, "p"),
      "p_id3:struct<version:int,tag_bytes:int,title:string,artist:string," +
        "album:string,year:string,n_frames:int>",
      Seq(Some(823389386L), Some(903139111L), AllNull, AllNull)),
    Seam("Ogg.audioMeta", Ogg.build("opus", 2, 48000, 312, serial = 9L,
      dataPages = 4, granulePerPage = 960L), Ogg.audioMeta(_, "p"),
      "p_ogg:struct<codec:string,channels:int,sample_rate:int,pre_skip:int," +
        "n_pages:int,granule_last:bigint,duration_ms:bigint,serial:bigint," +
        "complete:boolean>",
      Seq(Some(642035003L), Some(329615282L), AllNull, AllNull)),
    Seam("Mpeg.audioMeta", Mpeg.build(12, samplerateIdx = 0, bitrateIdx = 9,
      id3Size = 64), Mpeg.audioMeta(_, "p"),
      "p_mp3:struct<n_frames:int,sample_rate:int,bitrate_kbps:int," +
        "avg_bitrate_kbps:int,vbr:boolean,declared_frames:int,channels:int," +
        "duration_ms:bigint,id3_bytes:int>",
      Seq(Some(277792483L), Some(670598051L), AllNull, AllNull)),
    Seam("Mp4.videoMeta", Mp4.build(1000, 90000L, Seq(
      Mp4.Track("vide", 30000, 90000L, "avc1", width = 320, height = 240),
      Mp4.Track("soun", 48000, 90000L, "mp4a", channels = 2, sampleRate = 48000))),
      Mp4.videoMeta(_, "p"),
      "p_mp4:struct<duration_ms:bigint,timescale:bigint,n_tracks:int,n_video:int," +
        "n_audio:int,video_codec:string,width:int,height:int,audio_codec:string," +
        "audio_channels:int,audio_rate:int,n_fragments:int,frag_duration_ms:bigint," +
        "sidx_duration_ms:bigint>",
      Seq(Some(879211198L), AllNull, AllNull, AllNull)),
    Seam("Exif.imageMeta", Exif.build(640, 480, orientation = 6, make = "Make",
      model = "Model", dtOrig = "2020:01:02 03:04:05", pixelW = 1640,
      pixelH = 1480, iso = 200, gps = true, littleEndian = true),
      Exif.imageMeta(_, "p"),
      "p_exif:struct<sof_w:int,sof_h:int,byte_order:string,orientation:int," +
        "make:string,model:string,dt_orig:string,pixel_w:int,pixel_h:int,iso:int," +
        "has_gps:boolean,n_ifd0:int,n_gps:int>",
      Seq(Some(191828632L), AllNull, AllNull, AllNull)),
    Seam("Zip.containerMeta", Zip.build(Seq(("a.txt", b("alpha" * 9), 8, false),
      ("b.bin", b("beta"), 0, false))), Zip.containerMeta(_, "p"),
      "p_zip:struct<n_entries:int,total_uncomp:bigint,kind:string," +
        "encrypted:boolean,zip64:boolean,mimetype:string>",
      Seq(Some(244570756L), AllNull, AllNull, AllNull)),
    Seam("Pdf.docMeta", Pdf.build("1.7", 3, "Title", "Author", "graft"),
      Pdf.docMeta(_, "p"),
      "p_pdf:struct<version:string,n_pages:int,n_objects:int,xref_kind:string," +
        "encrypted:boolean,title:string,author:string,producer:string>",
      Seq(Some(62942392L), Some(977075238L), AllNull, AllNull)),
    Seam("Epub.bookMeta", epub, Epub.bookMeta(_, "p"),
      "p_epub:struct<title:string,creator:string,language:string," +
        "n_chapters:int,text:string>",
      Seq(Some(88598774L), AllNull, AllNull, AllNull)),
    Seam("Ooxml.textMeta", docx, Ooxml.textMeta(_, "p"),
      "p_ooxml:struct<kind:string,n_units:int,text:string>",
      Seq(Some(406718368L), AllNull, AllNull, AllNull)),
    Seam("Subtitles.cueMeta", srt, Subtitles.cueMeta(_, "p"),
      "p_subs:struct<kind:string,n_cues:int,first_start_ms:bigint," +
        "last_end_ms:bigint,speech_ms:bigint,text_md5:string,text_chars:bigint>",
      Seq(Some(960609917L), Some(655808061L), AllNull, AllNull)),
    Seam("ContentRouter.routeMeta", flac, ContentRouter.routeMeta(_, "p"),
      "p_route:struct<kind:string,qty1:bigint,qty2:bigint,label:string>",
      Seq(Some(803972848L), Some(803972848L), Some(4710264L), AllNull)),
    // the cut drops only the end-of-archive blocks: both members read
    Seam("Tar.tarEntries", Tar.build(Seq("s/a.txt" -> b("alpha"), "s/a.json" -> b("{}"))),
      Tar.tarEntries(_, "p"),
      "p_entries:array<struct<name:string,size:bigint,payload:binary>>",
      Seq(Some(359199606L), Some(359199606L), Fails, AllNull)),
    Seam("ImageDedup.dHash", ImageDedup.hashCorpusPng(3L, 0), ImageDedup.dHash(_, "p"),
      "p_dhash:bigint",
      Seq(Some(432377786L), AllNull, AllNull, AllNull)),
    Seam("ImageDedup.decodeCoverage", ImageDedup.fixturePayload(3L, 0),
      ImageDedup.decodeCoverage(_, "p"),
      "format:string!,n:bigint!,n_decodable:bigint,n_dims_known:bigint",
      Seq(Some(49926891L), Some(692629893L), Some(417626499L), Some(8450257L)),
      appends = false),
    Seam("Multimodal.decodeFeatures", ImageDedup.hashCorpusPng(5L, 0),
      Multimodal.decodeFeatures(_, "p"),
      "p_decoded:struct<width:int,height:int,channels:int,features:array<float!>>",
      Seq(Some(918578517L), Some(481737372L), Some(559503697L), AllNull)),
    Seam("Multimodal.resizeImages", ImageDedup.hashCorpusPng(5L, 0),
      Multimodal.resizeImages(_, "p", 4, 3),
      "p_resized:binary",
      Seq(Some(639956992L), AllNull, AllNull, AllNull)),
    Seam("Multimodal.audioFeatures", wav, Multimodal.audioFeatures(_, "p"),
      "sample_rate:int,channels:int,n_samples:bigint,duration_ms:bigint," +
        "peak:bigint,amp_sum_sq:bigint",
      Seq(Some(786839276L), AllNull, AllNull, AllNull)),
    Seam("BpeTrainer.applyMerges", "the theme then there thee",
      BpeTrainer.applyMerges(_, "p", merges),
      "bpe_tokens:array<string!>,n_bpe_tokens:bigint",
      Seq(Some(55418604L), Some(783931334L), Some(718847813L), Some(671852170L))))

  /** A one-row (id, p) frame, `p` typed as the seam's valid payload. */
  private def frame(seam: Seam, payload: Any): DataFrame = {
    val t = if (seam.valid.isInstanceOf[String]) StringType else BinaryType
    spark.createDataFrame(java.util.List.of(Row(7L, payload)),
      StructType(Seq(StructField("id", LongType), StructField("p", t))))
  }

  for (seam <- seams; ((kase, payload), pin) <- Cases.zip(seam.payloads).zip(seam.pins))
    test(s"${seam.name}: $kase payload") {
      val in = frame(seam, payload)
      val out = seam.run(in)
      val digested =
        if (seam.appends) {
          assert(out.schema.take(in.schema.length) == in.schema.fields.toSeq)
          out.schema.drop(in.schema.length)
        } else out.schema.fields.toSeq
      assert(digested.map(field).mkString(",") == seam.shape)
      pin match {
        case None => intercept[org.apache.spark.SparkException](out.collect())
        case Some(expected) =>
          if (seam.appends)
            assert(out.select("id", "p").collect().toSeq == in.collect().toSeq)
          val r = out.agg(count(lit(1)), sum(pmod(xxhash64(digested.map(f => col(f.name)): _*),
            lit(1000000007L)))).collect()(0)
          assert((r.getLong(0), r.getLong(1)) == ((1L, expected)))
      }
    }
}
