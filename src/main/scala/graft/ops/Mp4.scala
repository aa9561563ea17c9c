package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.runtime.PerRow

/** ISO-BMFF (MP4, ISO 14496-12) METADATA parse — the video half of
  * the multimodal story. Payload decode of video codecs is out of
  * scope (no codec library exists in this environment and a from-
  * scratch H.264 is not a round's work); what a curation pipeline
  * needs FIRST from video columns is container metadata — duration,
  * track inventory, codec fourcc, display dimensions, audio shape —
  * to gate, bucket, and budget before any expensive decode. That is
  * a pure box walk, fully specified by the public ISO base-media
  * spec, and exactly oracle-able.
  *
  * Box grammar handled: 32-bit sizes, 64-bit `largesize` (size == 1),
  * size == 0 (box runs to EOF), unknown boxes skipped by size;
  * version 0 AND version 1 `mvhd`/`tkhd`/`mdhd`; `hdlr` handler kinds;
  * first `stsd` sample-entry fourcc per track; `mp4a` channel count
  * and 16.16 sample rate; `tkhd` 16.16 display width/height. Malformed
  * or truncated input returns None — the honest-null convention of
  * decodeWav/headerDimensions ([[Multimodal]]).
  *
  * Validation boundary, stated plainly: no third-party MP4 muxer or
  * prober exists in this container, so parity is against hand-built
  * spec streams (the RIFF/WAV precedent): the in-repo builder writes
  * spec-layout boxes, Mp4Spec pins hand-computed byte offsets of a
  * constant stream, and the gate oracle reconstructs every parsed
  * field analytically from the fixture parameters.
  */
object Mp4 {

  /** One fixture track: `kind` is "vide" or "soun". */
  final case class Track(kind: String, timescale: Int, durationTs: Long,
      codec: String, width: Int = 0, height: Int = 0,
      channels: Int = 0, sampleRate: Int = 0)

  /** `durationMs` is mvhd-derived when mvhd carries one, else (the
    * fragmented-file convention: mvhd duration 0) the fragment-derived
    * total — so streaming-origin video gates on duration like
    * progressive files. `nFragments`/`fragDurationMs`/`sidxDurationMs`
    * expose the moof/trun walk and the sidx index separately (null
    * when the file has none).
    */
  final case class Meta(durationMs: Long, timescale: Long, nTracks: Int,
      nVideo: Int, nAudio: Int, videoCodec: String, width: Integer,
      height: Integer, audioCodec: String, audioChannels: Integer,
      audioRate: Integer, nFragments: Int = 0,
      fragDurationMs: java.lang.Long = null,
      sidxDurationMs: java.lang.Long = null)

  // ------------------------------------------------------------- builder

  private def u32(out: ByteArrayOutputStream, v: Long): Unit = {
    out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
    out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
  }
  private def u64(out: ByteArrayOutputStream, v: Long): Unit = {
    u32(out, v >>> 32); u32(out, v & 0xffffffffL)
  }
  private def u16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }
  private def fourcc(out: ByteArrayOutputStream, s: String): Unit = {
    require(s.length == 4, s"fourcc must be 4 chars: '$s'")
    out.write(s.getBytes("US-ASCII"))
  }
  private def zeros(out: ByteArrayOutputStream, n: Int): Unit =
    (0 until n).foreach(_ => out.write(0))

  /** size-prefixed box from a body writer; `largesize` forces the
    * 64-bit size form.
    */
  private def box(name: String, largesize: Boolean = false)(
      body: ByteArrayOutputStream => Unit): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    body(b)
    val payload = b.toByteArray
    val out = new ByteArrayOutputStream()
    if (largesize) {
      u32(out, 1L); fourcc(out, name); u64(out, payload.length + 16L)
    } else {
      u32(out, payload.length + 8L); fourcc(out, name)
    }
    out.write(payload)
    out.toByteArray
  }

  private val IdentityMatrix: Array[Long] =
    Array(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)

  /** Minimal spec-layout MP4: ftyp + moov(mvhd + trak*). `version1`
    * writes 64-bit-time mvhd/tkhd/mdhd; `largeMoov` exercises the
    * 64-bit box-size form; `freeBox` inserts an unknown box the parser
    * must skip.
    */
  def build(mvhdTimescale: Int, mvhdDurationTs: Long, tracks: Seq[Track],
      version1: Boolean = false, largeMoov: Boolean = false,
      freeBox: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(box("ftyp") { b =>
      fourcc(b, "isom"); u32(b, 512L); fourcc(b, "isom"); fourcc(b, "mp41")
    })
    if (freeBox) out.write(box("free")(b => zeros(b, 13)))
    out.write(box("moov", largesize = largeMoov) { moov =>
      moov.write(box("mvhd") { b =>
        if (version1) {
          b.write(1); zeros(b, 3); u64(b, 0); u64(b, 0)
          u32(b, mvhdTimescale.toLong); u64(b, mvhdDurationTs)
        } else {
          zeros(b, 4); u32(b, 0); u32(b, 0)
          u32(b, mvhdTimescale.toLong); u32(b, mvhdDurationTs)
        }
        u32(b, 0x00010000L); u16(b, 0x0100); zeros(b, 10)
        IdentityMatrix.foreach(u32(b, _))
        zeros(b, 24); u32(b, tracks.length + 1L)
      })
      tracks.zipWithIndex.foreach { case (t, i) =>
        moov.write(trakBox(t, i, version1))
      }
    })
    out.toByteArray
  }

  private def trakBox(t: Track, i: Int, version1: Boolean): Array[Byte] =
    box("trak") { trak =>
      trak.write(box("tkhd") { b =>
        if (version1) {
          b.write(1); b.write(0); b.write(0); b.write(7)
          u64(b, 0); u64(b, 0); u32(b, i + 1L); u32(b, 0); u64(b, t.durationTs)
        } else {
          b.write(0); b.write(0); b.write(0); b.write(7)
          u32(b, 0); u32(b, 0); u32(b, i + 1L); u32(b, 0); u32(b, t.durationTs)
        }
        zeros(b, 8); u16(b, 0); u16(b, 0)
        u16(b, if (t.kind == "soun") 0x0100 else 0); u16(b, 0)
        IdentityMatrix.foreach(u32(b, _))
        u32(b, t.width.toLong << 16); u32(b, t.height.toLong << 16)
      })
      trak.write(box("mdia") { mdia =>
        mdia.write(box("mdhd") { b =>
          if (version1) {
            b.write(1); zeros(b, 3); u64(b, 0); u64(b, 0)
            u32(b, t.timescale.toLong); u64(b, t.durationTs)
          } else {
            zeros(b, 4); u32(b, 0); u32(b, 0)
            u32(b, t.timescale.toLong); u32(b, t.durationTs)
          }
          u16(b, 0x55c4) // 'und' packed language
          u16(b, 0)
        })
        mdia.write(box("hdlr") { b =>
          zeros(b, 4); u32(b, 0); fourcc(b, t.kind); zeros(b, 12)
          b.write("graft".getBytes("US-ASCII")); b.write(0)
        })
        mdia.write(box("minf") { minf =>
          minf.write(box("stbl") { stbl =>
            stbl.write(box("stsd") { b =>
              zeros(b, 4); u32(b, 1L)
              b.write(box(t.codec) { e =>
                zeros(e, 6); u16(e, 1) // reserved + data_ref_index
                if (t.kind == "vide") {
                  zeros(e, 16)
                  u16(e, t.width); u16(e, t.height)
                  u32(e, 0x00480000L); u32(e, 0x00480000L) // 72 dpi
                  u32(e, 0); u16(e, 1) // reserved, frame_count
                  zeros(e, 32) // compressor name
                  u16(e, 0x0018); u16(e, 0xffff)
                } else {
                  zeros(e, 8)
                  u16(e, t.channels); u16(e, 16) // sample size
                  u16(e, 0); u16(e, 0)
                  u32(e, t.sampleRate.toLong << 16)
                }
              })
            })
          })
        })
      })
    }

  /** One fragment's run description for the fixture builder: duration
    * comes per-sample (`sampleDurTs`), from the tfhd default
    * (`tfhdDefaultTs`), or — both None — from the track's trex
    * default, the three places the spec lets it live.
    */
  final case class FragRun(trackId: Int, samples: Int,
      sampleDurTs: Option[Int] = None, tfhdDefaultTs: Option[Int] = None)

  /** Fragmented (streaming-origin) MP4: ftyp + moov(mvhd duration 0 +
    * trak* + mvex(trex*)) + [sidx] + (moof(mfhd+traf(tfhd+trun))+mdat)*
    * — the moof/tfhd/trun/sidx grammar the r11 verdict flagged as
    * unparsed (fMP4 is what video CDNs actually ship).
    */
  def buildFragmented(mvhdTimescale: Int, tracks: Seq[Track],
      trexDefaultTs: Map[Int, Int], frags: Seq[FragRun],
      sidx: Option[(Int, Seq[Int])] = None, // (timescale, subsegment durations)
      version1: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(box("ftyp") { b =>
      fourcc(b, "isom"); u32(b, 512L); fourcc(b, "iso6"); fourcc(b, "dash")
    })
    out.write(box("moov") { moov =>
      moov.write(box("mvhd") { b =>
        zeros(b, 4); u32(b, 0); u32(b, 0)
        u32(b, mvhdTimescale.toLong); u32(b, 0L) // duration UNKNOWN: fragments carry it
        u32(b, 0x00010000L); u16(b, 0x0100); zeros(b, 10)
        IdentityMatrix.foreach(u32(b, _))
        zeros(b, 24); u32(b, tracks.length + 1L)
      })
      tracks.zipWithIndex.foreach { case (t, i) =>
        moov.write(trakBox(t, i, version1))
      }
      moov.write(box("mvex") { mvex =>
        tracks.zipWithIndex.foreach { case (_, i) =>
          mvex.write(box("trex") { b =>
            u32(b, 0) // version/flags
            u32(b, i + 1L) // track_ID
            u32(b, 1L) // default_sample_description_index
            u32(b, trexDefaultTs.getOrElse(i + 1, 0).toLong)
            u32(b, 0L); u32(b, 0L) // default size / flags
          })
        }
      })
    })
    sidx.foreach { case (ts, subs) =>
      out.write(box("sidx") { b =>
        u32(b, 0) // version 0, flags 0
        u32(b, 1L) // reference_ID
        u32(b, ts.toLong)
        u32(b, 0L); u32(b, 0L) // earliest_presentation_time, first_offset
        u16(b, 0); u16(b, subs.length) // reserved, reference_count
        subs.foreach { dur =>
          u32(b, 4096L) // reference_type 0 + referenced_size
          u32(b, dur.toLong) // subsegment_duration
          u32(b, 0x90000000L) // starts_with_SAP + SAP type 1
        }
      })
    }
    frags.zipWithIndex.foreach { case (fr, seq) =>
      out.write(box("moof") { moof =>
        moof.write(box("mfhd") { b => u32(b, 0); u32(b, seq + 1L) })
        moof.write(box("traf") { traf =>
          val tfFlags = fr.tfhdDefaultTs.map(_ => 0x8L).getOrElse(0L) |
            0x20000L // default-base-is-moof (no base_data_offset field)
          traf.write(box("tfhd") { b =>
            u32(b, tfFlags)
            u32(b, fr.trackId.toLong)
            fr.tfhdDefaultTs.foreach(dts => u32(b, dts.toLong))
          })
          val trFlags = 0x1L | // data_offset present
            fr.sampleDurTs.map(_ => 0x100L).getOrElse(0L) |
            0x200L // sample_size present (exercises the entry stride)
          traf.write(box("trun") { b =>
            u32(b, trFlags)
            u32(b, fr.samples.toLong)
            u32(b, 0L) // data_offset (unused by the metadata walk)
            (0 until fr.samples).foreach { _ =>
              fr.sampleDurTs.foreach(dur => u32(b, dur.toLong))
              u32(b, 64L) // sample_size
            }
          })
        })
      })
      out.write(box("mdat")(b => zeros(b, 64 * fr.samples)))
    }
    out.toByteArray
  }

  // ------------------------------------------------------------- parser

  private def rU32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def rU64(b: Array[Byte], o: Int): Long =
    (rU32(b, o) << 32) | rU32(b, o + 4)
  private def rU16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def rName(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** (name, payloadStart, payloadEnd, nextBox) of the box at `o`, or
    * None when the header/extent is malformed.
    */
  private def boxAt(b: Array[Byte], o: Int, limit: Int)
      : Option[(String, Int, Int, Int)] = {
    if (o + 8 > limit) return None
    val size32 = rU32(b, o)
    val name = rName(b, o + 4)
    val (start, end) =
      if (size32 == 1L) {
        if (o + 16 > limit) return None
        val ls = rU64(b, o + 8)
        if (ls < 16 || o + ls > limit) return None
        (o + 16, o + ls.toInt)
      } else if (size32 == 0L) (o + 8, limit) // runs to end of enclosing
      else {
        if (size32 < 8 || o + size32 > limit) return None
        (o + 8, o + size32.toInt)
      }
    Some((name, start, end, end))
  }

  private def children(b: Array[Byte], start: Int, end: Int)
      : Iterator[(String, Int, Int)] = new Iterator[(String, Int, Int)] {
    private var o = start
    private var nextBox: Option[(String, Int, Int, Int)] = boxAt(b, o, end)
    override def hasNext: Boolean = nextBox.isDefined
    override def next(): (String, Int, Int) = {
      val (n, s, e, nx) = nextBox.get
      o = nx
      nextBox = if (o >= end) None else boxAt(b, o, end)
      (n, s, e)
    }
  }

  private def firstChild(b: Array[Byte], start: Int, end: Int, name: String)
      : Option[(Int, Int)] =
    children(b, start, end).collectFirst { case (`name`, s, e) => (s, e) }

  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    try {
      if (bytes == null || bytes.length < 16) return None
      if (rName(bytes, 4) != "ftyp") return None
      // strict top-level framing: a box that overruns the buffer means
      // truncation — honest None, never a silently partial fragment
      // count (the children() iterator alone cannot distinguish a
      // clean end from a malformed stop)
      var wo = 0
      while (wo < bytes.length) {
        boxAt(bytes, wo, bytes.length) match {
          case Some((_, _, _, nx)) =>
            if (nx <= wo) return None // zero-advance guard
            wo = nx
          case None => return None
        }
      }
      val moov = children(bytes, 0, bytes.length)
        .collectFirst { case ("moov", s, e) => (s, e) }.getOrElse(return None)
      val (ms, me) = moov
      val (mvS, _) = firstChild(bytes, ms, me, "mvhd").getOrElse(return None)
      val mvVer = bytes(mvS) & 0xff
      val (timescale, duration) =
        if (mvVer == 1) (rU32(bytes, mvS + 20), rU64(bytes, mvS + 24))
        else (rU32(bytes, mvS + 12), rU32(bytes, mvS + 16))
      if (timescale == 0) return None
      var nTracks, nVideo, nAudio = 0
      var videoCodec: String = null
      var width: Integer = null
      var height: Integer = null
      var audioCodec: String = null
      var audioChannels: Integer = null
      var audioRate: Integer = null
      // per-track timescales + trex defaults — what the fragment walk
      // needs to turn trun sample counts into milliseconds
      val trackTimescale = scala.collection.mutable.Map.empty[Long, Long]
      val trexDefault = scala.collection.mutable.Map.empty[Long, Long]
      for (("trak", ts, te) <- children(bytes, ms, me)) {
        nTracks += 1
        val tkhd = firstChild(bytes, ts, te, "tkhd")
        val mdia = firstChild(bytes, ts, te, "mdia")
        for ((hs, _) <- tkhd; (ds, _) <- mdia.flatMap { case (s, e) =>
            firstChild(bytes, s, e, "mdhd") }) {
          val tkVer = bytes(hs) & 0xff
          val tid = rU32(bytes, hs + (if (tkVer == 1) 20 else 12))
          val mdVer = bytes(ds) & 0xff
          val tsc = rU32(bytes, ds + (if (mdVer == 1) 20 else 12))
          if (tsc > 0) trackTimescale(tid) = tsc
        }
        val hdlrKind = mdia.flatMap { case (s, e) =>
          firstChild(bytes, s, e, "hdlr").map { case (hs, _) =>
            rName(bytes, hs + 8)
          }
        }
        val stsdEntry: Option[(String, Int, Int)] = mdia.flatMap { case (s, e) =>
          firstChild(bytes, s, e, "minf").flatMap { case (is, ie) =>
            firstChild(bytes, is, ie, "stbl").flatMap { case (bs, be) =>
              firstChild(bytes, bs, be, "stsd").flatMap { case (ds, de) =>
                // ver/flags + entry_count, then the first sample entry
                children(bytes, ds + 8, de).take(1).toSeq.headOption
              }
            }
          }
        }
        hdlrKind match {
          case Some("vide") =>
            nVideo += 1
            if (videoCodec == null) {
              videoCodec = stsdEntry.map(_._1).orNull
              tkhd.foreach { case (hs, _) =>
                val ver = bytes(hs) & 0xff
                // width/height are the LAST 8 bytes of tkhd either way
                val base = if (ver == 1) hs + 4 + 16 + 4 + 4 + 8 else
                  hs + 4 + 8 + 4 + 4 + 4
                val dimOff = base + 8 + 2 + 2 + 2 + 2 + 36
                width = Integer.valueOf((rU32(bytes, dimOff) >> 16).toInt)
                height = Integer.valueOf((rU32(bytes, dimOff + 4) >> 16).toInt)
              }
            }
          case Some("soun") =>
            nAudio += 1
            if (audioCodec == null) {
              audioCodec = stsdEntry.map(_._1).orNull
              stsdEntry.foreach { case (_, es, _) =>
                // 6 reserved + 2 dri + 8 reserved, then ch(2) sz(2)
                // pre(2) res(2) rate(16.16)
                audioChannels = Integer.valueOf(rU16(bytes, es + 16))
                audioRate = Integer.valueOf((rU32(bytes, es + 24) >> 16).toInt)
              }
            }
          case _ => ()
        }
      }
      // trex defaults live under moov/mvex
      for ((es, ee) <- firstChild(bytes, ms, me, "mvex");
           ("trex", xs, _) <- children(bytes, es, ee)) {
        trexDefault(rU32(bytes, xs + 4)) = rU32(bytes, xs + 12)
      }

      // ---- fragment walk (moof/tfhd/trun) + sidx, top level --------
      var nFragments = 0
      var sidxDurationMs: java.lang.Long = null
      val fragTs = scala.collection.mutable.Map.empty[Long, Long] // track -> sum ts
      for ((name, s, e) <- children(bytes, 0, bytes.length)) name match {
        case "sidx" if sidxDurationMs == null =>
          val ver = bytes(s) & 0xff
          val sidxTimescale = rU32(bytes, s + 8)
          val (cntOff, refOff) =
            if (ver == 1) (s + 30, s + 32) else (s + 22, s + 24)
          val n = rU16(bytes, cntOff)
          var sum = 0L
          var i = 0
          while (i < n) { sum += rU32(bytes, refOff + i * 12 + 4); i += 1 }
          if (sidxTimescale > 0)
            sidxDurationMs = java.lang.Long.valueOf(sum * 1000L / sidxTimescale)
        case "moof" =>
          nFragments += 1
          for (("traf", fs, fe) <- children(bytes, s, e)) {
            var trackId = -1L
            var tfhdDefault = -1L
            for (("tfhd", hs, _) <- children(bytes, fs, fe)) {
              val flags = rU32(bytes, hs) & 0xffffffL
              trackId = rU32(bytes, hs + 4)
              var o = hs + 8
              if ((flags & 0x1) != 0) o += 8 // base_data_offset
              if ((flags & 0x2) != 0) o += 4 // sample_description_index
              if ((flags & 0x8) != 0) { tfhdDefault = rU32(bytes, o); o += 4 }
            }
            val default =
              if (tfhdDefault >= 0) tfhdDefault
              else trexDefault.getOrElse(trackId, 0L)
            for (("trun", rs, _) <- children(bytes, fs, fe)) {
              val flags = rU32(bytes, rs) & 0xffffffL
              val count = rU32(bytes, rs + 4)
              var o = rs + 8
              if ((flags & 0x1) != 0) o += 4 // data_offset
              if ((flags & 0x4) != 0) o += 4 // first_sample_flags
              if ((flags & 0x100) != 0) {
                // per-sample durations: walk entries by their stride
                var stride = 4
                if ((flags & 0x200) != 0) stride += 4
                if ((flags & 0x400) != 0) stride += 4
                if ((flags & 0x800) != 0) stride += 4
                var sum = 0L
                var i = 0L
                while (i < count) { sum += rU32(bytes, o); o += stride; i += 1 }
                fragTs(trackId) = fragTs.getOrElse(trackId, 0L) + sum
              } else {
                fragTs(trackId) = fragTs.getOrElse(trackId, 0L) + count * default
              }
            }
          }
        case _ => ()
      }
      val fragDurationMs: java.lang.Long = {
        val ms = fragTs.flatMap { case (tid, sum) =>
          trackTimescale.get(tid).map(tsc => sum * 1000L / tsc)
        }
        if (ms.isEmpty) null else java.lang.Long.valueOf(ms.max)
      }
      val headDurationMs = duration * 1000L / timescale
      val durationMs = // fragmented convention: mvhd carries 0
        if (headDurationMs > 0 || fragDurationMs == null) headDurationMs
        else fragDurationMs.longValue()
      Some(Meta(durationMs, timescale, nTracks, nVideo,
        nAudio, videoCodec, width, height, audioCodec, audioChannels,
        audioRate, nFragments, fragDurationMs, sidxDurationMs))
    } catch {
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  // ----------------------------------------------------------- DataFrame

  private val metaType = StructType(Seq(
    StructField("duration_ms", LongType),
    StructField("timescale", LongType),
    StructField("n_tracks", IntegerType),
    StructField("n_video", IntegerType),
    StructField("n_audio", IntegerType),
    StructField("video_codec", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("audio_codec", StringType),
    StructField("audio_channels", IntegerType),
    StructField("audio_rate", IntegerType),
    StructField("n_fragments", IntegerType),
    StructField("frag_duration_ms", LongType),
    StructField("sidx_duration_ms", LongType)))

  /** Appends `${binCol}_mp4` (struct, null when unparseable). */
  def videoMeta(df: DataFrame, binCol: String): DataFrame =
    PerRow.append[Array[Byte]](df, binCol, StructField(s"${binCol}_mp4", metaType)) { b =>
      parseMeta(b).map(x => Row(x.durationMs, x.timescale, x.nTracks, x.nVideo,
        x.nAudio, x.videoCodec, x.width, x.height, x.audioCodec,
        x.audioChannels, x.audioRate, x.nFragments, x.fragDurationMs,
        x.sidxDurationMs)).orNull
    }
}
