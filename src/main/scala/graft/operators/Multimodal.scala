package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns with typed
  * metadata structs, processed per-partition in batches.
  *
  * Image metadata (PNG/JPEG/GIF/BMP width×height via `javax.imageio` header reads),
  * WAV duration (RIFF chunk walk), VIDEO container metadata (MP4 box walk, Matroska
  * EBML walk: duration + dimensions), animated-GIF frame extraction, image resize
  * (decode → scale → re-encode) and the perceptual image/audio hashes are REAL,
  * JDK-only implementations. Only genuinely codec-library-bound pieces remain
  * deterministic stand-ins, each documented at the definition: frame extraction for
  * MP4/MKV/AVI sample data (no ffmpeg in a stock JVM) and the learned feature
  * embedding (needs a model, not a codec — pluggable, see [[withFeatures]]).
  */
object Multimodal {

  val MediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("size_bytes", LongType)))

  /** Decoded media metadata. `width`/`height` are present only for decodable images
    * and video containers, `duration_ms` only for parseable audio (WAV/FLAC/MP3/Ogg)
    * and video/GIF containers — a recognized-but-corrupt payload keeps its sniffed
    * format with NULL fields instead of fake numbers.
    */
  final case class MediaMeta(
      format: String,
      width: Option[Int],
      height: Option[Int],
      duration_ms: Option[Long],
      size_bytes: Long)

  /** JDK-only codec surface. Decoding runs inside executor UDFs: headless AWT is
    * forced before any ImageIO touch, and the ImageIO disk cache is disabled (a
    * per-row temp file would dominate decode cost and leak under task kill).
    */
  object MediaCodecs {
    private lazy val imageIoReady: Unit = {
      System.setProperty("java.awt.headless", "true")
      javax.imageio.ImageIO.setUseCache(false)
    }

    private def hasPrefix(bytes: Array[Byte], off: Int, s: String): Boolean =
      bytes.length >= off + s.length &&
        s.indices.forall(i => bytes(off + i) == s.charAt(i).toByte)

    /** Container sniff from magic bytes (not file extension — corpus blobs have none). */
    def sniffFormat(bytes: Array[Byte]): String =
      if (bytes == null) "null"
      else if (bytes.isEmpty) "empty"
      else if (bytes.length >= 8 && bytes(0) == 0x89.toByte && hasPrefix(bytes, 1, "PNG")) "png"
      else if (bytes.length >= 3 && bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte &&
        bytes(2) == 0xFF.toByte) "jpeg"
      else if (hasPrefix(bytes, 0, "GIF87a") || hasPrefix(bytes, 0, "GIF89a")) "gif"
      else if (hasPrefix(bytes, 0, "BM")) "bmp"
      else if (hasPrefix(bytes, 0, "RIFF") && hasPrefix(bytes, 8, "WAVE")) "wav"
      else if (hasPrefix(bytes, 0, "RIFF") && hasPrefix(bytes, 8, "AVI ")) "avi"
      else if (hasPrefix(bytes, 0, "fLaC")) "flac"
      else if (hasPrefix(bytes, 0, "OggS")) "ogg"
      else if (hasPrefix(bytes, 0, "ID3")) {
        // ID3v2 tags prefix more than MP3 in the wild: route by what actually
        // follows the tag stack (ID3-tagged FLAC is common; "ID3" text is not mp3)
        val end = id3StackEnd(bytes)
        if (hasPrefix(bytes, end, "fLaC")) "flac"
        else if (mp3FirstFrame(bytes, end) >= 0) "mp3"
        else "bin"
      }
      else if (isMp3FrameAt(bytes, 0)) "mp3"
      else if (bytes.length >= 8 && hasPrefix(bytes, 4, "ftyp")) "mp4"
      else if (bytes.length >= 4 && bytes(0) == 0x1A.toByte && bytes(1) == 0x45.toByte &&
        bytes(2) == 0xDF.toByte && bytes(3) == 0xA3.toByte) {
        // WebM is Matroska with DocType "webm": probe the EBML header's DocType
        // element (id 0x4282, always within the first few dozen bytes)
        var i = 4
        var found = "mkv"
        val limit = math.min(bytes.length - 2, 64)
        while (i < limit && found == "mkv") {
          if (bytes(i) == 0x42.toByte && bytes(i + 1) == 0x82.toByte) {
            // EBML size vint: the leading byte's first set bit gives the width
            // (spec allows non-minimal encodings — a 2-byte 0x40 0x04 is legal).
            val szB = bytes(i + 2) & 0xff
            val szLen = if (szB != 0) 8 - (31 - Integer.numberOfLeadingZeros(szB)) else 9
            if (szLen <= 8 && i + 2 + szLen <= bytes.length) {
              var sz = (szB & (0xff >>> szLen)).toLong
              var k = 1
              while (k < szLen) { sz = (sz << 8) | (bytes(i + 2 + k) & 0xffL); k += 1 }
              val off = i + 2 + szLen
              if (sz >= 4 && sz <= 64 && off + sz <= bytes.length &&
                new String(bytes, off, sz.toInt, java.nio.charset.StandardCharsets.ISO_8859_1)
                  .startsWith("webm")) found = "webm"
            }
          }
          i += 1
        }
        found
      }
      else "bin"

    private def isImageFormat(fmt: String): Boolean =
      fmt == "png" || fmt == "jpeg" || fmt == "gif" || fmt == "bmp"

    /** Length of one ID3v2 tag at `off` (0 when none): 10-byte header + synchsafe
      * size + 10-byte footer when the v2.4 footer flag is set (bit 4 of the flags
      * byte; the footer exists ONLY in v2.4 — v2.2/v2.3 taggers with stray flag
      * bits must not cost 10 phantom bytes). May exceed the remaining length for
      * truncated tags — callers bound-check as they walk.
      */
    private def id3v2TagLen(bytes: Array[Byte], off: Int): Int = {
      if (!hasPrefix(bytes, off, "ID3") || bytes.length < off + 10) return 0
      val sz = ((bytes(off + 6) & 0x7f) << 21) | ((bytes(off + 7) & 0x7f) << 14) |
        ((bytes(off + 8) & 0x7f) << 7) | (bytes(off + 9) & 0x7f)
      10 + sz +
        (if (bytes(off + 3) == 4.toByte && (bytes(off + 5) & 0x10) != 0) 10 else 0)
    }

    /** End of the leading ID3v2 tag STACK — taggers prepend new tags over old
      * ones, so real files carry several back-to-back (bounded at 4: beyond that
      * it's hostile padding, not tagging).
      */
    private def id3StackEnd(bytes: Array[Byte]): Int = {
      var pos = 0
      var tags = 0
      while (tags < 4) {
        val len = id3v2TagLen(bytes, pos)
        if (len == 0) return pos
        // a tag claiming to run past EOF (partial download): NOTHING behind it is
        // scannable — returning `pos` would let the frame resync scan the tag's
        // own payload (album-art JPEG bytes sync-match often enough to fabricate
        // an "mp3" from a truncated tagged file)
        if (len > bytes.length - pos) return bytes.length
        pos += len; tags += 1
      }
      pos
    }

    /** A fully-valid MPEG Layer III frame header (sync + non-reserved version +
      * Layer III + real bitrate/samplerate indices) — strict enough that random
      * bytes essentially never sniff as mp3 (bare .mp3 files have no magic; this
      * is how every real sniffer identifies them).
      */
    private def isMp3FrameHeader(bytes: Array[Byte], off: Int): Boolean = {
      if (bytes.length < off + 4) return false
      val b1 = bytes(off) & 0xff; val b2 = bytes(off + 1) & 0xff; val b3 = bytes(off + 2) & 0xff
      b1 == 0xff && (b2 & 0xe0) == 0xe0 &&
        ((b2 >> 3) & 3) != 1 && ((b2 >> 1) & 3) == 1 &&
        ((b3 >> 4) & 0xf) != 0 && ((b3 >> 4) & 0xf) != 15 && ((b3 >> 2) & 3) != 3
    }

    /** Length in bytes of the Layer III frame whose header sits at `off`, or -1
      * when the 4 bytes there are not a fully-valid frame header.
      */
    private def mp3FrameLen(bytes: Array[Byte], off: Int): Int = {
      if (!isMp3FrameHeader(bytes, off)) return -1
      val b2 = bytes(off + 1) & 0xff; val b3 = bytes(off + 2) & 0xff
      val verBits = (b2 >> 3) & 3
      val brIdx = (b3 >> 4) & 0xf; val srIdx = (b3 >> 2) & 3; val pad = (b3 >> 1) & 1
      val mpeg1 = verBits == 3
      val bitrateKbps = if (mpeg1) mp3BitratesV1(brIdx) else mp3BitratesV2(brIdx)
      val rate = (verBits match {
        case 3 => mp3Rates1
        case 2 => mp3Rates2
        case _ => mp3Rates25
      })(srIdx)
      (if (mpeg1) 144 else 72) * bitrateKbps * 1000 / rate + pad
    }

    /** Offset of the first valid MPEG frame at/after `start` (the precomputed
      * tag-stack end), or -1. Resyncs forward over a bounded window (2 KiB) of
      * padding/junk between tag end and first frame — decoders resync exactly
      * this way; unbounded scanning would turn arbitrary binaries into "mp3".
      * A lone header match is NOT enough: random bytes sync-match one offset in
      * ~16k, so a 2 KiB junk window would misclassify ~12% of blobs — the frame
      * after it must also be a valid header (or the frame must end exactly at
      * EOF, the clean single-frame file).
      */
    /** A frame header at `off` whose NEXT frame also checks out (or which ends
      * exactly at EOF — the clean single-frame file). The anti-fabrication rule
      * shared by the sniff and the resync scan.
      */
    private def isMp3FrameAt(bytes: Array[Byte], off: Int): Boolean = {
      val flen = mp3FrameLen(bytes, off)
      flen > 4 && (off + flen == bytes.length || isMp3FrameHeader(bytes, off + flen))
    }

    private def mp3FirstFrame(bytes: Array[Byte], start: Int): Int = {
      val limit = math.min(bytes.length - 4L, start + 2048L)
      var i = start
      while (i <= limit) {
        if (isMp3FrameAt(bytes, i)) return i
        i += 1
      }
      -1
    }

    /** Image dimensions from the HEADER only — `ImageReader.getWidth/getHeight(0)`
      * reads metadata, not pixel data, so a 50 MB JPEG costs a few hundred bytes of
      * parsing. Corrupt/truncated headers yield None, never fake dimensions.
      */
    def imageDimensions(bytes: Array[Byte]): Option[(Int, Int)] = {
      imageIoReady
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try { r.setInput(iis); Some((r.getWidth(0), r.getHeight(0))) }
            finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** WAV duration from a RIFF chunk walk: `data` bytes ÷ `fmt ` byteRate. Handles
      * chunk reordering and word-aligned padding; corrupt sizes yield None.
      */
    def wavDurationMs(bytes: Array[Byte]): Option[Long] = {
      def le32(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      if (bytes.length < 12) return None
      var pos = 12L
      var byteRate = 0L
      var dataLen = -1L
      while (pos + 8 <= bytes.length && (byteRate == 0L || dataLen < 0L)) {
        val p = pos.toInt
        val id = new String(bytes, p, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        val sz = le32(p + 4) // unsigned u32
        // A chunk claiming more bytes than the file holds is corrupt (or a streaming
        // writer's 0xFFFFFFFF placeholder) — no duration, never a fake one.
        if (p + 8 + sz > bytes.length) return None
        if (id == "fmt " && sz >= 16) byteRate = le32(p + 16)
        if (id == "data") dataLen = sz
        pos += 8L + sz + (sz & 1L) // chunks are word-aligned
      }
      if (byteRate > 0 && dataLen >= 0) Some(dataLen * 1000L / byteRate) else None
    }

    /** FLAC duration from the STREAMINFO metadata block (total samples ÷ sample
      * rate) — a pure length-prefixed block walk, the same class as the RIFF walk.
      * Frame DATA stays opaque (decoding needs a codec; the header doesn't).
      * Unknown totals (0), zero rates, and corrupt block sizes yield None.
      */
    def flacMeta(bytes: Array[Byte]): Option[Long] = {
      if (sniffFormat(bytes) != "flac") return None
      var pos = id3StackEnd(bytes) + 4 // the sniff put "fLaC" right after the tag stack
      while (pos + 4 <= bytes.length) {
        val hdr = bytes(pos) & 0xff
        val len = ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) |
          (bytes(pos + 3) & 0xff)
        if (len > bytes.length - pos - 4) return None // block runs past EOF
        if ((hdr & 0x7f) == 0) { // STREAMINFO
          if (len < 34) return None
          val b = pos + 4
          val rate = ((bytes(b + 10) & 0xff) << 12) | ((bytes(b + 11) & 0xff) << 4) |
            ((bytes(b + 12) & 0xff) >> 4)
          val total = ((bytes(b + 13) & 0x0fL) << 32) | ((bytes(b + 14) & 0xffL) << 24) |
            ((bytes(b + 15) & 0xffL) << 16) | ((bytes(b + 16) & 0xffL) << 8) |
            (bytes(b + 17) & 0xffL)
          // total is 36 bits (< 2^36) so total*1000 < 2^46 — no overflow guard needed
          return if (rate > 0 && total > 0) Some(total * 1000L / rate) else None
        }
        if ((hdr & 0x80) != 0) return None // last block and no STREAMINFO seen
        pos += 4 + len
      }
      None
    }

    /** MP3 duration from an MPEG-1/2/2.5 Layer III frame-header walk: sum
      * samples-per-frame ÷ sample-rate over the leading run of valid frames
      * (exact for both CBR and VBR — every frame header carries its own bitrate,
      * so the walk IS the sample count, not a filesize÷bitrate guess). Skips a
      * leading ID3v2 tag (synchsafe size). Stops cleanly at the first non-frame
      * byte (trailing ID3v1 "TAG" blocks, junk); None when no valid frame exists.
      */
    def mp3Meta(bytes: Array[Byte]): Option[Long] = {
      if (sniffFormat(bytes) != "mp3") return None
      val firstFrame = mp3FirstFrame(bytes, id3StackEnd(bytes))
      if (firstFrame < 0) return None
      var pos = firstFrame.toLong
      var totalUs = 0L
      var frames = 0L
      def done: Option[Long] = if (frames > 0) Some(totalUs / 1000L) else None
      while (pos + 4 <= bytes.length) {
        val p = pos.toInt
        val b1 = bytes(p) & 0xff; val b2 = bytes(p + 1) & 0xff; val b3 = bytes(p + 2) & 0xff
        if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return done // end of frame run
        val verBits = (b2 >> 3) & 3; val layerBits = (b2 >> 1) & 3
        val brIdx = (b3 >> 4) & 0xf; val srIdx = (b3 >> 2) & 3; val pad = (b3 >> 1) & 1
        if (verBits == 1 || layerBits != 1 || brIdx == 0 || brIdx == 15 || srIdx == 3)
          return done // reserved version / not Layer III / free bitrate / bad rate
        val mpeg1 = verBits == 3
        val bitrateKbps =
          if (mpeg1) mp3BitratesV1(brIdx) else mp3BitratesV2(brIdx)
        val rate = (verBits match {
          case 3 => mp3Rates1
          case 2 => mp3Rates2
          case _ => mp3Rates25
        })(srIdx)
        val spf = if (mpeg1) 1152 else 576
        val flen = (if (mpeg1) 144 else 72) * bitrateKbps * 1000 / rate + pad
        if (flen <= 4 || flen > bytes.length - pos) return done // truncated tail frame
        // A LAME/Fraunhofer VBR header frame (Xing/Info/VBRI tag right after the
        // side info) is syntactically a frame but carries NO audio — counting its
        // samples would overstate every VBR file's duration by one frame.
        val chanMode = (bytes(p + 3) & 0xff) >> 6
        val sideInfo =
          if (mpeg1) { if (chanMode == 3) 17 else 32 } else { if (chanMode == 3) 9 else 17 }
        // protection_bit == 0 means a 2-byte CRC sits between header and side info
        val crc = if ((b2 & 1) == 0) 2 else 0
        val vbrHeader = frames == 0 &&
          (hasPrefix(bytes, p + 4 + crc + sideInfo, "Xing") ||
            hasPrefix(bytes, p + 4 + crc + sideInfo, "Info") ||
            hasPrefix(bytes, p + 36, "VBRI")) // VBRI: fixed 32 bytes after the header
        if (!vbrHeader) {
          totalUs += spf * 1000000L / rate
          frames += 1
        }
        pos += flen
      }
      done
    }
    // Layer III tables (index 0 = "free", 15 = invalid — both rejected above)
    private val mp3BitratesV1 =
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
    private val mp3BitratesV2 =
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
    private val mp3Rates1 = Array(44100, 48000, 32000)
    private val mp3Rates2 = Array(22050, 24000, 16000)
    private val mp3Rates25 = Array(11025, 12000, 8000)

    /** Ogg duration from the page walk: the codec ident packet on the first page
      * gives the sample rate (Vorbis ident / OpusHead — Opus granules are always
      * 48 kHz with a pre-skip), the highest granule position across pages gives
      * the PCM end. Page payloads stay opaque; CRCs are not verified (this reads
      * metadata, it doesn't validate streams). Unknown codecs and corrupt lacing
      * yield None.
      */
    def oggMeta(bytes: Array[Byte]): Option[Long] = {
      if (sniffFormat(bytes) != "ogg") return None
      var pos = 0L
      var rate = 0L
      var preskip = 0L
      var opus = false
      var sawIdent = false
      var lastGranule = -1L
      def le32u(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      while (pos + 27 <= bytes.length) {
        val p = pos.toInt
        if (!hasPrefix(bytes, p, "OggS")) {
          // trailing junk after the last full page: use what we have
          return if (sawIdent && lastGranule >= 0) oggDuration(rate, lastGranule, preskip, opus)
          else None
        }
        var granule = 0L
        var i = 0
        while (i < 8) { granule |= (bytes(p + 6 + i) & 0xffL) << (8 * i); i += 1 }
        val nseg = bytes(p + 26) & 0xff
        if (27L + nseg > bytes.length - pos) return None
        var payLen = 0
        i = 0
        while (i < nseg) { payLen += bytes(p + 27 + i) & 0xff; i += 1 }
        val payOff = p + 27 + nseg
        if (payLen > bytes.length - payOff) return None
        if (!sawIdent) {
          if (payLen >= 16 && bytes(payOff) == 1.toByte && hasPrefix(bytes, payOff + 1, "vorbis"))
            rate = le32u(payOff + 12) // type(1) + "vorbis"(6) + version(4) + channels(1)
          else if (payLen >= 12 && hasPrefix(bytes, payOff, "OpusHead")) {
            opus = true; rate = 48000L
            preskip = (bytes(payOff + 10) & 0xffL) | ((bytes(payOff + 11) & 0xffL) << 8)
          }
          else return None // unknown codec — no honest duration
          sawIdent = true
        }
        // granule -1 (u64 max) marks "no packet ends on this page"; headers carry 0
        if (granule > lastGranule) lastGranule = granule
        pos = payOff.toLong + payLen
      }
      if (sawIdent && lastGranule >= 0) oggDuration(rate, lastGranule, preskip, opus) else None
    }

    private def oggDuration(rate: Long, granule: Long, preskip: Long, opus: Boolean): Option[Long] = {
      val samples = if (opus) math.max(granule - preskip, 0L) else granule
      // a granule parsed from hostile bytes can be any 63-bit value: reject ones
      // whose *1000 would overflow instead of emitting a wrapped duration
      if (rate > 0 && samples >= 0 && samples <= Long.MaxValue / 1000L)
        Some(samples * 1000L / rate)
      else None
    }

    /** REAL MP4 (ISO BMFF) container metadata — duration from `moov/mvhd`
      * (duration ÷ timescale), width/height from the first `trak/tkhd` with nonzero
      * dimensions (16.16 fixed point). A pure byte-walk over the box tree, the same
      * class of work as the WAV RIFF walk: sample DATA stays opaque (that would
      * need a codec); structure is just length-prefixed boxes. Handles 64-bit
      * largesize and to-end (size 0) boxes; a corrupt tree yields (None, None),
      * never fake numbers.
      */
    def mp4Meta(bytes: Array[Byte]): (Option[Long], Option[(Int, Int)]) = {
      if (sniffFormat(bytes) != "mp4") return (None, None)
      def be32(off: Int): Long =
        ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
          ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)
      def be64(off: Int): Long = (be32(off) << 32) | be32(off + 4)
      var duration: Option[Long] = None
      var dims: Option[(Int, Int)] = None
      // Returns false on a corrupt subtree — the caller then reports nothing rather
      // than whatever was scraped before the corruption.
      def walk(from: Long, to: Long, depth: Int): Boolean = {
        var pos = from
        while (pos + 8 <= to) {
          val p = pos.toInt
          var sz = be32(p)
          val typ = new String(bytes, p + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
          var hdr = 8L
          if (sz == 1) {
            if (pos + 16 > to) return false
            sz = be64(p + 8); hdr = 16
          } else if (sz == 0) sz = to - pos // last box extends to end
          // `sz > to - pos`, NOT `pos + sz > to`: a hostile largesize near
          // Long.MaxValue overflows the addition to negative and the corrupt box
          // would walk right through the bound (then crash on a wrapped offset).
          if (sz < hdr || sz > to - pos) return false
          val pay = (pos + hdr).toInt
          typ match {
            case "moov" | "trak" =>
              if (depth >= 4 || !walk(pos + hdr, pos + sz, depth + 1)) return false
            case "mvhd" if sz - hdr >= 1 => // payload must hold the version byte
              val v = bytes(pay) & 0xff
              if (v == 0 && sz - hdr >= 20) {
                val ts = be32(pay + 12)
                val d = be32(pay + 16)
                // 0xFFFFFFFF is ISO 14496-12's "unknown duration" placeholder
                // (live/streaming muxers write it) — no duration, never a fake
                // ~4.3M-second one; mirrors the v1 branch's all-ones rejection
                if (ts > 0 && d != 0xFFFFFFFFL) duration = Some(d * 1000L / ts)
              } else if (v == 1 && sz - hdr >= 32) {
                val ts = be32(pay + 20)
                val d = be64(pay + 24)
                // reject corrupt raw durations the *1000 would overflow into a
                // plausible-looking wrong value — None beats a fake number
                if (ts > 0 && d >= 0 && d <= Long.MaxValue / 1000L)
                  duration = Some(d * 1000L / ts)
              }
            case "tkhd" if sz - hdr >= 1 =>
              val v = bytes(pay) & 0xff
              val (wOff, need) = if (v == 0) (76, 84L) else (88, 96L)
              if (sz - hdr >= need && dims.isEmpty) {
                val w = (be32(pay + wOff) >> 16).toInt
                val h = (be32(pay + wOff + 4) >> 16).toInt
                if (w > 0 && h > 0) dims = Some((w, h)) // first VIDEO track (audio tracks are 0x0)
              }
            case _ => () // ftyp/mdat/free/…: opaque
          }
          pos += sz
        }
        true
      }
      if (walk(0L, bytes.length.toLong, 0)) (duration, dims) else (None, None)
    }

    /** REAL Matroska/WebM container metadata — duration from
      * `Segment/Info/{TimestampScale, Duration}`, width/height from the first
      * `Tracks/TrackEntry/Video/{PixelWidth, PixelHeight}`. A pure EBML
      * varint-walk (the binary-XML analog of the MP4 box walk); frame DATA stays
      * opaque. Corrupt elements yield (None, None).
      */
    def mkvMeta(bytes: Array[Byte]): (Option[Long], Option[(Int, Int)]) = {
      val fmt = sniffFormat(bytes)
      if (fmt != "mkv" && fmt != "webm") return (None, None)
      val n = bytes.length
      def vintLen(b0: Int): Int = {
        var mask = 0x80; var len = 1
        while (len <= 8 && (b0 & mask) == 0) { mask >>= 1; len += 1 }
        len
      }
      // Element ID: marker bit KEPT (IDs are compared with it, per the spec).
      def readId(pos: Int): Option[(Long, Int)] = {
        if (pos >= n) return None
        val len = vintLen(bytes(pos) & 0xff)
        if (len > 4 || pos + len > n) return None
        var v = 0L
        var i = 0
        while (i < len) { v = (v << 8) | (bytes(pos + i) & 0xffL); i += 1 }
        Some((v, len))
      }
      // Data size: marker bit STRIPPED; all-ones payload means "unknown size".
      def readSize(pos: Int): Option[(Long, Int)] = {
        if (pos >= n) return None
        val b0 = bytes(pos) & 0xff
        val len = vintLen(b0)
        if (len > 8 || pos + len > n) return None
        var v = (b0 & (0xff >>> len)).toLong
        var i = 1
        while (i < len) { v = (v << 8) | (bytes(pos + i) & 0xffL); i += 1 }
        val allOnes = (1L << (7 * len)) - 1
        Some((if (v == allOnes) -1L else v, len))
      }
      def beUint(pos: Int, len: Int): Long = {
        var v = 0L; var i = 0
        while (i < len) { v = (v << 8) | (bytes(pos + i) & 0xffL); i += 1 }
        v
      }
      var timescaleNs = 1000000L // spec default: 1 ms
      var durationUnits: Option[Double] = None
      var width: Option[Int] = None
      var height: Option[Int] = None
      val masters = Set(0x18538067L /*Segment*/ , 0x1549A966L /*Info*/ ,
        0x1654AE6BL /*Tracks*/ , 0xAEL /*TrackEntry*/ , 0xE0L /*Video*/ )
      def walk(from: Long, to: Long, depth: Int): Boolean = {
        var pos = from
        while (pos + 2 <= to) {
          val (id, idLen) = readId(pos.toInt).getOrElse(return false)
          val (sz0, szLen) = readSize((pos + idLen).toInt).getOrElse(return false)
          val pay = pos + idLen + szLen
          // Unknown size is legal only for Segment (streaming writers): to end.
          val sz = if (sz0 >= 0) sz0
            else if (id == 0x18538067L) to - pay
            else return false
          if (pay + sz > to) return false
          val p = pay.toInt
          id match {
            case m if masters.contains(m) =>
              if (depth >= 6 || !walk(pay, pay + sz, depth + 1)) return false
            case 0x2AD7B1L => if (sz >= 1 && sz <= 8) timescaleNs = beUint(p, sz.toInt)
            case 0x4489L =>
              if (sz == 4) durationUnits =
                Some(java.lang.Float.intBitsToFloat(beUint(p, 4).toInt).toDouble)
              else if (sz == 8) durationUnits =
                Some(java.lang.Double.longBitsToDouble(beUint(p, 8)))
            case 0xB0L => if (sz >= 1 && sz <= 4 && width.isEmpty) Some(())
              .foreach(_ => width = Some(beUint(p, sz.toInt).toInt))
            case 0xBAL => if (sz >= 1 && sz <= 4 && height.isEmpty) Some(())
              .foreach(_ => height = Some(beUint(p, sz.toInt).toInt))
            case _ => () // EBML header, Cluster, …: opaque
          }
          pos = pay + sz
        }
        true
      }
      if (!walk(0L, n.toLong, 0)) return (None, None)
      val durMs = durationUnits.collect {
        case d if d >= 0 && timescaleNs > 0 => (d * timescaleNs / 1e6).toLong
      }
      val dims = for (w <- width; h <- height; if w > 0 && h > 0) yield (w, h)
      (durMs, dims)
    }

    /** REAL AVI container metadata — width/height/duration from the `avih` main
      * header inside the `hdrl` LIST (duration = dwTotalFrames ×
      * dwMicroSecPerFrame); the same RIFF chunk walk as WAV. None for corrupt
      * trees or a zero frame rate.
      */
    def aviMeta(bytes: Array[Byte]): (Option[Long], Option[(Int, Int)]) = {
      if (sniffFormat(bytes) != "avi") return (None, None)
      def le32(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      def id4(off: Int) =
        new String(bytes, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      var pos = 12L
      while (pos + 8 <= bytes.length) {
        val p = pos.toInt
        val cid = id4(p)
        val sz = le32(p + 4)
        if (sz > bytes.length - pos - 8) return (None, None) // corrupt size
        if (cid == "LIST" && sz >= 4 && id4(p + 8) == "hdrl") {
          // walk inside hdrl for avih
          var q = pos + 12
          val end = pos + 8 + sz
          while (q + 8 <= end) {
            val qp = q.toInt
            val csz = le32(qp + 4)
            if (csz > end - q - 8) return (None, None)
            if (id4(qp) == "avih" && csz >= 40) {
              val usPerFrame = le32(qp + 8)
              val frames = le32(qp + 8 + 16)
              val w = le32(qp + 8 + 32).toInt
              val h = le32(qp + 8 + 36).toInt
              // Both fields are unsigned-32 reads, so the product can reach
              // (2^32-1)^2 and wrap Long: reject corrupt values whose multiply
              // would overflow — None beats a fake (negative) duration.
              val dur =
                if (usPerFrame > 0 && frames <= Long.MaxValue / usPerFrame)
                  Some(frames * usPerFrame / 1000L)
                else None
              val dims = if (w > 0 && h > 0) Some((w, h)) else None
              return (dur, dims)
            }
            q += 8L + csz + (csz & 1L)
          }
          return (None, None) // hdrl without avih
        }
        pos += 8L + sz + (sz & 1L)
      }
      (None, None)
    }

    /** Encode a minimal-but-valid AVI metadata skeleton (`RIFF AVI ` +
      * `LIST hdrl` + `avih`). 1000 fps (dwMicroSecPerFrame = 1000) so
      * dwTotalFrames IS the duration in milliseconds — exact round-trip.
      */
    def encodeAviMeta(durationMs: Long, width: Int, height: Int): Array[Byte] = {
      require(durationMs >= 0 && durationMs <= 0xFFFFFFFFL && width > 0 && height > 0,
        s"bad avi meta: ${durationMs}ms ${width}x$height")
      val avih = 56
      val hdrl = 4 + 8 + avih // 'hdrl' + avih chunk
      val bb = java.nio.ByteBuffer.allocate(12 + 8 + hdrl)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("ISO-8859-1")).putInt(4 + 8 + hdrl)
        .put("AVI ".getBytes("ISO-8859-1"))
      bb.put("LIST".getBytes("ISO-8859-1")).putInt(hdrl)
        .put("hdrl".getBytes("ISO-8859-1"))
      bb.put("avih".getBytes("ISO-8859-1")).putInt(avih)
      bb.putInt(1000) // dwMicroSecPerFrame: 1000 fps
      bb.putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
      bb.putInt(durationMs.toInt) // dwTotalFrames == ms at 1000 fps
      bb.putInt(0).putInt(1).putInt(0) // initialFrames, streams, suggestedBufSize
      bb.putInt(width).putInt(height)
      bb.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      bb.array()
    }

    /** REAL animated-GIF duration: sum of Graphic Control Extension delays
      * (stored in centiseconds) from a block walk over the GIF stream — the same
      * pure parsing class as the RIFF/box/EBML walks. None when the stream has no
      * GCE at all (plain single-frame images have no timing) or is corrupt.
      */
    def gifDurationMs(bytes: Array[Byte]): Option[Long] = {
      if (sniffFormat(bytes) != "gif") return None
      try {
        val n = bytes.length
        if (n < 13) return None
        var pos = 13 // header(6) + logical screen descriptor(7)
        val packed = bytes(10) & 0xff
        if ((packed & 0x80) != 0) pos += 3 * (1 << ((packed & 7) + 1)) // global color table
        var sum = 0L
        var sawGce = false
        def skipSubBlocks(start: Int): Int = {
          var q = start
          while ({ if (q >= n) return -1; (bytes(q) & 0xff) != 0 })
            q += 1 + (bytes(q) & 0xff)
          q + 1 // past the 0 terminator
        }
        while (pos < n) {
          (bytes(pos) & 0xff) match {
            case 0x3B => return if (sawGce) Some(sum) else None // trailer
            case 0x21 => // extension: label byte, then sub-blocks
              if (pos + 2 >= n) return None
              val label = bytes(pos + 1) & 0xff
              if (label == 0xF9 && pos + 7 < n && (bytes(pos + 2) & 0xff) == 4) {
                val delayCs = (bytes(pos + 4) & 0xff) | ((bytes(pos + 5) & 0xff) << 8)
                sum += delayCs * 10L
                sawGce = true
              }
              pos = skipSubBlocks(pos + 2) match { case -1 => return None; case q => q }
            case 0x2C => // image descriptor + optional local table + LZW data
              if (pos + 10 > n) return None
              val lp = bytes(pos + 9) & 0xff
              var q = pos + 10
              if ((lp & 0x80) != 0) q += 3 * (1 << ((lp & 7) + 1))
              if (q + 1 > n) return None
              q += 1 // LZW minimum code size
              pos = skipSubBlocks(q) match { case -1 => return None; case r => r }
            case _ => return None // corrupt block stream
          }
        }
        None // ran past end without the 0x3B trailer: truncated, no fake duration
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Encode a minimal-but-valid MP4 metadata skeleton (`ftyp` + `moov` with
      * `mvhd` and a video `tkhd`; no sample data — none is needed for container
      * metadata). The encode half of the [[mp4Meta]] decode oracle.
      */
    def encodeMp4Meta(durationMs: Long, width: Int, height: Int): Array[Byte] = {
      require(durationMs >= 0 && durationMs <= 0xFFFFFFFFL && width > 0 && height > 0,
        s"bad mp4 meta: ${durationMs}ms ${width}x$height (v0 duration is an unsigned 32-bit field)")
      val bb = java.nio.ByteBuffer.allocate(20 + 8 + 108 + 100) // ftyp + moov(mvhd + trak(tkhd))
      def fourcc(s: String): Unit = { bb.put(s.getBytes("ISO-8859-1")); () }
      // ftyp
      bb.putInt(20); fourcc("ftyp"); fourcc("isom"); bb.putInt(0); fourcc("isom")
      // moov
      bb.putInt(8 + 108 + 100); fourcc("moov")
      // mvhd v0: timescale 1000 => duration field IS milliseconds
      bb.putInt(108); fourcc("mvhd")
      bb.putInt(0) // version 0 + flags
      bb.putInt(0).putInt(0) // creation, modification
      bb.putInt(1000).putInt(durationMs.toInt)
      bb.putInt(0x00010000) // rate 1.0
      bb.putShort(0x0100.toShort).putShort(0) // volume 1.0, reserved
      bb.putInt(0).putInt(0) // reserved
      Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(bb.putInt) // unity matrix
      (1 to 6).foreach(_ => bb.putInt(0)) // pre_defined
      bb.putInt(2) // next track id
      // trak(tkhd v0)
      bb.putInt(8 + 92); fourcc("trak")
      bb.putInt(92); fourcc("tkhd")
      bb.putInt(3) // version 0, flags: enabled | in movie
      bb.putInt(0).putInt(0) // creation, modification
      bb.putInt(1) // track id
      bb.putInt(0) // reserved
      bb.putInt(durationMs.toInt)
      bb.putInt(0).putInt(0) // reserved
      bb.putShort(0).putShort(0) // layer, alternate group
      bb.putShort(0).putShort(0) // volume (0 for video), reserved
      Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(bb.putInt)
      bb.putInt(width << 16).putInt(height << 16) // 16.16 fixed
      bb.array()
    }

    /** Encode a minimal-but-valid Matroska metadata skeleton (EBML header with
      * DocType, `Segment/Info/{TimestampScale, Duration}` and a video track with
      * pixel dimensions). The encode half of the [[mkvMeta]] decode oracle.
      */
    def encodeMkvMeta(durationMs: Long, width: Int, height: Int,
        docType: String = "matroska"): Array[Byte] = {
      require(durationMs >= 0 && width > 0 && height > 0,
        s"bad mkv meta: ${durationMs}ms ${width}x$height")
      def sizeVint(v: Int): Array[Byte] = {
        require(v < 0x7f, s"fixture element too big: $v") // 1-byte form is enough here
        Array((0x80 | v).toByte)
      }
      def el(idBytes: Array[Byte], payload: Array[Byte]): Array[Byte] =
        idBytes ++ sizeVint(payload.length) ++ payload
      def id(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
      def uint(v: Long): Array[Byte] = { // minimal big-endian bytes, at least one
        var len = 1
        while (len < 8 && (v >>> (8 * len)) != 0) len += 1
        Array.tabulate(len)(i => ((v >>> (8 * (len - 1 - i))) & 0xff).toByte)
      }
      val ebml = el(id(0x1A, 0x45, 0xDF, 0xA3),
        el(id(0x42, 0x82), docType.getBytes("ISO-8859-1")))
      val info = el(id(0x15, 0x49, 0xA9, 0x66),
        el(id(0x2A, 0xD7, 0xB1), uint(1000000L)) ++ // 1 ms units
          el(id(0x44, 0x89), { // Duration: 8-byte float, units = TimestampScale
            val b = java.nio.ByteBuffer.allocate(8)
            b.putDouble(durationMs.toDouble); b.array()
          }))
      val video = el(id(0xE0), el(id(0xB0), uint(width)) ++ el(id(0xBA), uint(height)))
      val tracks = el(id(0x16, 0x54, 0xAE, 0x6B), el(id(0xAE), video))
      ebml ++ el(id(0x18, 0x53, 0x80, 0x67), info ++ tracks)
    }

    /** Real metadata decode: format sniff + image header dims / audio duration
      * (WAV byte-rate, FLAC STREAMINFO, MP3 frame walk, Ogg granule) / MP4,
      * Matroska, and AVI container duration + dimensions / animated-GIF duration
      * (GCE delay sum — None for plain single-frame GIFs, which carry no timing).
      */
    def decodeMeta(bytes: Array[Byte]): MediaMeta = {
      val fmt = sniffFormat(bytes)
      val size = if (bytes == null) 0L else bytes.length.toLong
      if (isImageFormat(fmt)) imageDimensions(bytes) match {
        case Some((w, h)) =>
          MediaMeta(fmt, Some(w), Some(h),
            if (fmt == "gif") gifDurationMs(bytes) else None, size)
        case None => MediaMeta(fmt, None, None, None, size)
      }
      else if (fmt == "wav") MediaMeta(fmt, None, None, wavDurationMs(bytes), size)
      else if (fmt == "flac") MediaMeta(fmt, None, None, flacMeta(bytes), size)
      else if (fmt == "mp3") MediaMeta(fmt, None, None, mp3Meta(bytes), size)
      else if (fmt == "ogg") MediaMeta(fmt, None, None, oggMeta(bytes), size)
      else if (fmt == "mp4" || fmt == "mkv" || fmt == "webm" || fmt == "avi") {
        val (dur, dims) = fmt match {
          case "mp4" => mp4Meta(bytes)
          case "mkv" | "webm" => mkvMeta(bytes)
          case _ => aviMeta(bytes)
        }
        MediaMeta(fmt, dims.map(_._1), dims.map(_._2), dur, size)
      }
      else MediaMeta(fmt, None, None, None, size)
    }

    /** Encode a deterministic test-pattern image (pixels a pure function of `seed`) —
      * the encode half of the decode oracle, and a JDK-real writer for all four
      * sniffable image formats.
      */
    def encodeImage(width: Int, height: Int, format: String, seed: Long): Array[Byte] = {
      imageIoReady
      require(width > 0 && height > 0, s"encodeImage needs positive dims, got ${width}x$height")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val v = (seed * 31 + x * 7 + y * 131) & 0xffffff
          img.setRGB(x, y, v.toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, bos), s"no JDK writer for '$format'")
      bos.toByteArray
    }

    /** Deterministic NOISE image: every pixel from a splitmix64 stream keyed on
      * (seed, x, y). Unlike [[encodeImage]]'s gradient (whose 8×8-pooled luminance
      * mask is nearly seed-independent — measured: 37 seeds gave only 31 distinct
      * aHashes with cross-seed Hamming collisions at 0), noise images pool to
      * effectively independent 64-bit masks per seed (cross-seed Hamming ~Binom(64,½))
      * — the construction for planted-duplicate tests where DIFFERENT seeds must
      * stay far apart.
      */
    def encodeNoiseImage(width: Int, height: Int, format: String, seed: Long): Array[Byte] = {
      imageIoReady
      require(width > 0 && height > 0, s"encodeNoiseImage needs positive dims, got ${width}x$height")
      def mix(z0: Long): Long = {
        var z = z0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y, (mix(mix(seed) ^ (x.toLong << 32) ^ y.toLong) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, bos), s"no JDK writer for '$format'")
      bos.toByteArray
    }

    /** PCM payload location inside a WAV: (dataOffset, dataLen, sampleRate, channels,
      * bitsPerSample) from the RIFF chunk walk. None for anything that is not plain
      * PCM (format tag 1) — compressed WAV needs a real codec.
      */
    private def wavPcmInfo(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
      if (sniffFormat(bytes) != "wav") return None
      def le32(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      def le16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
      var pos = 12L
      var fmt: Option[(Int, Int, Int)] = None // (sampleRate, channels, bits)
      var data: Option[(Int, Int)] = None
      while (pos + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
        val p = pos.toInt
        val id = new String(bytes, p, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        val sz = le32(p + 4)
        if (p + 8 + sz > bytes.length) return None
        if (id == "fmt " && sz >= 16) {
          if (le16(p + 8) != 1) return None // not plain PCM
          fmt = Some((le32(p + 12).toInt, le16(p + 10), le16(p + 22)))
        }
        if (id == "data") data = Some((p + 8, sz.toInt))
        pos += 8L + sz + (sz & 1L)
      }
      for ((sr, ch, bits) <- fmt; (off, len) <- data) yield (off, len, sr, ch, bits)
    }

    /** REAL audio envelope: per-window RMS amplitude in [0, 1] over the PCM frames
      * (8-bit unsigned or 16-bit signed little-endian). Interleaved channels are
      * averaged PER FRAME into one amplitude before the RMS, so a stereo clip with
      * identical L/R tracks has the same envelope as its mono downmix. None for
      * non-/compressed-/empty WAV — a fake envelope would poison downstream audio
      * dedup exactly like a fake image hash would.
      */
    def wavEnvelope(bytes: Array[Byte], windows: Int): Option[Array[Double]] = {
      require(windows > 0, s"windows must be positive, got $windows")
      wavPcmInfo(bytes).flatMap { case (off, len, _, ch, bits) =>
        if (bits != 8 && bits != 16) return None
        if (ch <= 0) return None
        val bytesPerSample = bits / 8
        val nFrames = len / (bytesPerSample * ch)
        if (nFrames == 0) return None
        def sampleAmp(idx: Int): Double =
          if (bits == 8) ((bytes(off + idx) & 0xff) - 128) / 128.0
          else {
            val lo = bytes(off + idx * 2) & 0xff
            val hi = bytes(off + idx * 2 + 1).toInt
            ((hi << 8) | lo) / 32768.0
          }
        val out = new Array[Double](windows)
        val counts = new Array[Long](windows)
        var f = 0
        while (f < nFrames) {
          var amp = 0.0
          var c = 0
          while (c < ch) { amp += sampleAmp(f * ch + c); c += 1 }
          amp /= ch
          val w = ((f.toLong * windows) / nFrames).toInt
          out(w) += amp * amp
          counts(w) += 1
          f += 1
        }
        var w = 0
        while (w < windows) {
          out(w) = if (counts(w) > 0) math.sqrt(out(w) / counts(w)) else 0.0
          w += 1
        }
        Some(out)
      }
    }

    /** REAL perceptual audio hash: 64-window RMS envelope thresholded at its mean —
      * the audio analog of the image aHash (loudness SHAPE, robust to uniform gain
      * in the small and to container rewrites). None for undecodable audio and for
      * zero-contrast (silent/constant-loudness) clips — featureless sound has no
      * fingerprint, same rule as flat images.
      */
    def audioHash(bytes: Array[Byte]): Option[Long] =
      wavEnvelope(bytes, 64).flatMap { env =>
        var mn = Double.MaxValue
        var mx = Double.MinValue
        var sum = 0.0
        var i = 0
        while (i < 64) {
          val v = env(i)
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v
          i += 1
        }
        if (mx == mn) None
        else {
          val mean = sum / 64
          var h = 0L
          i = 0
          while (i < 64) { if (env(i) > mean) h |= (1L << i); i += 1 }
          Some(h)
        }
      }

    /** Deterministic block-loudness NOISE clip (8-bit mono PCM WAV): per-64-sample
      * blocks with splitmix-derived amplitudes — seed-distinctive envelope SHAPES
      * (white noise alone would give every clip a near-flat envelope and
      * collision-prone hashes, the audio analog of the gradient-image lesson).
      */
    def encodeNoiseWav(sampleRate: Int, nSamples: Int, seed: Long): Array[Byte] = {
      require(nSamples > 0, s"nSamples must be positive, got $nSamples")
      def mix(z0: Long): Long = {
        var z = z0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val data = new Array[Byte](nSamples)
      var i = 0
      while (i < nSamples) {
        val block = i >> 6
        val amp = 8 + (java.lang.Long.remainderUnsigned(mix(mix(seed) ^ block.toLong), 112L)).toInt
        val sign = if ((mix(mix(seed) ^ 0x5bf03635L ^ i.toLong) & 1L) == 0L) 1 else -1
        data(i) = (128 + sign * amp).toByte
        i += 1
      }
      encodeWavPcm(sampleRate, data)
    }

    /** Encode 8-bit PCM as a canonical 44-byte-header WAV. `data` is interleaved
      * frame-major when `channels` > 1 (L R L R …).
      */
    def encodeWavPcm(sampleRate: Int, data: Array[Byte], channels: Int = 1): Array[Byte] = {
      require(sampleRate > 0, s"sampleRate must be positive, got $sampleRate")
      require(channels > 0, s"channels must be positive, got $channels")
      require(data.length % channels == 0,
        s"interleaved data length ${data.length} not divisible by $channels channels")
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + data.length)
        .put("WAVE".getBytes("ISO-8859-1"))
      bb.put("fmt ".getBytes("ISO-8859-1")).putInt(16)
        .putShort(1).putShort(channels.toShort) // PCM
        .putInt(sampleRate).putInt(sampleRate * channels) // byteRate = rate × ch × 1 byte
        .putShort(channels.toShort).putShort(8) // block align, bits per sample
      bb.put("data".getBytes("ISO-8859-1")).putInt(data.length).put(data)
      bb.array()
    }

    /** Encode a minimal-but-valid FLAC metadata skeleton: `fLaC` magic + a single
      * (last-flagged) STREAMINFO block carrying the rate and total-sample count.
      * With the default 8 kHz rate the ms→samples→ms round-trip is exact for any
      * duration (ms × 8 is integral both ways) — the encode half of the
      * [[flacMeta]] decode oracle.
      */
    def encodeFlacMeta(durationMs: Long, sampleRate: Int = 8000): Array[Byte] = {
      require(durationMs >= 0 && sampleRate > 0 && sampleRate < (1 << 20),
        s"bad flac meta: ${durationMs}ms @${sampleRate}Hz")
      val total = durationMs * sampleRate / 1000L
      require(total < (1L << 36), s"total samples $total exceeds STREAMINFO's 36 bits")
      val out = new Array[Byte](4 + 4 + 34)
      out(0) = 'f'; out(1) = 'L'; out(2) = 'a'; out(3) = 'C'
      out(4) = 0x80.toByte // last-metadata-block flag + type 0 (STREAMINFO)
      out(7) = 34 // 24-bit BE length
      val b = 8
      out(b) = 0x10; out(b + 2) = 0x10 // min/max block size 4096
      out(b + 10) = ((sampleRate >> 12) & 0xff).toByte // rate: 20 bits
      out(b + 11) = ((sampleRate >> 4) & 0xff).toByte
      // rate low nibble | channels-1 (0, mono) in bits 3-1 | bps-1 (15) MSB in bit 0
      out(b + 12) = (((sampleRate & 0xf) << 4) | (15 >> 4)).toByte
      // bps-1 low 4 bits | total-samples top 4 of 36
      out(b + 13) = (((15 & 0xf) << 4) | ((total >> 32) & 0xf).toInt).toByte
      out(b + 14) = ((total >> 24) & 0xff).toByte
      out(b + 15) = ((total >> 16) & 0xff).toByte
      out(b + 16) = ((total >> 8) & 0xff).toByte
      out(b + 17) = (total & 0xff).toByte
      out // MD5 left zero (unset) — this is a metadata skeleton, not a stream
    }

    /** Encode `frames` valid CBR MPEG-2.5 Layer III frames (8 kbps, 8 kHz, mono,
      * zeroed payloads): frame length is exactly 72 bytes and each frame carries
      * 576 samples = exactly 72 ms, so duration = 72 × frames with no rounding —
      * the encode half of the [[mp3Meta]] frame-walk oracle. `id3Pad` > 0 prepends
      * an ID3v2 tag of that payload size to exercise the skip path.
      */
    def encodeMp3Cbr(frames: Int, id3Pad: Int = 0): Array[Byte] = {
      require(frames > 0 && id3Pad >= 0 && id3Pad < (1 << 21),
        s"bad mp3 encode: $frames frames, id3Pad $id3Pad")
      val id3 = if (id3Pad > 0) 10 + id3Pad else 0
      val out = new Array[Byte](id3 + frames * 72)
      if (id3Pad > 0) {
        out(0) = 'I'; out(1) = 'D'; out(2) = '3'; out(3) = 4 // v2.4
        out(6) = ((id3Pad >> 21) & 0x7f).toByte; out(7) = ((id3Pad >> 14) & 0x7f).toByte
        out(8) = ((id3Pad >> 7) & 0x7f).toByte; out(9) = (id3Pad & 0x7f).toByte
      }
      var f = 0
      while (f < frames) {
        val o = id3 + f * 72
        out(o) = 0xFF.toByte
        out(o + 1) = 0xE3.toByte // sync + MPEG-2.5 + Layer III + no CRC
        out(o + 2) = 0x18.toByte // bitrate idx 1 (8 kbps) + rate idx 2 (8 kHz)
        out(o + 3) = 0xC0.toByte // mono
        f += 1
      }
      out
    }

    /** Encode a minimal-but-valid Ogg page pair: page 0 carries the codec ident
      * packet (Vorbis ident at `sampleRate`, or OpusHead when `opus` — Opus
      * granules are fixed 48 kHz), the EOS page carries the final granule
      * position. Page CRCs are left zero ([[oggMeta]] reads structure, it doesn't
      * validate streams). Default 8 kHz Vorbis makes the ms round-trip exact.
      */
    def encodeOggMeta(durationMs: Long, sampleRate: Int = 8000,
        opus: Boolean = false): Array[Byte] = {
      require(durationMs >= 0 && sampleRate > 0, s"bad ogg meta: ${durationMs}ms @$sampleRate")
      val rate = if (opus) 48000 else sampleRate
      require(durationMs <= Long.MaxValue / rate,
        s"ogg granule ${durationMs}ms x ${rate}Hz overflows") // fail fast, like the FLAC encoder
      val granule = durationMs * rate / 1000L
      val ident: Array[Byte] =
        if (opus) {
          val p = new Array[Byte](19)
          "OpusHead".getBytes("ISO-8859-1").copyToArray(p)
          p(8) = 1 // version
          p(9) = 1 // channels
          // pre-skip (2 LE) left 0; input rate (4 LE) informational
          p(12) = (48000 & 0xff).toByte; p(13) = ((48000 >> 8) & 0xff).toByte
          p
        } else {
          val p = new Array[Byte](30)
          p(0) = 1
          "vorbis".getBytes("ISO-8859-1").copyToArray(p, 1)
          p(11) = 1 // channels (after 4-byte version)
          p(12) = (sampleRate & 0xff).toByte; p(13) = ((sampleRate >> 8) & 0xff).toByte
          p(14) = ((sampleRate >> 16) & 0xff).toByte; p(15) = ((sampleRate >> 24) & 0xff).toByte
          p(28) = 1 // blocksizes; framing bit
          p(29) = 1
          p
        }
      def page(granulePos: Long, headerType: Int, seq: Int, payload: Array[Byte]): Array[Byte] = {
        require(payload.length < 255, "single-segment page only")
        val pg = new Array[Byte](27 + 1 + payload.length)
        "OggS".getBytes("ISO-8859-1").copyToArray(pg)
        pg(5) = headerType.toByte
        var i = 0
        while (i < 8) { pg(6 + i) = ((granulePos >> (8 * i)) & 0xff).toByte; i += 1 }
        pg(26) = 1 // one lacing segment
        pg(27) = payload.length.toByte
        payload.copyToArray(pg, 28)
        pg
      }
      page(0L, 0x02, 0, ident) ++ page(granule, 0x04, 1, Array[Byte](0))
    }

    /** STUB (documented): a learned feature embedding needs a model, not a codec —
      * deterministic pseudo-embedding from byte content keeps the pipeline testable.
      * Null/empty payloads yield NULL, not a zero vector: a zero vector is a "valid"
      * embedding whose cosine is NaN, which would rank broken media ABOVE every real
      * neighbor in a descending top-k; null propagates and drops out instead.
      */
    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      if (bytes == null || bytes.isEmpty) return null
      val out = new Array[Float](dim)
      val rnd = new scala.util.Random(java.util.Arrays.hashCode(bytes))
      var i = 0
      while (i < dim) { out(i) = rnd.nextGaussian().toFloat; i += 1 }
      out
    }

    /** One cap for every untrusted-image decode path (hash / resize / GIF frames):
      * 4096×4096 — far above any sane corpus image, far below an OOM.
      */
    private val MaxDecodePixels = 16777216L

    /** Header-only pixel-count guard before any full `ImageIO.read` of untrusted
      * bytes: a hostile header claiming 65535x65535 would make the decoder allocate
      * a multi-GB raster and throw OutOfMemoryError — an Error, which NonFatal never
      * catches, so it would kill the executor task instead of yielding None/fallback.
      * [[imageDimensions]] parses only the header, so this costs ~nothing.
      */
    private def headerPixelsSane(bytes: Array[Byte]): Boolean =
      imageDimensions(bytes).exists { case (w, h) =>
        w > 0 && h > 0 && w.toLong * h <= MaxDecodePixels
      }

    /** REAL perceptual aHash (64-bit): decode, average-pool to 8×8 grayscale,
      * threshold at the mean — near-duplicate images land within a few Hamming bits.
      * None for anything undecodable (a fake hash would poison dedup buckets).
      */
    def perceptualHash(bytes: Array[Byte]): Option[Long] = {
      imageIoReady
      if (bytes == null || bytes.isEmpty || !isImageFormat(sniffFormat(bytes))) return None
      try {
        // One reader session for the dims guard AND the decode: this is the
        // visual-dedup hot path, so don't pay a second header parse for the
        // [[headerPixelsSane]] check (same cap, same semantics, inlined).
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val img = try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val r = readers.next()
          try {
            r.setInput(iis)
            val w = r.getWidth(0).toLong; val h = r.getHeight(0).toLong
            if (w <= 0 || h <= 0 || w * h > MaxDecodePixels) return None
            r.read(0)
          } finally r.dispose()
        } finally iis.close()
        if (img == null) return None
        aHashOf(img)
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** The pooling half of [[perceptualHash]] over an ALREADY-DECODED raster — one
      * implementation shared with the fused video frame-hash path, so the two can
      * never drift (stored image/frame hash indexes depend on bit-stable hashes;
      * the drawImage bilinear pool depends only on pixel VALUES, which lossless
      * codec round-trips preserve — equality is spec-pinned across the GIF matrix).
      */
    private[operators] def aHashOf(img: java.awt.image.BufferedImage): Option[Long] = {
      val small = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = small.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, 8, 8, null)
      } finally g.dispose()
      val gray = new Array[Int](64)
      var i = 0
      while (i < 64) {
        val rgb = small.getRGB(i % 8, i / 8)
        gray(i) = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        i += 1
      }
      // Zero-contrast guard: EVERY uniform image thresholds to the all-zeros mask,
      // so two visually unrelated flat images (solid black vs solid white) would
      // "match" at Hamming 0 and dedup would silently drop one. Featureless
      // content has no fingerprint — None, the same degenerate-input rule as
      // SimHash's zero-token filter (which exists for the identical reason).
      val mn = gray.min
      if (mn == gray.max) return None
      val mean = gray.sum / 64
      var hash = 0L
      i = 0
      while (i < 64) { if (gray(i) > mean) hash |= (1L << i); i += 1 }
      Some(hash)
    }

    /** REAL image resize: decode → bilinear scale → re-encode in the source format.
      * Non-image payloads (and corrupt images) fall back to a deterministic byte
      * resample so size accounting still flows — documented stand-in for the video
      * path, where a stock JVM has no decoder.
      */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      imageIoReady
      require(w > 0 && h > 0, s"resize needs positive dims, got ${w}x$h")
      if (bytes == null || bytes.isEmpty) return Array.emptyByteArray
      val fmt = sniffFormat(bytes)
      if (isImageFormat(fmt) && headerPixelsSane(bytes)) {
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          if (img != null) {
            val out = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, w, h, null)
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            if (javax.imageio.ImageIO.write(out, fmt, bos)) return bos.toByteArray
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      stubResample(bytes, w, h)
    }

    /** Deterministic byte resample — the non-image fallback for [[resize]]. */
    private def stubResample(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      // Proportional to requested pixel count, bounded: an aggressive upscale would
      // otherwise request gigabytes inside the executor UDF. Long math: w*h in Int
      // wraps at 65536x65536 and would yield a 16-byte output instead of the cap.
      val MaxOut = 16L * 1024 * 1024
      val outLen = math.min(math.max(w.toLong * h, 16L), MaxOut).toInt
      val out = new Array[Byte](outLen)
      var i = 0
      while (i < outLen) { out(i) = bytes(((i.toLong * bytes.length) / outLen).toInt); i += 1 }
      out
    }

    /** Encode a deterministic animated GIF: `frames` noise frames keyed on
      * (seed, frameIdx) through the JDK GIF sequence writer, each carrying a REAL
      * Graphic Control Extension with `delayCs` centiseconds of frame delay (the
      * encode half of the [[gifFrames]] and [[gifDurationMs]] decode oracles).
      */
    def encodeAnimatedGif(width: Int, height: Int, frames: Int, seed: Long,
        delayCs: Int = 0): Array[Byte] = {
      imageIoReady
      require(width > 0 && height > 0 && frames > 0,
        s"encodeAnimatedGif needs positive dims/frames, got ${width}x$height x$frames")
      require(delayCs >= 0 && delayCs <= 0xFFFF, s"delayCs out of u16 range: $delayCs")
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < frames) {
          // distinct noise per frame: reuse the cross-seed-distinctive generator
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
            encodeNoiseImage(width, height, "png", seed * 131 + f)))
          // per-frame GCE with the requested delay, via the writer's native
          // metadata tree (the only JDK way to set GIF timing)
          val meta = writer.getDefaultImageMetadata(
            new javax.imageio.ImageTypeSpecifier(img), null)
          val fmtName = meta.getNativeMetadataFormatName
          val root = new javax.imageio.metadata.IIOMetadataNode(fmtName)
          val gce = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
          gce.setAttribute("disposalMethod", "none")
          gce.setAttribute("userInputFlag", "FALSE")
          gce.setAttribute("transparentColorFlag", "FALSE")
          gce.setAttribute("delayTime", delayCs.toString)
          gce.setAttribute("transparentColorIndex", "0")
          root.appendChild(gce)
          meta.mergeTree(fmtName, root)
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }

    /** REAL animated-GIF frame extraction through the JDK ImageIO GIF reader:
      * every `everyNth`-th stored frame (index 0, n, 2n, …), capped at `maxFrames`,
      * re-encoded as PNG. Frames are the RAW stored rasters (no disposal-method
      * compositing — deltas stay deltas), which is exactly what a dedup/feature
      * pipeline wants: deterministic decode, no synthesis. None when the payload is
      * not a GIF or the reader rejects it.
      */
    def gifFrames(bytes: Array[Byte], everyNth: Int, maxFrames: Int): Option[Seq[Array[Byte]]] =
      gifFrameWalk(bytes, everyNth, maxFrames) { img =>
        val bos = new java.io.ByteArrayOutputStream()
        require(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer")
        bos.toByteArray
      }

    /** Per-sampled-frame aHash straight off the decoded GIF rasters — the FUSED
      * fast path under [[graft.operators.Multimodal.videoFrameHashes]]'s default
      * route: [[gifFrames]]+[[perceptualHash]] pays a PNG encode AND re-decode per
      * frame whose only purpose is transporting the raster between the two calls;
      * this walk hashes each raster in place ([[aHashOf]], the same pooling code),
      * roughly halving the video hot path. `None` entries are un-hashable frames
      * (zero contrast); positions match the byte path's sampled-frame indexes.
      */
    def gifFrameHashes(bytes: Array[Byte], everyNth: Int,
        maxFrames: Int): Option[Seq[Option[Long]]] =
      gifFrameWalk(bytes, everyNth, maxFrames)(aHashOf)

    /** The shared GIF reader walk: every `everyNth`-th stored frame (capped at
      * `maxFrames`) decoded and mapped through `f`. None when the payload is not a
      * GIF or the reader rejects it.
      */
    private def gifFrameWalk[A](bytes: Array[Byte], everyNth: Int, maxFrames: Int)(
        f: java.awt.image.BufferedImage => A): Option[Seq[A]] = {
      imageIoReady
      if (bytes == null || sniffFormat(bytes) != "gif") return None
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val r = readers.next()
          try {
            r.setInput(iis)
            val total = r.getNumImages(true)
            val picked = (0 until total by math.max(everyNth, 1)).take(maxFrames)
            // Header dims sanity cap BEFORE pixel decode: a hostile descriptor
            // claiming 65535x65535 would make r.read allocate a multi-GB raster
            // and throw OutOfMemoryError — an Error that NonFatal never catches,
            // killing the executor task instead of yielding None. getWidth/
            // getHeight are header-only reads, so the cap costs nothing.
            if (picked.exists { i =>
              val w = r.getWidth(i).toLong; val h = r.getHeight(i).toLong
              w <= 0 || h <= 0 || w * h > MaxDecodePixels
            }) return None
            Some(picked.map(i => f(r.read(i))))
          } finally r.dispose()
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Frame sampling. GIF payloads get REAL decoded frames ([[gifFrames]] — the
      * one video-ish format a stock JVM can decode). For codec-bound containers
      * (MP4/MKV/AVI sample data needs ffmpeg-class codecs) the STUB remains,
      * documented: every-nth 4KiB byte slice stands in for decoded frames so the
      * explode/partitioning plumbing is exercised for real.
      */
    def sampleFrames(bytes: Array[Byte], everyNth: Int, maxFrames: Int): Seq[Array[Byte]] = {
      if (bytes == null || bytes.isEmpty) return Nil
      gifFrames(bytes, everyNth, maxFrames) match {
        case Some(frames) => frames
        case None =>
          val frameSize = 4096
          val nFrames = math.max(bytes.length / frameSize, 1)
          (0 until nFrames by math.max(everyNth, 1)).take(maxFrames).map { f =>
            java.util.Arrays.copyOfRange(bytes, f * frameSize, math.min((f + 1) * frameSize, bytes.length))
          }
      }
    }
  }

  /** Attach a typed metadata struct decoded from the binary column. One projection;
    * binary payloads never shuffle.
    */
  def withMediaMeta(df: DataFrame, binCol: String, out: String = "media_meta"): DataFrame = {
    val u = udf((bytes: Array[Byte]) => MediaCodecs.decodeMeta(bytes))
    df.withColumn(out, u(col(binCol)).cast(MediaMetaType))
  }

  /** Attach the 64-bit perceptual aHash (NULL for non-/corrupt images) — the image
    * analog of the text fingerprint: group or band on it for exact-ish visual dedup,
    * or Hamming-verify candidate pairs with `bit_count(hash_a ^ hash_b)`.
    */
  def withImageHash(df: DataFrame, binCol: String, out: String = "image_hash"): DataFrame = {
    val u = udf((bytes: Array[Byte]) => MediaCodecs.perceptualHash(bytes))
    df.withColumn(out, u(col(binCol)))
  }

  /** Attach a feature embedding (`Array[Float]` of `dim`) computed row-local where
    * the bytes live. `extractor` is the PLUGGABLE encoder hook — a real deployment
    * drops in its ONNX/JNI model here as a plain serializable
    * `(bytes, dim) => Array[Float]` without touching graft; the default is the
    * documented deterministic stub ([[MediaCodecs.extractFeatures]] — a learned
    * embedding needs a model, not a codec). Extractor contract, enforced in-task:
    * return NULL for undecodable/empty payloads (never a zero vector — its cosine
    * is NaN and would rank broken media above every real neighbor) and exactly
    * `dim` components otherwise (a silent length mismatch would corrupt every
    * downstream ANN/semdedup distance).
    */
  def withFeatures(df: DataFrame, binCol: String, dim: Int, out: String = "features",
      extractor: (Array[Byte], Int) => Array[Float] = MediaCodecs.extractFeatures): DataFrame = {
    val u = udf((bytes: Array[Byte]) => {
      val v = extractor(bytes, dim)
      if (v != null && v.length != dim)
        throw new IllegalStateException(
          s"feature extractor returned ${v.length} components, expected $dim")
      v
    })
    df.withColumn(out, u(col(binCol)))
  }

  /** Attach a resized copy of the binary payload (stub codec; see [[MediaCodecs.resize]]).
    * Row-local projection — at scale, resizing runs where the bytes already live.
    */
  def withResized(df: DataFrame, binCol: String, w: Int, h: Int,
      out: String = "resized"): DataFrame = {
    val u = udf((bytes: Array[Byte]) => MediaCodecs.resize(bytes, w, h))
    df.withColumn(out, u(col(binCol)))
  }

  /** The default frame decoder as ONE STABLE function value: videoFrameHashes
    * routes `decoder eq DefaultFrameDecoder` through the fused raster-hash fast
    * path (a per-call eta-expansion of `MediaCodecs.sampleFrames` would defeat the
    * reference check and silently fall back to the slow path).
    */
  val DefaultFrameDecoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] =
    MediaCodecs.sampleFrames

  /** Explode sampled frames: one output row per frame with its index. Partitioning note:
    * frames stay on their source partition (no shuffle) — the explode multiplies rows
    * locally; cap with maxFrames to bound memory per row.
    *
    * `decoder` is the PLUGGABLE frame-extraction hook — the video twin of
    * [[withFeatures]]' embedding hook: a real deployment drops in its ffmpeg/JNI
    * demux+decode as a plain serializable `(bytes, everyNth, maxFrames) => Seq[frame]`
    * without touching graft. The default ([[MediaCodecs.sampleFrames]]) decodes
    * animated GIFs for REAL (the one video-ish format a stock JVM can decode) and
    * falls back to the documented byte-slice stub for codec-bound containers.
    * Decoder contract, same spirit as the extractor hook: total (return Nil, never
    * throw — one uncaught exception inside the UDF kills tasks with retries at
    * corpus scale) and row-local (frames must derive from THIS payload only).
    */
  def explodeFrames(df: DataFrame, binCol: String, everyNth: Int = 10, maxFrames: Int = 16,
      decoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] = DefaultFrameDecoder): DataFrame = {
    val u = udf((bytes: Array[Byte]) => decoder(bytes, everyNth, maxFrames))
    // posexplode_OUTER: rows whose payload yields no frames (null/empty media) keep one
    // output row with null frame columns — a plain posexplode would silently drop them
    // and break count reconciliation in corpus-health audits.
    df.withColumn("_frames", u(col(binCol)))
      .select(col("*"), posexplode_outer(col("_frames")).as(Seq("frame_idx", "frame_bytes")))
      .drop("_frames")
  }

  /** Per-clip sampled-frame perceptual hashes: `(id, frame_idx, frame_hash)` — the
    * clip's visual signature, decoded row-local where the bytes live through the
    * pluggable `decoder` hook (see [[explodeFrames]]). Frames the image decoder
    * cannot hash (the byte-slice stub's raw slices, corrupt rasters) are dropped
    * here — a clip only ever matches on REAL decoded content, so the default stub
    * honestly yields zero recall for codec-bound containers instead of fake pairs
    * on container-header coincidences.
    */
  def videoFrameHashes(df: DataFrame, idCol: String, binCol: String,
      decoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] = DefaultFrameDecoder,
      everyNth: Int = 1, maxFrames: Int = 16): DataFrame = {
    // NO fanOut here, deliberately (round 14): media bytes must never cross an
    // exchange (plan-pinned in MultimodalSpec), and the measured decode cost is
    // ~0.15 s for the whole sf0.1 fixture — parallelism comes from the splittable
    // fixture layout (one file per core), not from shuffling payloads.
    val src = df.filter(col(idCol).isNotNull)
    if (decoder eq DefaultFrameDecoder) {
      // FUSED default route: hash decoded GIF rasters in place (gifFrameHashes) —
      // the unfused route PNG-encodes each raster only for perceptualHash to decode
      // it right back, ~2x the whole hot path. Non-GIF payloads replicate the byte
      // path exactly (stub slices through perceptualHash — a sub-4KiB still image
      // payload hashes as its frame 0 either way). Fused == unfused is spec-pinned
      // across the GIF matrix; stored frame indexes depend on that stability.
      val fh = udf { (bytes: Array[Byte]) =>
        MediaCodecs.gifFrameHashes(bytes, everyNth, maxFrames) match {
          case Some(hs) => hs.zipWithIndex.collect { case (Some(h), i) => (i, h) }
          case None => MediaCodecs.sampleFrames(bytes, everyNth, maxFrames).zipWithIndex
            .flatMap { case (fb, i) => MediaCodecs.perceptualHash(fb).map(h => (i, h)) }
        }
      }
      src
        .select(col(idCol).as("id"), explode(fh(col(binCol))).as("_fh"))
        .select(col("id"), col("_fh._1").as("frame_idx"), col("_fh._2").as("frame_hash"))
    } else {
      val ph = udf((bytes: Array[Byte]) => MediaCodecs.perceptualHash(bytes))
      explodeFrames(src.select(col(idCol), col(binCol)),
        binCol, everyNth, maxFrames, decoder)
        .select(col(idCol).as("id"), col("frame_idx"), ph(col("frame_bytes")).as("frame_hash"))
        .filter(col("frame_hash").isNotNull)
    }
  }

  /** Clip-level pairs from `(id, frame_idx, frame_hash)` rows: banded Hamming over
    * (clip, frame)-keyed hashes, cross-clip only, aggregated to
    * `(id_a, id_b, matching_frames, min_hamming)` with id_a < id_b and
    * `matching_frames >= minMatchingFrames`. ONE implementation for the full and
    * incremental paths (the bandedHammingPairs pattern) — the match contract
    * cannot drift between them. An incremental batch's rows carry the `_new` flag
    * ([[Dedup.withStandingIndex]]), which passes through to the banded join.
    */
  private def clipPairsFromFrameRows(frameHashes: DataFrame, maxHamming: Int,
      minMatchingFrames: Int, maxBucketSize: Int): DataFrame = {
    require(minMatchingFrames >= 1, "minMatchingFrames must be >= 1")
    val frameRows = frameHashes
      .select(Seq(struct(col("id").as("cid"), col("frame_idx").as("fidx")).as("id"),
        col("frame_hash").as("_h64")) ++ frameHashes.columns.filter(_ == "_new").map(col): _*)
    // dedup = false + explicit two-level aggregation (round 15): the rollup only
    // needs DUPLICATE-insensitive facts per (clip pair, A-frame) — min hamming
    // and the count of distinct matched A-frames — so the source now states the
    // efficient shape directly: aggregate to (ca, cb, fa) granularity (the
    // map-side partial absorbs the ≤4x band-collision duplicates), then a plain
    // (ca, cb) rollup where count over the (ca, cb, fa) groups (count(_fa) skips
    // the null group) equals the old countDistinct(_fa). MEASURED (round 15,
    // plans/r15/*video*): Spark 4.1's optimizer was ALREADY rewriting the old
    // distinct + countDistinct+min form into exactly this physical plan
    // (RemoveRedundantAggregates drops the pair distinct under the duplicate-
    // insensitive rollup; RewriteDistinctAggregates plans the single distinct
    // agg without any Expand), so before/after plans are identical and the
    // same-JVM A/B is a wash (ScratchClipRollup, PLANS.md deleted-tools index:
    // old 2.44 vs new 2.29 s min, identical 335,340-row output; the equivalence is
    // pinned in MultimodalSpec's clip rollup differential). Kept explicit so the
    // plan shape is pinned by construction, not by two optimizer rules firing.
    val framePairs = Dedup.bandedHammingPairs(frameRows, maxHamming, maxBucketSize,
      dedup = false)
    // cross-clip only (a clip's own repeated frames are not a duplicate relation).
    // bandedHammingPairs emits id_a < id_b on the (cid, fidx)-LEXICOGRAPHIC structs,
    // so once equal cids are filtered out, id_a.cid < id_b.cid already holds — the
    // lower clip is always side a with no re-normalization.
    framePairs.filter(col("id_a.cid") =!= col("id_b.cid"))
      .select(
        col("id_a.cid").as("_ca"),
        col("id_b.cid").as("_cb"),
        col("id_a.fidx").as("_fa"),
        col("hamming"))
      .groupBy(col("_ca"), col("_cb"), col("_fa"))
      .agg(min(col("hamming")).as("_mh"))
      .groupBy(col("_ca"), col("_cb"))
      .agg(count(col("_fa")).as("matching_frames"),
        min(col("_mh")).as("min_hamming"))
      .filter(col("matching_frames") >= minMatchingFrames)
      .select(col("_ca").as("id_a"), col("_cb").as("id_b"),
        col("matching_frames"), col("min_hamming"))
  }

  /** Video near-duplicate PAIRS: two clips pair when at least `minMatchingFrames` of
    * clip A's sampled frames each have a Hamming-≤`maxHamming` match among clip B's
    * frames. Frame matching rides the shared banded-Hamming machinery over
    * per-frame aHashes keyed by (clip, frame) — so like the image/audio families,
    * the only rows that shuffle are ~16-byte hash rows; clip BYTES never leave the
    * scan, and the oversized-band guard caps boilerplate piles (black frames, title
    * cards) before the self-join can go quadratic. `minMatchingFrames` ≥ 2 is the
    * coincidence guard a single shared frame (a standard intro card) would defeat.
    *
    * Output: `(id_a, id_b, matching_frames, min_hamming)` with id_a < id_b.
    */
  def nearDupPairsVideo(df: DataFrame, idCol: String, binCol: String,
      decoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] = DefaultFrameDecoder,
      everyNth: Int = 1, maxFrames: Int = 16, maxHamming: Int = 3,
      minMatchingFrames: Int = 2, maxBucketSize: Int = 10000): DataFrame =
    clipPairsFromFrameRows(
      videoFrameHashes(df, idCol, binCol, decoder, everyNth, maxFrames),
      maxHamming, minMatchingFrames, maxBucketSize)

  /** Persistable video frame-hash index: one `(id, frame_idx, frame_hash)` row per
    * hashable sampled frame — the video analog of [[imageHashIndex]]'s
    * store-don't-recompute contract (~20 B per frame, vs re-decoding the clip). A
    * standing pipeline stores this and each incoming batch decodes only ITS OWN
    * frames. Parameters (decoder, everyNth, maxFrames) must match between index
    * build and every incremental batch — the caller owns that contract, same as
    * [[graft.operators.Dedup.minhashIndex]].
    */
  def videoFrameHashIndex(df: DataFrame, idCol: String, binCol: String,
      decoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] = DefaultFrameDecoder,
      everyNth: Int = 1, maxFrames: Int = 16): DataFrame =
    videoFrameHashes(df, idCol, binCol, decoder, everyNth, maxFrames)

  /** Video near-dup pairs for an incremental batch against a stored
    * [[videoFrameHashIndex]]: same contract as [[incrementalImagePairs]] — new×new
    * and new×old clip pairs only (old×old frame pairs are gated out INSIDE the
    * shared banded join, so no old×old clip pair can reach the aggregation), the
    * index side never re-decodes frames, ids unique across batches.
    */
  def incrementalVideoPairs(newClips: DataFrame, index: DataFrame,
      idCol: String, binCol: String,
      decoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] = DefaultFrameDecoder,
      everyNth: Int = 1, maxFrames: Int = 16, maxHamming: Int = 3,
      minMatchingFrames: Int = 2, maxBucketSize: Int = 10000): DataFrame = {
    require(Seq("id", "frame_idx", "frame_hash").forall(index.columns.contains),
      s"index must have (id, frame_idx, frame_hash) columns, got ${index.columns.mkString(", ")}")
    val all = Dedup.withStandingIndex(
      videoFrameHashes(newClips, idCol, binCol, decoder, everyNth, maxFrames),
      index.filter(col("frame_hash").isNotNull))
    clipPairsFromFrameRows(all, maxHamming, minMatchingFrames, maxBucketSize)
  }

  /** Video dedup: keep-lowest-id survivors of [[nearDupPairsVideo]] (the family's
    * convention); clips yielding no hashable frames always survive — they were
    * never compared.
    */
  def dedupVideos(df: DataFrame, idCol: String, binCol: String,
      decoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] = DefaultFrameDecoder,
      everyNth: Int = 1, maxFrames: Int = 16, maxHamming: Int = 3,
      minMatchingFrames: Int = 2, maxBucketSize: Int = 10000): DataFrame = {
    val dropped = nearDupPairsVideo(df, idCol, binCol, decoder, everyNth, maxFrames,
      maxHamming, minMatchingFrames, maxBucketSize)
      .select(col("id_b").as("_drop")).distinct()
    df.join(dropped, col(idCol) === col("_drop"), "left_anti")
  }

  /** Batched per-partition processing surface: the Scala analog of mapInPandas —
    * callers get an iterator of rows per partition and return transformed rows, with
    * explicit output schema. Used for codec work that benefits from batch reuse
    * (shared decoder instances per partition).
    */
  def mapPartitionsWithSchema(df: DataFrame, outSchema: StructType)(
      f: Iterator[Row] => Iterator[Row]): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions(f)(enc)
  }

  /** Visual near-duplicate PAIRS over a binary image column: perceptual aHash per
    * image (row-local decode where the bytes live — the only pass that touches
    * pixels), then the shared banded-Hamming machinery ([[Dedup.nearDupPairsSimhash]]'s
    * back half): 4×16-bit bands, bucket equi-join, codegen'd `bit_count` verify.
    * Full recall for Hamming ≤ 3 (pigeonhole over 4 bands). Rows whose payload is
    * not a decodable image (NULL hash) never pair — a shared sentinel hash would
    * make every broken image a "duplicate" of every other.
    *
    * 100 TB shape: image BYTES never shuffle — only (band, bits, id, hash) rows do;
    * the oversized-band guard drops monochrome/boilerplate piles before the
    * self-join can go quadratic.
    */
  def nearDupPairsImage(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be non-negative")
    val hashed = withImageHash(df, binCol, "_h64")
      .filter(col("_h64").isNotNull)
      .select(col(idCol).as("id"), col("_h64"))
    Dedup.bandedHammingPairs(hashed, maxHamming, maxBucketSize)
  }

  /** Visual dedup: drop the HIGHER id of every near-dup image pair (keep-lowest,
    * the text family's convention); undecodable rows always survive (they were
    * never compared). Returns the surviving rows of `df`.
    */
  def dedupImages(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val dropped = nearDupPairsImage(df, idCol, binCol, maxHamming, maxBucketSize)
      .select(col("id_b").as("_drop")).distinct()
    df.join(dropped, col(idCol) === col("_drop"), "left_anti")
  }

  /** Attach the 64-bit perceptual AUDIO hash (NULL for non-PCM/silent clips). */
  def withAudioHash(df: DataFrame, binCol: String, out: String = "audio_hash"): DataFrame = {
    val u = udf((bytes: Array[Byte]) => MediaCodecs.audioHash(bytes))
    df.withColumn(out, u(col(binCol)))
  }

  /** Attach the per-window RMS envelope (`Array[Double]`, NULL for non-PCM). */
  def withAudioEnvelope(df: DataFrame, binCol: String, windows: Int = 64,
      out: String = "envelope"): DataFrame = {
    val u = udf((bytes: Array[Byte]) => MediaCodecs.wavEnvelope(bytes, windows))
    df.withColumn(out, u(col(binCol)))
  }

  /** Audio near-duplicate PAIRS: perceptual loudness-envelope hash per clip
    * (row-local PCM pass where the bytes live), then the shared banded-Hamming
    * machinery — same shape, guards, and full-recall-≤-3-bits contract as
    * [[nearDupPairsImage]]. Undecodable/silent clips never pair.
    */
  def nearDupPairsAudio(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val hashed = withAudioHash(df, binCol, "_h64")
      .filter(col("_h64").isNotNull)
      .select(col(idCol).as("id"), col("_h64"))
    Dedup.bandedHammingPairs(hashed, maxHamming, maxBucketSize)
  }

  /** Audio dedup: keep-lowest-id survivors of [[nearDupPairsAudio]]; undecodable
    * clips always survive.
    */
  def dedupAudio(df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val dropped = nearDupPairsAudio(df, idCol, binCol, maxHamming, maxBucketSize)
      .select(col("id_b").as("_drop")).distinct()
    df.join(dropped, col(idCol) === col("_drop"), "left_anti")
  }

  /** Persistable image-hash index: one `(id, image_hash)` row per DECODABLE image —
    * the visual analog of [[Dedup.minhashIndex]]'s store-don't-recompute contract.
    * A standing ingestion pipeline stores this (8 bytes + id per image) and each
    * incoming batch decodes only ITS OWN pixels.
    */
  def imageHashIndex(df: DataFrame, idCol: String, binCol: String): DataFrame =
    withImageHash(df, binCol, "image_hash")
      .filter(col("image_hash").isNotNull)
      .select(col(idCol).as("id"), col("image_hash"))

  /** Near-dup image pairs for an incremental batch: pairs among `newImages` plus
    * pairs between `newImages` and the standing corpus represented by `index` (from
    * [[imageHashIndex]]). Old×old pairs are deliberately absent — previous runs
    * emitted them (the [[Dedup.incrementalMinhashCandidates]] contract; ids must be
    * unique ACROSS batches). The index side never re-decodes: its 16-byte
    * (id, hash) rows band straight into the bucket join, and the combined-bucket
    * `maxBucketSize` guard caps any boilerplate pile regardless of which side
    * fills it. Unlike the MinHash path there is no separate verify stage — the
    * Hamming check IS exact on the banded join.
    */
  def incrementalImagePairs(newImages: DataFrame, index: DataFrame,
      idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    require(Seq("id", "image_hash").forall(index.columns.contains),
      s"index must have (id, image_hash) columns, got ${index.columns.mkString(", ")}")
    val all = Dedup.withStandingIndex(imageHashIndex(newImages, idCol, binCol),
        index.filter(col("image_hash").isNotNull))
      .select(col("id"), col("image_hash").as("_h64"), col("_new"))
    Dedup.bandedHammingPairs(all, maxHamming, maxBucketSize)
  }

  /** Persistable audio-hash index: one `(id, audio_hash)` row per clip with a
    * fingerprint (decodable PCM, non-flat envelope) — the audio analog of
    * [[imageHashIndex]]. A standing pipeline stores this (8 bytes + id per clip)
    * and each incoming batch decodes only ITS OWN samples.
    */
  def audioHashIndex(df: DataFrame, idCol: String, binCol: String): DataFrame =
    withAudioHash(df, binCol, "audio_hash")
      .filter(col("audio_hash").isNotNull)
      .select(col(idCol).as("id"), col("audio_hash"))

  /** Near-dup audio pairs for an incremental batch against a stored
    * [[audioHashIndex]]: same contract as [[incrementalImagePairs]] — new×new and
    * new×old pairs only, the index side never re-decodes PCM, ids unique across
    * batches, exact Hamming on the banded join.
    */
  def incrementalAudioPairs(newClips: DataFrame, index: DataFrame,
      idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    require(Seq("id", "audio_hash").forall(index.columns.contains),
      s"index must have (id, audio_hash) columns, got ${index.columns.mkString(", ")}")
    val all = Dedup.withStandingIndex(audioHashIndex(newClips, idCol, binCol),
        index.filter(col("audio_hash").isNotNull))
      .select(col("id"), col("audio_hash").as("_h64"), col("_new"))
    Dedup.bandedHammingPairs(all, maxHamming, maxBucketSize)
  }

  /** Media-size/format stats for a binary column — a typical corpus health check.
    * `total_duration_ms` sums WAV/MP4/MKV/AVI/animated-GIF durations (NULL for
    * formats that carry none — a corpus of still images reports NULL time, not a
    * fake 0).
    */
  def mediaStats(df: DataFrame, binCol: String): DataFrame =
    withMediaMeta(df, binCol)
      .groupBy(col("media_meta.format").as("format"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("media_meta.size_bytes")).as("total_bytes"),
        round(avg(col("media_meta.width")), 2).as("avg_width"),
        sum(col("media_meta.duration_ms")).as("total_duration_ms"))
      .orderBy(col("format"))
}
