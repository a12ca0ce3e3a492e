package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaCodecs
import org.apache.spark.sql.functions._

/** Real-codec verification: the checked-in fixtures under src/test/resources/media/
  * were written once by MakeMediaFixtures and their headers independently verified
  * byte-level (PNG BE u32 at 16/20, BMP LE i32 at 18/22, GIF LE u16 at 6/8, JPEG SOF0
  * scan, WAV fmt/data chunk walk) — pinning decode against CHECKED-IN bytes means a
  * decoder bug cannot hide behind a matching encoder bug.
  */
class MultimodalSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/media/$name")
    require(in != null, s"missing test fixture /media/$name")
    try in.readAllBytes() finally in.close()
  }

  /** True when any shuffle exchange in `df`'s physical plan CARRIES `colName` (child
    * output attributes, not the rendered plan text — Exchange lines print only
    * partitioning keys, so a string scan is vacuously green for carried columns).
    * AQE is disabled for the planning so exchanges appear as plain
    * ShuffleExchangeExec nodes instead of opaque query stages; also asserts the plan
    * HAS exchanges, so a traversal that stops seeing them fails loudly.
    */
  private def shuffleCarries(df: => org.apache.spark.sql.DataFrame,
      colName: String): Boolean = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "plan traversal found no shuffle exchanges — " +
        "the no-binary-shuffle guard would be vacuous")
      exchanges.exists(_.child.output.exists(_.name == colName))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("decodeMeta reads real dimensions from checked-in PNG/JPEG/GIF/BMP fixtures") {
    for (fmt <- Seq("png", "jpeg", "gif", "bmp")) {
      val m = MediaCodecs.decodeMeta(fixture(s"tiny_7x5.$fmt"))
      assert(m.format == fmt, s"$fmt sniff: ${m.format}")
      assert(m.width.contains(7) && m.height.contains(5), s"$fmt dims: ${m.width}x${m.height}")
      assert(m.duration_ms.isEmpty && m.size_bytes > 0)
    }
  }

  test("decodeMeta reads real WAV duration from the checked-in fixture; chunk walk is robust") {
    val wav = fixture("tone_500ms.wav")
    val m = MediaCodecs.decodeMeta(wav)
    assert(m.format == "wav" && m.duration_ms.contains(500L) && m.width.isEmpty)
    // Chunk reordering: an extra chunk BEFORE fmt/data must not derail the walk.
    val extra = java.nio.ByteBuffer.allocate(wav.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(wav, 0, 12)
    extra.put("LIST".getBytes("ISO-8859-1")).putInt(4).put("INFO".getBytes("ISO-8859-1"))
    extra.put(wav, 12, wav.length - 12)
    val reordered = extra.array()
    // patch the RIFF size field at offset 4 (+12 for the inserted chunk) so the
    // fixture is well-formed for any parser that validates it
    val riffSize = java.nio.ByteBuffer.wrap(reordered, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.nio.ByteBuffer.wrap(reordered, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(riffSize + 12)
    assert(MediaCodecs.wavDurationMs(reordered).contains(500L))
    // Truncated/corrupt: recognized format, NULL duration — never a fake number.
    assert(MediaCodecs.decodeMeta(wav.take(20)).duration_ms.isEmpty)
    val hostile = wav.clone()
    // corrupt the data-chunk size to a negative i32
    hostile(40) = 0xff.toByte; hostile(41) = 0xff.toByte
    hostile(42) = 0xff.toByte; hostile(43) = 0xff.toByte
    assert(MediaCodecs.wavDurationMs(hostile).isEmpty)
  }

  test("decodeMeta reads real MP4/MKV/AVI container metadata from checked-in fixtures") {
    for (fmt <- Seq("mp4", "mkv", "avi")) {
      val m = MediaCodecs.decodeMeta(fixture(s"tiny_320x180_2500ms.$fmt"))
      assert(m.format == fmt, s"$fmt sniff: ${m.format}")
      assert(m.width.contains(320) && m.height.contains(180), s"$fmt dims: ${m.width}x${m.height}")
      assert(m.duration_ms.contains(2500L), s"$fmt duration: ${m.duration_ms}")
    }
    // truncated/corrupt trees: recognized format, NULL fields — never fake numbers
    for (fmt <- Seq("mp4", "mkv", "avi")) {
      val full = fixture(s"tiny_320x180_2500ms.$fmt")
      val m = MediaCodecs.decodeMeta(full.take(24))
      assert(m.format == fmt && m.duration_ms.isEmpty && m.width.isEmpty,
        s"truncated $fmt: $m")
    }
    val mp4 = fixture("tiny_320x180_2500ms.mp4")
    assert(MediaCodecs.mp4Meta(mp4) == (Some(2500L), Some((320, 180))))
    // box claiming to run past EOF is corrupt
    val bad = mp4.clone()
    bad(20) = 0x7f.toByte // inflate moov size
    assert(MediaCodecs.mp4Meta(bad) == (None, None))
    // 64-bit LARGESIZE path: rewrite the fixture's ftyp as size==1 + largesize
    val bb = java.nio.ByteBuffer.allocate(mp4.length + 8)
    bb.putInt(1).put("ftyp".getBytes("ISO-8859-1")).putLong(28L) // 20 + 8 extra
    bb.put(mp4, 8, 12) // original ftyp payload
    bb.put(mp4, 20, mp4.length - 20) // moov unchanged
    assert(MediaCodecs.mp4Meta(bb.array()) == (Some(2500L), Some((320, 180))),
      "largesize box must parse")
    // hostile largesize near Long.MaxValue must yield (None, None), not wrap the
    // bound check and crash on a negative offset
    val evil = bb.array().clone()
    java.nio.ByteBuffer.wrap(evil, 8, 8).putLong(0x7FFFFFFFFFFFFFF0L)
    assert(MediaCodecs.mp4Meta(evil) == (None, None))
    // v1 mvhd (64-bit times): synthesize by patching version + re-laying the fields
    val v1 = {
      val b = java.nio.ByteBuffer.allocate(mp4.length + 12) // mvhd payload +12
      b.put(mp4, 0, 20) // ftyp
      b.putInt(java.nio.ByteBuffer.wrap(mp4, 20, 4).getInt + 12).put(mp4, 24, 4) // moov
      b.putInt(120).put(mp4, 32, 4) // mvhd size 108 -> 120
      b.putInt(0x01000000) // version 1
      b.putLong(0L).putLong(0L) // 64-bit creation/modification
      b.putInt(1000).putLong(2500L) // timescale + 64-bit duration
      b.put(mp4, 56, mp4.length - 56) // rate onward + trak unchanged
      b.array()
    }
    assert(MediaCodecs.mp4Meta(v1) == (Some(2500L), Some((320, 180))), "v1 mvhd must parse")
    // header-only mvhd box at EOF: all size checks pass, payload is EMPTY — must
    // be (None, None), not a version-byte read past the buffer
    val headerOnly = mp4.take(20) ++ Array[Byte](0, 0, 0, 8) ++ "mvhd".getBytes("ISO-8859-1")
    assert(MediaCodecs.mp4Meta(headerOnly) == (None, None))
    // WebM = Matroska with DocType "webm": sniffed apart, parsed identically
    val webm = MediaCodecs.encodeMkvMeta(2500L, 320, 180, docType = "webm")
    assert(MediaCodecs.sniffFormat(webm) == "webm")
    val wm = MediaCodecs.decodeMeta(webm)
    assert(wm.format == "webm" && wm.width.contains(320) && wm.duration_ms.contains(2500L))
    // spec-legal NON-MINIMAL size vint: DocType size coded in 2 bytes (0x40 0x04)
    // must still sniff as webm, not fall back to mkv
    val wideVint = Array(0x1A, 0x45, 0xDF, 0xA3, 0x42, 0x82, 0x40, 0x04)
      .map(_.toByte) ++ "webm".getBytes("ISO-8859-1")
    assert(MediaCodecs.sniffFormat(wideVint) == "webm", "2-byte size vint DocType")
    // AVI avih with both u32 fields maxed: frames*usPerFrame wraps Long — duration
    // must be None, never a fake negative number
    val avi = fixture("tiny_320x180_2500ms.avi")
    val hostileAvi = avi.clone()
    for (off <- (32 to 35) ++ (48 to 51)) hostileAvi(off) = 0xff.toByte
    val (hd, _) = MediaCodecs.aviMeta(hostileAvi)
    assert(hd.isEmpty, s"overflowed avih duration must be None, got $hd")
  }

  test("FLAC/MP3/Ogg audio metadata parses for real; corrupt payloads yield None") {
    // FLAC: STREAMINFO total-samples ÷ rate, exact round-trip at 8 kHz
    val flac = MediaCodecs.encodeFlacMeta(2500L)
    assert(MediaCodecs.sniffFormat(flac) == "flac")
    assert(MediaCodecs.flacMeta(flac).contains(2500L))
    assert(MediaCodecs.decodeMeta(flac).duration_ms.contains(2500L))
    assert(MediaCodecs.flacMeta(MediaCodecs.encodeFlacMeta(0L)).isEmpty,
      "unknown total (0) must be None, not 0ms")
    assert(MediaCodecs.flacMeta(flac.take(20)).isEmpty, "truncated STREAMINFO")
    val badLen = flac.clone(); badLen(7) = 0x7f.toByte // block runs past EOF
    assert(MediaCodecs.flacMeta(badLen).isEmpty)
    // 36-bit total-samples path: 600M ms at 8 kHz = 4.8B samples crosses 2^32,
    // exercising the high nibble shared with the bps field
    assert(MediaCodecs.flacMeta(MediaCodecs.encodeFlacMeta(600000000L)).contains(600000000L))

    // MP3: frame-header walk — 72 ms per MPEG-2.5 Layer III frame at 8 kHz/8 kbps
    val mp3 = MediaCodecs.encodeMp3Cbr(25)
    assert(MediaCodecs.sniffFormat(mp3) == "mp3")
    assert(MediaCodecs.mp3Meta(mp3).contains(1800L), s"got ${MediaCodecs.mp3Meta(mp3)}")
    // ID3v2-prefixed: sniffed by tag, duration unchanged (synchsafe skip)
    val tagged = MediaCodecs.encodeMp3Cbr(25, id3Pad = 300)
    assert(MediaCodecs.sniffFormat(tagged) == "mp3")
    assert(MediaCodecs.mp3Meta(tagged).contains(1800L))
    // trailing junk (an ID3v1 "TAG" block): walk stops cleanly, duration stands
    assert(MediaCodecs.mp3Meta(mp3 ++ ("TAG" + "x" * 125).getBytes("ISO-8859-1"))
      .contains(1800L))
    // a truncated final frame is dropped, not fabricated
    assert(MediaCodecs.mp3Meta(mp3.dropRight(10)).contains(1728L))
    // an ID3 tag with nothing behind it is NOT an mp3 (nor is "ID3..." text)
    assert(MediaCodecs.sniffFormat(tagged.take(310)) == "bin")
    assert(MediaCodecs.mp3Meta(tagged.take(310)).isEmpty)
    assert(MediaCodecs.sniffFormat("ID3 is a tag format".getBytes("ISO-8859-1")) == "bin")
    // ID3v2.4 footer flag: 10 extra bytes after the size-counted body
    val footered = {
      val hdr = Array[Byte]('I', 'D', '3', 4, 0, 0x10, 0, 0, 0, 40)
      val foot = Array[Byte]('3', 'D', 'I', 4, 0, 0x10, 0, 0, 0, 40)
      hdr ++ new Array[Byte](40) ++ foot ++ mp3
    }
    assert(MediaCodecs.sniffFormat(footered) == "mp3")
    assert(MediaCodecs.mp3Meta(footered).contains(1800L), "footer flag must skip 10 more")
    // a Xing/Info VBR header frame is syntactically valid but carries no audio:
    // MPEG-2.5 mono side info is 9 bytes, so the tag sits at frame offset 13
    val vbr = MediaCodecs.encodeMp3Cbr(25)
    "Xing".getBytes("ISO-8859-1").copyToArray(vbr, 13)
    assert(MediaCodecs.mp3Meta(vbr).contains(1728L), s"got ${MediaCodecs.mp3Meta(vbr)}")
    // ID3-tagged FLAC (common in the wild): sniffs flac, duration parses
    val taggedFlac = {
      val hdr = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 20)
      hdr ++ new Array[Byte](20) ++ MediaCodecs.encodeFlacMeta(2500L)
    }
    assert(MediaCodecs.sniffFormat(taggedFlac) == "flac")
    assert(MediaCodecs.flacMeta(taggedFlac).contains(2500L))
    // stacked ID3v2 tags (taggers prepend over old tags) + padding junk before
    // the first frame: sniff resyncs, duration unaffected
    val tag = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 30) ++ new Array[Byte](30)
    val stacked = tag ++ tag ++ new Array[Byte](100) ++ mp3
    assert(MediaCodecs.sniffFormat(stacked) == "mp3")
    assert(MediaCodecs.mp3Meta(stacked).contains(1800L), "stacked tags + junk resync")
    assert(MediaCodecs.sniffFormat(tag ++ tag ++ MediaCodecs.encodeFlacMeta(9L)) == "flac")
    // v2.3 tag with a STRAY footer flag bit (footer exists only in v2.4): no
    // phantom 10-byte skip — the frame right behind the tag must still be found
    val strayFlag = {
      val h = Array[Byte]('I', 'D', '3', 3, 0, 0x10, 0, 0, 0, 8)
      h ++ new Array[Byte](8) ++ mp3
    }
    assert(MediaCodecs.sniffFormat(strayFlag) == "mp3")
    assert(MediaCodecs.mp3Meta(strayFlag).contains(1800L))
    // a clean single-frame file (frame ends exactly at EOF) is still an mp3
    val oneFrame = MediaCodecs.encodeMp3Cbr(1)
    assert(MediaCodecs.sniffFormat(oneFrame) == "mp3")
    assert(MediaCodecs.mp3Meta(oneFrame).contains(72L))
    // a LONE sync-pattern in junk behind a tag must NOT fabricate an mp3: the
    // next "frame" fails the double-sync rule (random bytes sync-match ~1/16k,
    // so a 2 KiB resync window without this rule misclassifies ~12% of blobs)
    val falseSync = tag ++ Array(0xFF.toByte, 0xE3.toByte, 0x18.toByte, 0xC0.toByte) ++
      new Array[Byte](200)
    assert(MediaCodecs.sniffFormat(falseSync) == "bin")
    assert(MediaCodecs.mp3Meta(falseSync).isEmpty)
    // a tag claiming to run past EOF (partial download): nothing behind it is
    // scannable — sync-looking bytes INSIDE the tag payload must not match
    val truncTag = {
      val h = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 7, 0) // claims 896 bytes
      h ++ MediaCodecs.encodeMp3Cbr(3) // only 216 present, looks frame-y
    }
    assert(MediaCodecs.sniffFormat(truncTag) == "bin")
    assert(MediaCodecs.mp3Meta(truncTag).isEmpty)
    // CRC-protected Xing frame: 2-byte CRC shifts the tag past the side info
    val crcVbr = MediaCodecs.encodeMp3Cbr(25)
    crcVbr(1) = 0xE2.toByte // protection_bit 0 = CRC present
    "Xing".getBytes("ISO-8859-1").copyToArray(crcVbr, 15) // 4 hdr + 2 crc + 9 side
    assert(MediaCodecs.mp3Meta(crcVbr).contains(1728L),
      s"got ${MediaCodecs.mp3Meta(crcVbr)}")

    // Ogg: last-page granule ÷ ident rate; Vorbis exact at 8 kHz, Opus at 48 kHz
    val ogg = MediaCodecs.encodeOggMeta(2500L)
    assert(MediaCodecs.sniffFormat(ogg) == "ogg")
    assert(MediaCodecs.oggMeta(ogg).contains(2500L))
    assert(MediaCodecs.decodeMeta(ogg).duration_ms.contains(2500L))
    val opus = MediaCodecs.encodeOggMeta(2500L, opus = true)
    assert(MediaCodecs.oggMeta(opus).contains(2500L))
    // unknown codec ident: no honest duration
    val alien = ogg.clone()
    alien(29) = 'x'.toByte // corrupt "vorbis" magic inside the ident packet
    assert(MediaCodecs.oggMeta(alien).isEmpty)
    // corrupt lacing claiming payload past EOF
    assert(MediaCodecs.oggMeta(ogg.dropRight(1)).isEmpty)
  }

  test("animated GIF frames decode for real; frame sampling is exact") {
    val gif = fixture("anim_9x7_3f.gif")
    // every frame: real PNG re-encode at source dims
    val all = MediaCodecs.gifFrames(gif, everyNth = 1, maxFrames = 16).get
    assert(all.size == 3, s"expected 3 stored frames, got ${all.size}")
    all.foreach { f =>
      val m = MediaCodecs.decodeMeta(f)
      assert(m.format == "png" && m.width.contains(9) && m.height.contains(7), s"frame: $m")
    }
    // frames differ (distinct noise per frame index)
    assert(all.map(_.toSeq).distinct.size == 3, "frames must be visually distinct")
    // every-2nd, capped: indices 0 and 2
    assert(MediaCodecs.gifFrames(gif, everyNth = 2, maxFrames = 16).get.size == 2)
    assert(MediaCodecs.gifFrames(gif, everyNth = 1, maxFrames = 2).get.size == 2)
    // REAL GIF timing: 3 frames x 25 cs = 750 ms, parsed from the GCE block walk
    val timed = fixture("anim_9x7_3f_25cs.gif")
    assert(MediaCodecs.gifDurationMs(timed).contains(750L),
      s"got ${MediaCodecs.gifDurationMs(timed)}")
    assert(MediaCodecs.decodeMeta(timed).duration_ms.contains(750L))
    // zero-delay animation still carries GCEs: duration 0, not None
    assert(MediaCodecs.gifDurationMs(gif).contains(0L))
    // truncated stream: no trailer reached, no fake duration
    assert(MediaCodecs.gifDurationMs(timed.dropRight(2)).isEmpty)
    // hostile image descriptor claiming 65535x65535: the header-dims cap must
    // reject it BEFORE pixel decode (an uncapped read would allocate a multi-GB
    // raster and die with OutOfMemoryError, which NonFatal never catches)
    val giant = gif.clone()
    val desc = giant.indices.find { i =>
      i + 8 < giant.length && giant(i) == 0x2C.toByte &&
        (giant(i + 5) & 0xff | (giant(i + 6) & 0xff) << 8) == 9 &&
        (giant(i + 7) & 0xff | (giant(i + 8) & 0xff) << 8) == 7
    }.get
    for (off <- (desc + 5) to (desc + 8)) giant(off) = 0xff.toByte
    assert(MediaCodecs.gifFrames(giant, 1, 4).isEmpty, "giant-dims GIF must be None")
    assert(MediaCodecs.perceptualHash(giant).isEmpty, "giant-dims aHash must be None")
    // non-GIF payloads route to the documented byte-slice stub, not a crash
    assert(MediaCodecs.gifFrames("nope".getBytes, 1, 4).isEmpty)
    assert(MediaCodecs.sampleFrames(fixture("tone_500ms.wav"), 1, 2).size == 1,
      "sub-4KiB non-GIF payload slices to one stub frame")
    // explodeFrames over a real GIF: one row per decoded frame, index preserved
    import spark.implicits._
    val df = Seq((1L, gif), (2L, null.asInstanceOf[Array[Byte]])).toDF("id", "vid")
    val rows = Multimodal.explodeFrames(df, "vid", everyNth = 1, maxFrames = 16)
      .select("id", "frame_idx").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).sorted
    assert(rows.toSeq == Seq((1L, 0), (1L, 1), (1L, 2), (2L, -1)), s"got ${rows.toSeq}")
  }

  test("withFeatures: pluggable extractor drives ANN + semdedup end-to-end; contract enforced") {
    import spark.implicits._
    // a REAL (if trivial) encoder: mean byte + length features, L2-normalized —
    // stands in for a user's ONNX/JNI model, exercising the hook end-to-end
    val custom = (bytes: Array[Byte], dim: Int) => {
      if (bytes == null || bytes.isEmpty) null
      else {
        val out = new Array[Float](dim)
        var i = 0
        while (i < bytes.length) { out(i % dim) += (bytes(i) & 0xff) / 255.0f; i += 1 }
        val norm = math.sqrt(out.map(v => v.toDouble * v).sum).toFloat
        if (norm == 0f) null else out.map(_ / norm)
      }
    }
    val rows = Seq(
      (1L, Array.fill(64)(10.toByte)),
      (2L, Array.fill(64)(10.toByte)),          // identical content => identical embedding
      (3L, Array.tabulate(64)(i => (i * 7).toByte)),
      (4L, null.asInstanceOf[Array[Byte]]))     // must yield NULL, not zero-vector
    val df = rows.toDF("id", "bytes")
    val feats = Multimodal.withFeatures(df, "bytes", dim = 8, extractor = custom)
    val got = feats.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(got(4L).isEmpty, "null payload must give NULL features")
    assert(got(1L) == got(2L) && got(1L).nonEmpty)
    // through ANN: with doc 1's embedding as the probe, doc 2 scores cosine 1
    val emb = feats.filter(col("features").isNotNull)
      .select(col("id").as("vec_id"), col("features").as("emb"))
    val probe = emb.filter(col("vec_id") === 1L).head().getSeq[Float](1)
    val topk = graft.operators.Similarity
      .bruteForceTopK(emb.filter(col("vec_id") =!= 1L), "vec_id", "emb", probe, k = 2)
      .collect()
    assert(topk.head.getLong(0) == 2L && math.abs(topk.head.getDouble(1) - 1.0) < 1e-6,
      s"got ${topk.toSeq}")
    // through semdedup: identical embeddings collapse (one centroid cell)
    val sem = graft.operators.Similarity.semDedup(emb, "vec_id", "emb",
      centroids = Seq(probe.map(_.toFloat)), threshold = 0.999)
    assert(sem.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // contract enforcement: wrong dim fails IN THE TASK, loudly
    val badLen = (_: Array[Byte], _: Int) => Array(1f, 2f)
    val e = intercept[Exception] {
      Multimodal.withFeatures(df, "bytes", dim = 8, extractor = badLen).collect()
    }
    def chain(t: Throwable): String = {
      var c = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(chain(e).contains("expected 8"), chain(e))
  }

  test("corrupt image headers keep the sniffed format with NULL dims, not fake numbers") {
    val fakePng = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte) ++
      Array.fill(64)(7.toByte)
    val m = MediaCodecs.decodeMeta(fakePng)
    assert(m.format == "png" && m.width.isEmpty && m.height.isEmpty)
    assert(MediaCodecs.decodeMeta(null).format == "null")
    assert(MediaCodecs.decodeMeta(Array.emptyByteArray).format == "empty")
    assert(MediaCodecs.decodeMeta("just text".getBytes).format == "bin")
  }

  test("resize really rescales: decoded output dims equal the target in every format") {
    for (fmt <- Seq("png", "jpeg", "gif", "bmp")) {
      val out = MediaCodecs.resize(fixture(s"tiny_7x5.$fmt"), 13, 11)
      val m = MediaCodecs.decodeMeta(out)
      assert(m.format == fmt, s"$fmt re-encode sniff: ${m.format}")
      assert(m.width.contains(13) && m.height.contains(11), s"$fmt resized dims: ${m.width}x${m.height}")
    }
    intercept[IllegalArgumentException](MediaCodecs.resize(fixture("tiny_7x5.png"), 0, 4))
  }

  test("perceptual aHash: stable across lossless formats, near under jpeg, far for distinct content") {
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // Use a larger image so 8x8 pooling has real structure.
    val base = MediaCodecs.encodeImage(64, 64, "png", seed = 7L)
    val hPng = MediaCodecs.perceptualHash(base).get
    val hBmp = MediaCodecs.perceptualHash(MediaCodecs.encodeImage(64, 64, "bmp", seed = 7L)).get
    assert(hPng == hBmp, "identical pixels in two lossless containers must hash identically")
    // jpeg is lossy: same content lands within a few bits, never far
    val hJpg = MediaCodecs.perceptualHash(MediaCodecs.encodeImage(64, 64, "jpeg", seed = 7L)).get
    assert(ham(hPng, hJpg) <= 10, s"jpeg drifted ${ham(hPng, hJpg)} bits")
    // different content is far
    val hOther = MediaCodecs.perceptualHash(MediaCodecs.encodeImage(64, 64, "png", seed = 1234L)).get
    assert(ham(hPng, hOther) > 10, s"distinct content only ${ham(hPng, hOther)} bits apart")
    // a resized copy keeps a close hash (scale invariance is the point of pooling)
    val hSmall = MediaCodecs.perceptualHash(MediaCodecs.resize(base, 32, 32)).get
    assert(ham(hPng, hSmall) <= 12, s"resize drifted ${ham(hPng, hSmall)} bits")
    assert(MediaCodecs.perceptualHash("not an image".getBytes).isEmpty)
    // Zero-contrast guard: every FLAT image thresholds to the same all-zeros mask,
    // so solid black and solid white would "match" at Hamming 0 — featureless
    // content must have NO fingerprint instead.
    def flat(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(MediaCodecs.perceptualHash(flat(0x000000)).isEmpty)
    assert(MediaCodecs.perceptualHash(flat(0xffffff)).isEmpty)
    // stub resample path: a huge non-image target must hit the 16 MiB cap, not wrap
    // Int arithmetic into a tiny buffer
    val big = MediaCodecs.resize("not an image".getBytes, 65536, 65536)
    assert(big.length == 16 * 1024 * 1024, s"expected the cap, got ${big.length}")
  }

  test("image near-dup: lossless twins pair at Hamming 0, noise stays apart, broken rows survive") {
    import spark.implicits._
    val noise = (s: Long, fmt: String) => MediaCodecs.encodeNoiseImage(24, 16, fmt, s)
    val rows = Seq(
      (1L, noise(7L, "png")),
      (2L, noise(7L, "png")),  // exact byte copy of 1
      (3L, noise(7L, "bmp")),  // same pixels, different lossless container
      (4L, noise(8L, "png")),  // distinct content (min cross-seed hamming ~20)
      (5L, noise(9L, "png")),
      (6L, null.asInstanceOf[Array[Byte]]),
      (7L, "not an image at all".getBytes))
    val df = rows.toDF("id", "img").repartition(3)
    val pairs = Multimodal.nearDupPairsImage(df, "id", "img", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(pairs.toSeq == Seq((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)),
      s"expected exactly the seed-7 trio at Hamming 0, got ${pairs.toSeq}")
    // keep-lowest dedup: 2 and 3 drop; broken/non-image rows always survive
    val kept = Multimodal.dedupImages(df, "id", "img", maxHamming = 3)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L, 6L, 7L))
    // image BYTES must not cross any exchange THE OPERATOR introduces — only
    // (band, bits, id, hash) rows. The plan check uses the un-repartitioned local
    // input: the behavior df above carries its own caller-side repartition(3),
    // whose exchange legitimately holds the img column (the traversal-based guard
    // caught exactly that — the old rendered-text scan was vacuous either way).
    assert(!shuffleCarries(
      Multimodal.nearDupPairsImage(rows.toDF("id", "img"), "id", "img", maxHamming = 3),
      "img"), "image bytes crossed an operator exchange")
  }

  test("audio envelope and hash: real PCM RMS, silence has no fingerprint, near-dup pairs") {
    import spark.implicits._
    // Hand-checkable envelope: 8-bit PCM, first half amplitude 64, second half 16.
    val pcm = Array.tabulate(256)(i =>
      (128 + (if (i % 2 == 0) 1 else -1) * (if (i < 128) 64 else 16)).toByte)
    val wav = MediaCodecs.encodeWavPcm(8000, pcm)
    val env = MediaCodecs.wavEnvelope(wav, 2).get
    assert(math.abs(env(0) - 64.0 / 128.0) < 1e-9 && math.abs(env(1) - 16.0 / 128.0) < 1e-9,
      s"expected [0.5, 0.125], got ${env.toSeq}")
    // 16-bit signed path: constant amplitude 8192 -> RMS 0.25 in both windows
    val pcm16 = new Array[Byte](512)
    for (i <- 0 until 256) {
      val v = (if (i % 2 == 0) 8192 else -8192).toShort
      pcm16(i * 2) = (v & 0xff).toByte; pcm16(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    // hand-build a 16-bit header (encodeWavPcm is 8-bit): reuse it then patch bits/byteRate
    val wav16 = MediaCodecs.encodeWavPcm(16000, pcm16)
    wav16(34) = 16 // bitsPerSample
    wav16(32) = 2 // block align
    val env16 = MediaCodecs.wavEnvelope(wav16, 2).get
    assert(env16.forall(v => math.abs(v - 0.25) < 1e-9), s"16-bit RMS: ${env16.toSeq}")
    // silence and constant loudness have no fingerprint; non-audio has none either
    assert(MediaCodecs.audioHash(MediaCodecs.encodeWavPcm(8000, new Array[Byte](4096))).isEmpty)
    assert(MediaCodecs.audioHash(wav16).isEmpty, "constant loudness = zero contrast")
    assert(MediaCodecs.audioHash("nope".getBytes).isEmpty)
    // near-dup pairs: same-seed clips pair at Hamming 0, distinct seeds stay apart
    val clip = (s: Long) => MediaCodecs.encodeNoiseWav(8000, 4096, s)
    val df = Seq((1L, clip(3)), (2L, clip(3)), (3L, clip(4)), (4L, "x".getBytes))
      .toDF("id", "snd")
    val pairs = Multimodal.nearDupPairsAudio(df, "id", "snd")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0)), s"got $pairs")
    val kept = Multimodal.dedupAudio(df, "id", "snd")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
    // stereo with identical L/R channels == its mono downmix: channels are averaged
    // PER FRAME, so the envelope (and hash) must match the mono clip exactly
    val noiseWav = MediaCodecs.encodeNoiseWav(8000, 4096, 7L)
    val monoPcm = noiseWav.slice(44, 44 + 4096)
    val stereoPcm = new Array[Byte](monoPcm.length * 2)
    for (i <- monoPcm.indices) {
      stereoPcm(i * 2) = monoPcm(i); stereoPcm(i * 2 + 1) = monoPcm(i)
    }
    val mono = MediaCodecs.encodeWavPcm(8000, monoPcm)
    val stereo = MediaCodecs.encodeWavPcm(8000, stereoPcm, channels = 2)
    assert(MediaCodecs.wavEnvelope(mono, 64).get.toSeq ==
      MediaCodecs.wavEnvelope(stereo, 64).get.toSeq, "stereo dup-channel envelope != mono")
    assert(MediaCodecs.audioHash(mono) == MediaCodecs.audioHash(stereo))
  }

  test("incremental image pairs: index round-trips, new batch never re-decodes old, no old-x-old") {
    import spark.implicits._
    val noise = (s: Long) => MediaCodecs.encodeNoiseImage(24, 16, "png", s)
    // Standing corpus: seeds 1,1,2,3 (one old dup pair 10-11); new batch: seeds
    // 1 (matches two old + nothing new), 3 (matches one old), 4 (novel), broken.
    val old = Seq((10L, noise(1)), (11L, noise(1)), (12L, noise(2)), (13L, noise(3)))
      .toDF("id", "img")
    val fresh = Seq((20L, noise(1)), (21L, noise(3)), (22L, noise(4)),
      (23L, "broken".getBytes)).toDF("id", "img")
    // Index persists (the store-don't-recompute contract) — parquet round-trip.
    val dir = tmpDir("img_index") + "/idx"
    Multimodal.imageHashIndex(old, "id", "img").write.parquet(dir)
    val index = spark.read.parquet(dir)
    val got = Multimodal.incrementalImagePairs(fresh, index, "id", "img")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // new-x-old and new-x-new pairs only: the old 10-11 dup must NOT reappear.
    assert(got == Seq((10L, 20L), (11L, 20L), (13L, 21L)), s"got $got")
    // parity: full recompute over old++new, restricted to pairs touching a new id
    val full = Multimodal.nearDupPairsImage(old.unionByName(fresh), "id", "img")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (x, y) => x >= 20L || y >= 20L }.sorted.toSeq
    assert(got == full, s"incremental $got != restricted full $full")
    val e = intercept[IllegalArgumentException](
      Multimodal.incrementalImagePairs(fresh, old, "id", "img"))
    assert(e.getMessage.contains("image_hash"), e.getMessage)
  }

  test("incremental audio pairs: index round-trips, new batch never re-decodes old, no old-x-old") {
    import spark.implicits._
    val clip = (s: Long) => MediaCodecs.encodeNoiseWav(8000, 4096, s)
    // Standing corpus: seeds 1,1,2,3 (one old dup pair 10-11); new batch: seeds
    // 1 (matches two old), 3 (matches one old), 4 (novel), silent (no fingerprint).
    val old = Seq((10L, clip(1)), (11L, clip(1)), (12L, clip(2)), (13L, clip(3)))
      .toDF("id", "snd")
    val fresh = Seq((20L, clip(1)), (21L, clip(3)), (22L, clip(4)),
      (23L, MediaCodecs.encodeWavPcm(8000, new Array[Byte](4096)))).toDF("id", "snd")
    val dir = tmpDir("snd_index") + "/idx"
    Multimodal.audioHashIndex(old, "id", "snd").write.parquet(dir)
    val index = spark.read.parquet(dir)
    val got = Multimodal.incrementalAudioPairs(fresh, index, "id", "snd")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((10L, 20L), (11L, 20L), (13L, 21L)), s"got $got")
    // parity: full recompute over old++new, restricted to pairs touching a new id
    val full = Multimodal.nearDupPairsAudio(old.unionByName(fresh), "id", "snd")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (x, y) => x >= 20L || y >= 20L }.sorted.toSeq
    assert(got == full, s"incremental $got != restricted full $full")
    val e = intercept[IllegalArgumentException](
      Multimodal.incrementalAudioPairs(fresh, old, "id", "snd"))
    assert(e.getMessage.contains("audio_hash"), e.getMessage)
  }

  test("withMediaMeta / withImageHash distribute: real decode inside executor UDFs") {
    import spark.implicits._
    val rows = Seq(
      (1L, MediaCodecs.encodeImage(9, 4, "png", 1L)),
      (2L, MediaCodecs.encodeImage(3, 8, "jpeg", 2L)),
      (3L, MediaCodecs.encodeWavPcm(8000, new Array[Byte](2000))), // 250 ms
      (4L, null.asInstanceOf[Array[Byte]]),
      (5L, "plain bytes".getBytes))
    val df = rows.toDF("id", "bytes").repartition(3)
    val meta = Multimodal.withMediaMeta(df, "bytes")
      .select(col("id"), col("media_meta.format"), col("media_meta.width"),
        col("media_meta.height"), col("media_meta.duration_ms"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(meta(1L) == (("png", Some(9), Some(4), None)))
    assert(meta(2L) == (("jpeg", Some(3), Some(8), None)))
    assert(meta(3L) == (("wav", None, None, Some(250L))))
    assert(meta(4L)._1 == "null")
    assert(meta(5L) == (("bin", None, None, None)))
    val hashes = Multimodal.withImageHash(df, "bytes")
      .select(col("id"), col("image_hash")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(hashes(1L).isDefined && hashes(2L).isDefined)
    assert(hashes(3L).isEmpty && hashes(4L).isEmpty && hashes(5L).isEmpty)
  }

  test("video dedup: planted duplicate GIF clips pair end-to-end; undecodable survives") {
    import spark.implicits._
    val dupA = MediaCodecs.encodeAnimatedGif(24, 16, 3, seed = 5L)
    val dupB = MediaCodecs.encodeAnimatedGif(24, 16, 3, seed = 5L) // byte-identical clip
    val other = MediaCodecs.encodeAnimatedGif(24, 16, 3, seed = 9L)
    val clips = Seq((1L, dupA), (2L, dupB), (3L, other),
      (4L, "not a video".getBytes)).toDF("id", "clip")
    val pairs = Multimodal.nearDupPairsVideo(clips, "id", "clip").collect()
    assert(pairs.length == 1, s"exactly the planted pair: ${pairs.mkString(", ")}")
    val p = pairs.head
    assert(p.getLong(0) == 1L && p.getLong(1) == 2L)
    assert(p.getLong(2) == 3L, s"all 3 frames must match, got ${p.getLong(2)}")
    assert(p.getInt(3) == 0, s"identical clips hash at Hamming 0, got ${p.get(3)}")
    val kept = Multimodal.dedupVideos(clips, "id", "clip")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L),
      s"keep-lowest of the pair; unrelated and undecodable survive: $kept")
  }

  test("video dedup: one shared frame is a coincidence, not a duplicate (minMatchingFrames)") {
    import spark.implicits._
    // Hand-built 'containers' through the decoder hook: clips share exactly ONE
    // frame (a common intro card), remaining frames distinct.
    val intro = MediaCodecs.encodeNoiseImage(24, 16, "png", 100L)
    val clipX = Array(intro, MediaCodecs.encodeNoiseImage(24, 16, "png", 101L))
    val clipY = Array(intro, MediaCodecs.encodeNoiseImage(24, 16, "png", 102L))
    val frameStore = Map(10L -> clipX, 20L -> clipY)
    // decoder keyed on a 1-byte payload id — row-local, total, serializable
    val decoder = (bytes: Array[Byte], _: Int, maxFrames: Int) =>
      if (bytes == null || bytes.isEmpty) Nil
      else frameStore.getOrElse(bytes(0).toLong, Array.empty[Array[Byte]]).toSeq.take(maxFrames)
    val clips = Seq((10L, Array(10.toByte)), (20L, Array(20.toByte))).toDF("id", "clip")
    val strict = Multimodal.nearDupPairsVideo(clips, "id", "clip", decoder,
      minMatchingFrames = 2).count()
    assert(strict == 0L, "one shared intro frame must not pair at minMatchingFrames=2")
    val loose = Multimodal.nearDupPairsVideo(clips, "id", "clip", decoder,
      minMatchingFrames = 1).collect()
    assert(loose.length == 1 && loose.head.getLong(2) == 1L)
  }

  test("video_dedup operator arm: fixture parquet materializes once and pair count " +
    "matches the oracle arithmetic") {
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$d/documents.parquet").exists())
    import org.apache.spark.sql.functions.col
    val arm = graft.Queries.operatorArms("video_dedup_documents")
    val n1 = arm(spark, d).head().getLong(0)
    val n2 = arm(spark, d).head().getLong(0) // second run: reuses the fixture parquet
    assert(n1 == n2)
    // expected pairs = sum over seeds s of C(n_s, 2) — the video_dedup oracle's rule
    val expected = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id").isNotNull)
      .groupBy(org.apache.spark.sql.functions.pmod(col("doc_id"),
        org.apache.spark.sql.functions.lit(37)))
      .count().collect().map(r => { val n = r.getLong(1); n * (n - 1) / 2 }).sum
    assert(n1 == expected, s"arm pairs $n1 != same-seed arithmetic $expected")
    // incremental pairing over the same fixture (even doc_ids indexed, odd doc_ids
    // the new batch) must match ITS oracle arithmetic
    val (docs, nDocs) = graft.Queries.videoClipFixture(spark, d)
    val index = Multimodal.videoFrameHashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "clip")
    val nInc = Multimodal.incrementalVideoPairs(docs.filter(col("doc_id") % 2 =!= 0), index,
      "doc_id", "clip", maxHamming = 3, minMatchingFrames = 2,
      maxBucketSize = graft.Queries.mediaBucketGuard(nDocs)).count()
    val expInc = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id").isNotNull)
      .select(org.apache.spark.sql.functions.pmod(col("doc_id"),
        org.apache.spark.sql.functions.lit(37)).as("s"),
        (col("doc_id") % 2 === 0).as("old"))
      .groupBy("s").agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(col("old"), 1L).otherwise(0L)).as("n_old"))
      .collect().map { r =>
        val n = r.getLong(1); val o = r.getLong(2)
        n * (n - 1) / 2 - o * (o - 1) / 2
      }.sum
    assert(nInc == expInc, s"incremental pairs $nInc != arithmetic $expInc")
  }

  test("clip rollup differential: two-level aggregation matches a brute-force " +
    "frame-match reference (round-15 rollup restructure)") {
    import spark.implicits._
    // Hand-built containers through the decoder hook. Geometry chosen to
    // exercise every rollup subtlety: 10/20 exact dups (hamming-0 frames collide
    // in ALL 4 bands — band-duplicate absorption), 30 repeats a frame INSIDE the
    // clip and shares it with 10/20 (one A-frame matching several B-frames must
    // count ONCE), 40 shares a single frame (single-frame match visible at
    // minMatchingFrames=1), 50 unrelated.
    val fs = (0 to 6).map(i => MediaCodecs.encodeNoiseImage(24, 16, "png", 200L + i))
    val frameStore: Map[Long, Seq[Array[Byte]]] = Map(
      10L -> Seq(fs(0), fs(1), fs(2)),
      20L -> Seq(fs(0), fs(1), fs(2)),
      30L -> Seq(fs(0), fs(0), fs(3)),
      40L -> Seq(fs(1), fs(4)),
      50L -> Seq(fs(5), fs(6)))
    val decoder = (bytes: Array[Byte], _: Int, maxFrames: Int) =>
      if (bytes == null || bytes.isEmpty) Seq.empty[Array[Byte]]
      else frameStore.getOrElse(bytes(0).toLong, Nil).take(maxFrames)
    val clips = frameStore.keys.toSeq.sorted
      .map(id => (id, Array(id.toByte))).toDF("id", "clip")
    // Brute-force reference computed from the SAME frame hashes the operator
    // consumes — implementation-independent of the banded join and the rollup.
    val rows = Multimodal.videoFrameHashes(clips, "id", "clip", decoder)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byClip = rows.groupBy(_._1)
    val ids = byClip.keys.toSeq.sorted
    val expected = (for { a <- ids; b <- ids if a < b } yield {
      val matched = for {
        (_, fa, ha) <- byClip(a)
        (_, _, hb) <- byClip(b)
        h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
      } yield (fa, h)
      (a, b, matched.map(_._1).distinct.length.toLong,
        if (matched.isEmpty) Int.MaxValue else matched.map(_._2).min)
    }).filter(_._3 >= 1L).toSet
    assert(expected.exists(_._3 == 1L) && expected.exists(_._3 >= 3L),
      s"fixture must exercise single- and multi-frame matches: $expected")
    val got = Multimodal.nearDupPairsVideo(clips, "id", "clip", decoder,
        minMatchingFrames = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got == expected, s"rollup disagrees with brute force:\n got $got\n exp $expected")
    // The round-14 rollup shape it replaced (pair distinct, then countDistinct of the
    // A-frames) over an exhaustive frame self-join, each pair doubled the way band
    // collisions repeat it, must give the same rows.
    val frames = Multimodal.videoFrameHashes(clips, "id", "clip", decoder)
    val framePairs = frames.as("a").join(frames.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("_ca"), col("b.id").as("_cb"), col("a.frame_idx").as("_fa"),
        col("b.frame_idx").as("_fb"),
        bit_count(col("a.frame_hash").bitwiseXOR(col("b.frame_hash"))).as("hamming"))
      .filter(col("hamming") <= 3)
    val oldShape = framePairs.unionByName(framePairs).distinct()
      .groupBy(col("_ca"), col("_cb"))
      .agg(countDistinct(col("_fa")).as("matching_frames"), min(col("hamming")).as("min_hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(oldShape == got, s"old rollup shape disagrees:\n old $oldShape\n new $got")
    // incremental path shares clipPairsFromFrameRows: new = odd ids, index = even
    val idx = Multimodal.videoFrameHashIndex(
      clips.filter(col("id") % 20 === 0), "id", "clip", decoder)
    val gotInc = Multimodal.incrementalVideoPairs(
        clips.filter(col("id") % 20 =!= 0), idx, "id", "clip", decoder,
        minMatchingFrames = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val expInc = expected.filterNot { case (a, b, _, _) => a % 20 == 0 && b % 20 == 0 }
    assert(gotInc == expInc, s"incremental rollup disagrees:\n got $gotInc\n exp $expInc")
  }

  test("video pair plan: clip bytes never cross an exchange — only frame-hash rows") {
    import spark.implicits._
    val clips = Seq((1L, MediaCodecs.encodeAnimatedGif(24, 16, 3, 5L)),
      (2L, MediaCodecs.encodeAnimatedGif(24, 16, 3, 5L))).toDF("id", "clip")
    assert(!shuffleCarries(Multimodal.nearDupPairsVideo(clips, "id", "clip"), "clip"),
      "clip bytes crossed an exchange")
    // the guard itself must be non-vacuous the other way: a plan that DOES carry
    // the binary through its shuffle is detected (clip used AFTER the exchange, so
    // column pruning cannot drop it below)
    val carried = clips.repartition(col("id"))
      .groupBy("id").agg(max(length(col("clip"))).as("n"))
    assert(shuffleCarries(carried, "clip"), "traversal must see carried columns")
  }

  test("fused video frame hashing equals the PNG-round-trip byte path bit-for-bit") {
    import spark.implicits._
    // the explicit eta-expansion is a DIFFERENT function instance than
    // DefaultFrameDecoder, forcing the unfused explode+perceptualHash route
    val unfusedDecoder: (Array[Byte], Int, Int) => Seq[Array[Byte]] =
      MediaCodecs.sampleFrames(_, _, _)
    val payloads: Seq[(Long, Array[Byte])] = Seq(
      1L -> MediaCodecs.encodeAnimatedGif(24, 16, 3, 5L),
      2L -> MediaCodecs.encodeAnimatedGif(9, 7, 5, 11L),
      3L -> MediaCodecs.encodeAnimatedGif(64, 48, 1, 2L),
      4L -> MediaCodecs.encodeNoiseImage(24, 16, "png", 7L), // sub-4KiB still: stub frame 0
      5L -> "definitely not media".getBytes,
      6L -> null.asInstanceOf[Array[Byte]])
    val df = payloads.toDF("id", "clip")
    for ((everyNth, maxFrames) <- Seq((1, 16), (2, 2), (3, 1))) {
      def rows(dec: (Array[Byte], Int, Int) => Seq[Array[Byte]]) =
        Multimodal.videoFrameHashes(df, "id", "clip", dec, everyNth, maxFrames)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val fused = rows(Multimodal.DefaultFrameDecoder)
      val unfused = rows(unfusedDecoder)
      assert(fused == unfused,
        s"everyNth=$everyNth maxFrames=$maxFrames: fused ${fused.size} rows != " +
          s"unfused ${unfused.size}: ${(fused diff unfused) ++ (unfused diff fused)}")
      assert(fused.exists(_._1 <= 3L), "GIF frames must hash") // non-vacuous
    }
  }

  test("incremental video pairs vs persisted frame index: new x old only, parity " +
    "with restricted full recompute") {
    import spark.implicits._
    val mk = (seed: Long) => MediaCodecs.encodeAnimatedGif(24, 16, 3, seed)
    // standing corpus: seeds 1,1,2 (ids 0,2,4 — one old x old dup pair exists)
    val standing = Seq((0L, mk(1)), (2L, mk(1)), (4L, mk(2))).toDF("id", "clip")
    val index = Multimodal.videoFrameHashIndex(standing, "id", "clip")
    // sanity: the persisted index is (id, frame_idx, frame_hash) rows, 3 per clip
    assert(index.count() == 9)
    // batch: a repost of seed 1 (pairs with ids 0 AND 2), a fresh seed 3, and a
    // batch-internal dup pair of seed 3
    val batch = Seq((11L, mk(1)), (13L, mk(3)), (15L, mk(3))).toDF("id", "clip")
    val pairs = Multimodal.incrementalVideoPairs(batch, index, "id", "clip")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 11L), (2L, 11L), (13L, 15L)),
      s"expected new x old + new x new pairs only, got $pairs")
    // parity: the full pass over standing + batch, RESTRICTED to pairs touching a
    // batch id, must be exactly the incremental result
    val full = Multimodal.nearDupPairsVideo(standing.unionByName(batch), "id", "clip")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIds = Set(11L, 13L, 15L)
    assert(full.filter(p => batchIds(p._1) || batchIds(p._2)) == pairs,
      "incremental must equal the full pass restricted to pairs touching the batch")
    assert(full.contains((0L, 2L)), "sanity: the old x old pair exists in the full pass")
  }

  test("video dedup: the pluggable decoder hook is load-bearing for codec-bound containers") {
    import spark.implicits._
    // A fake codec-bound container the stock JVM cannot decode: magic + count +
    // length-prefixed PNG frames. The DEFAULT decoder sees an unknown format and
    // yields only un-hashable byte slices (zero recall, honestly); the plugged-in
    // decoder — standing in for an ffmpeg/JNI demuxer — recovers the frames and
    // the planted duplicate pairs end-to-end through the hook.
    def container(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("VID0".getBytes)
      val dos = new java.io.DataOutputStream(bos)
      dos.writeInt(frames.length)
      frames.foreach { f => dos.writeInt(f.length); dos.write(f) }
      bos.toByteArray
    }
    val decoder = (bytes: Array[Byte], everyNth: Int, maxFrames: Int) => try {
      if (bytes == null || bytes.length < 8 ||
        new String(bytes, 0, 4, java.nio.charset.StandardCharsets.ISO_8859_1) != "VID0") Nil
      else {
        val dis = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(bytes, 4, bytes.length - 4))
        val n = dis.readInt()
        val all = (0 until n).map { _ =>
          val len = dis.readInt(); val f = new Array[Byte](len); dis.readFully(f); f
        }
        (0 until n by math.max(everyNth, 1)).take(maxFrames).map(all)
      }
    } catch { case scala.util.control.NonFatal(_) => Nil } // total, per the hook contract
    val sharedFrames = (0 until 3).map(f =>
      MediaCodecs.encodeNoiseImage(24, 16, "png", 200L + f))
    val clipA = container(sharedFrames)
    val clipB = container(sharedFrames) // planted duplicate clip
    val clipC = container((0 until 3).map(f =>
      MediaCodecs.encodeNoiseImage(24, 16, "png", 300L + f)))
    val clips = Seq((1L, clipA), (2L, clipB), (3L, clipC)).toDF("id", "clip")
    assert(Multimodal.nearDupPairsVideo(clips, "id", "clip").count() == 0L,
      "default decoder cannot decode the container — no fake pairs from byte slices")
    val viaHook = Multimodal.nearDupPairsVideo(clips, "id", "clip", decoder).collect()
    assert(viaHook.length == 1 &&
      viaHook.head.getLong(0) == 1L && viaHook.head.getLong(1) == 2L &&
      viaHook.head.getLong(2) == 3L,
      s"planted dup must pair through the hook: ${viaHook.mkString(", ")}")
    val kept = Multimodal.dedupVideos(clips, "id", "clip", decoder)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }
}
