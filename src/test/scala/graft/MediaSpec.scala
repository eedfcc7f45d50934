package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.operators.Multimodal
import graft.operators.Multimodal.{DecodedMedia, MediaRecord}

/** Real-codec path: generated PNG/BMP payloads must decode to their
  * true dimensions and content-derived features through the same
  * per-partition contract the stub uses.
  */
class MediaSpec extends SparkSpec {

  private def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) im.setRGB(x, y, rgb)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  private def bmp(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) im.setRGB(x, y, rgb)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(im, "bmp", bos)
    bos.toByteArray
  }

  test("PNG and BMP payloads decode to their true width/height") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, "image/png", png(37, 21, 0xffffff)),
      MediaRecord(2L, "image/png", png(128, 5, 0x000000)),
      MediaRecord(3L, "image/bmp", bmp(64, 48, 0x808080)))
    val out = Multimodal.decode(recs.toDS()).collect().map(d => d.docId -> d).toMap
    assert(out(1L).width == 37 && out(1L).height == 21)
    assert(out(2L).width == 128 && out(2L).height == 5)
    assert(out(3L).width == 64 && out(3L).height == 48)
    out.values.foreach(d => assert(d.nFrames == 1))
  }

  test("features are real mean luminance, not byte checksums") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, "image/png", png(40, 40, 0xffffff)), // white -> ~1.0
      MediaRecord(2L, "image/png", png(40, 40, 0x000000))) // black -> 0.0
    val out = Multimodal.decode(recs.toDS()).collect().map(d => d.docId -> d).toMap
    assert(out(1L).features.length == Multimodal.FeatureDim)
    out(1L).features.foreach(f => assert(f > 0.99f && f <= 1.0f, f))
    out(2L).features.foreach(f => assert(f == 0.0f, f))
  }

  test("unparseable image bytes fall back to the deterministic stub") {
    import spark.implicits._
    val junk = "this is not an image at all, just text bytes".getBytes("UTF-8")
    val out = Multimodal.decode(
      Seq(MediaRecord(9L, "image/fake", junk)).toDS()).collect()
    val expected = Multimodal.decodeStub(MediaRecord(9L, "image/fake", junk))
    assert(out.head == expected.copy(features = out.head.features))
    assert(out.head.features.sameElements(expected.features))
  }

  test("decode is deterministic and resize honors real dimensions") {
    import spark.implicits._
    val ds = Seq(MediaRecord(1L, "image/png", png(100, 50, 0x123456))).toDS()
    val a = Multimodal.decode(ds).collect().head
    val b = Multimodal.decode(ds).collect().head
    assert(a == b.copy(features = a.features) && a.features.sameElements(b.features))
    val r = Multimodal.resize(Multimodal.decode(ds), 25, 25).collect().head
    assert(r.width == 25 && r.height == 12) // aspect preserved from TRUE dims
  }

  /** In-memory PCM WAV: frames of 16-bit signed samples -> WAVE bytes
    * via the same JDK encoder whose reader the decode path uses.
    */
  private def wav16(rateHz: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val bytes = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rateHz.toFloat, 16, channels, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(bytes),
      fmt, samples.length / channels)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("PCM WAV decodes byte-exactly: rate, channels, depth, frames, duration") {
    import spark.implicits._
    // 1 second of mono 8kHz square wave at amplitude 16384 -> RMS is
    // EXACTLY 0.5 in every window (|sample| constant), duration 1000ms
    val mono = wav16(8000, 1,
      Array.tabulate(8000)(i => if (i % 2 == 0) 16384 else -16384).map(_.toShort))
    // 0.25s of stereo 16kHz at amplitude 8192 -> RMS exactly 0.25
    val stereo = wav16(16000, 2,
      Array.fill(8000)(8192.toShort))
    val out = Multimodal.decode(Seq(
        MediaRecord(1L, "audio/wav", mono),
        MediaRecord(2L, "audio/wav", stereo)).toDS())
      .collect().map(d => d.docId -> d).toMap
    val m = out(1L)
    assert(m.sampleRateHz == 8000 && m.channels == 1 && m.bitDepth == 16)
    assert(m.nFrames == 8000 && m.durationMs == 1000)
    assert(m.width == 0 && m.height == 0) // visual fields stay empty
    m.features.foreach(f => assert(math.abs(f - 0.5f) < 1e-4f, f))
    val st = out(2L)
    assert(st.sampleRateHz == 16000 && st.channels == 2 && st.bitDepth == 16)
    assert(st.nFrames == 4000 && st.durationMs == 250)
    st.features.foreach(f => assert(math.abs(f - 0.25f) < 1e-4f, f))
  }

  test("silent vs loud audio separate in the feature vector; junk falls back to stub") {
    import spark.implicits._
    val silent = wav16(8000, 1, Array.fill(800)(0.toShort))
    val loud = wav16(8000, 1, Array.fill(800)(32767.toShort))
    val junk = "definitely not RIFF".getBytes("UTF-8")
    val out = Multimodal.decode(Seq(
        MediaRecord(1L, "audio/wav", silent),
        MediaRecord(2L, "audio/wav", loud),
        MediaRecord(3L, "audio/wav", junk)).toDS())
      .collect().map(d => d.docId -> d).toMap
    out(1L).features.foreach(f => assert(f == 0.0f))
    out(2L).features.foreach(f => assert(f > 0.99f))
    val expected = Multimodal.decodeStub(MediaRecord(3L, "audio/wav", junk))
    assert(out(3L) == expected.copy(features = out(3L).features))
    assert(out(3L).features.sameElements(expected.features))
  }

  // ---- video container fixtures (byte-exact, built from the specs) ----

  private def beInt(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def leInt(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def fcc(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
  private def mp4box(typ: String, payload: Array[Byte]): Array[Byte] =
    beInt(payload.length + 8L) ++ fcc(typ) ++ payload

  /** Minimal well-formed MP4: ftyp + moov(mvhd, video trak, audio
    * trak). mvhd v0: timescale 600, duration 3000 ticks -> 5000 ms.
    * Video tkhd: 320x240 in 16.16 fixed point; its stts: 100+20
    * samples -> 120 frames. The AUDIO trak (0x0 tkhd) carries an stts
    * of 999 samples that must NOT be counted as frames.
    */
  private def mp4Fixture: Array[Byte] = {
    val mvhd = mp4box("mvhd",
      beInt(0) ++ beInt(0) ++ beInt(0) ++ beInt(600) ++ beInt(3000) ++
        beInt(0x00010000L) ++ Array.fill[Byte](2)(0) ++
        Array.fill[Byte](10)(0) ++ Array.fill[Byte](36)(0) ++
        Array.fill[Byte](24)(0) ++ beInt(3))
    def tkhd(w: Int, h: Int) = mp4box("tkhd",
      beInt(0) ++ beInt(0) ++ beInt(0) ++ beInt(1) ++ beInt(0) ++
        beInt(3000) ++ Array.fill[Byte](8)(0) ++ Array.fill[Byte](8)(0) ++
        Array.fill[Byte](36)(0) ++ beInt(w.toLong << 16) ++ beInt(h.toLong << 16))
    def stts(counts: Seq[Long]) = mp4box("stts",
      beInt(0) ++ beInt(counts.length.toLong) ++
        counts.flatMap(c => beInt(c) ++ beInt(25L)).toArray)
    def trak(w: Int, h: Int, counts: Seq[Long]) = mp4box("trak",
      tkhd(w, h) ++ mp4box("mdia", mp4box("minf", mp4box("stbl", stts(counts)))))
    val moov = mp4box("moov",
      mvhd ++ trak(320, 240, Seq(100L, 20L)) ++ trak(0, 0, Seq(999L)))
    mp4box("ftyp", fcc("isom") ++ beInt(0) ++ fcc("isom")) ++ moov
  }

  /** Minimal AVI: RIFF/AVI with a hdrl LIST holding avih — 25 fps
    * (40000 us/frame), 250 frames -> 10000 ms, 640x480.
    */
  private def aviFixture: Array[Byte] = {
    val avihBody = leInt(40000) ++ leInt(0) ++ leInt(0) ++ leInt(0) ++
      leInt(250) ++ leInt(0) ++ leInt(1) ++ leInt(0) ++
      leInt(640) ++ leInt(480) ++ Array.fill[Byte](16)(0)
    val avih = fcc("avih") ++ leInt(avihBody.length.toLong) ++ avihBody
    val hdrl = fcc("LIST") ++ leInt(4L + avih.length) ++ fcc("hdrl") ++ avih
    val body = fcc("AVI ") ++ hdrl
    fcc("RIFF") ++ leInt(body.length.toLong) ++ body
  }

  /** MJPEG AVI: the [[aviFixture]] header plus a movi LIST whose
    * `00dc` chunks are REAL JPEGs (ImageIO-written solid-color
    * frames), odd sizes pad to even per the RIFF grammar; a `01wb`
    * audio chunk rides along and must NOT be decoded as a frame.
    */
  private def jpegBytes(rgb: Int, w: Int = 32, h: Int = 24): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = im.createGraphics()
    g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "jpg", bos)
    bos.toByteArray
  }
  private def riffChunk(fccStr: String, payload: Array[Byte]): Array[Byte] = {
    val pad = if (payload.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
    fcc(fccStr) ++ leInt(payload.length.toLong) ++ payload ++ pad
  }
  private def mjpegFrames: Seq[Array[Byte]] =
    Seq(jpegBytes(0x000000), jpegBytes(0xffffff), jpegBytes(0x808080))
  private def mjpegAviFixture: Array[Byte] = {
    val avihBody = leInt(40000) ++ leInt(0) ++ leInt(0) ++ leInt(0) ++
      leInt(3) ++ leInt(0) ++ leInt(1) ++ leInt(0) ++
      leInt(32) ++ leInt(24) ++ Array.fill[Byte](16)(0)
    val avih = fcc("avih") ++ leInt(avihBody.length.toLong) ++ avihBody
    val hdrl = fcc("LIST") ++ leInt(4L + avih.length) ++ fcc("hdrl") ++ avih
    val moviPayload = fcc("movi") ++
      riffChunk("00dc", mjpegFrames(0)) ++
      riffChunk("01wb", Array.fill[Byte](17)(42)) ++ // audio, odd size
      riffChunk("00dc", mjpegFrames(1)) ++
      riffChunk("00dc", mjpegFrames(2))
    val movi = fcc("LIST") ++ leInt(moviPayload.length.toLong) ++ moviPayload
    val body = fcc("AVI ") ++ hdrl ++ movi
    fcc("RIFF") ++ leInt(body.length.toLong) ++ body
  }

  test("MJPEG-in-AVI frames decode for REAL: features are the per-frame band-luminance mean") {
    import spark.implicits._
    val out = Multimodal.decode(Seq(
        MediaRecord(7L, "video/avi", mjpegAviFixture)).toDS()).collect().head
    assert(out.width == 32 && out.height == 24)
    assert(out.nFrames == 3 && out.durationMs == 120L)
    // expected = element-wise mean of the STILL-image features of the
    // same three JPEG payloads — frame decode must be the image decode
    val per = mjpegFrames.map(fb => Multimodal.decodeImage(
      MediaRecord(0L, "image/jpeg", fb)).get.features)
    val want = (0 until Multimodal.FeatureDim).map { i =>
      (per.map(_(i).toDouble).sum / per.length).toFloat
    }
    assert(out.features.toSeq == want,
      s"got ${out.features.toSeq} want $want")
    // black and white frames average to ~mid grey — a REAL decode
    // signature no byte-checksum stub can produce
    out.features.foreach(f => assert(f > 0.4f && f < 0.7f, f))
    // the audio chunk is not in the frame walk
    assert(Multimodal.parseAviVideoFrames(mjpegAviFixture, 10).length == 3)
  }

  test("MJPEG frame sampling is bounded and includes the first frame") {
    val many = {
      val avihBody = leInt(40000) ++ leInt(0) ++ leInt(0) ++ leInt(0) ++
        leInt(9) ++ leInt(0) ++ leInt(1) ++ leInt(0) ++
        leInt(32) ++ leInt(24) ++ Array.fill[Byte](16)(0)
      val avih = fcc("avih") ++ leInt(avihBody.length.toLong) ++ avihBody
      val hdrl = fcc("LIST") ++ leInt(4L + avih.length) ++ fcc("hdrl") ++ avih
      val moviPayload = fcc("movi") ++
        (0 until 9).flatMap(i => riffChunk("00dc",
          jpegBytes(i * 0x1c1c1c))).toArray
      val movi = fcc("LIST") ++ leInt(moviPayload.length.toLong) ++ moviPayload
      val body = fcc("AVI ") ++ hdrl ++ movi
      fcc("RIFF") ++ leInt(body.length.toLong) ++ body
    }
    val sampled = Multimodal.parseAviVideoFrames(many, Multimodal.MaxSampledFrames)
    assert(sampled.length == Multimodal.MaxSampledFrames)
    // first frame always sampled; sample is uniform over the 9 frames
    assert(sampled.head.sameElements(jpegBytes(0)))
  }

  test("MP4 box walk recovers true dims, video-trak frame count, duration") {
    import spark.implicits._
    val out = Multimodal.decode(Seq(
        MediaRecord(1L, "video/mp4", mp4Fixture)).toDS()).collect().head
    assert(out.width == 320 && out.height == 240,
      s"dims ${out.width}x${out.height}")
    assert(out.nFrames == 120, s"frames ${out.nFrames}") // NOT the audio 999
    assert(out.durationMs == 5000L, s"duration ${out.durationMs}")
    assert(out.nBytes == mp4Fixture.length.toLong)
  }

  test("AVI RIFF header recovers dims, frame count, duration") {
    import spark.implicits._
    val out = Multimodal.decode(Seq(
        MediaRecord(2L, "video/avi", aviFixture)).toDS()).collect().head
    assert(out.width == 640 && out.height == 480)
    assert(out.nFrames == 250)
    assert(out.durationMs == 10000L) // 250 frames at 40000us each
  }

  test("video frame-sampling plan runs off REAL container frame counts") {
    import spark.implicits._
    // 120 true frames, k=10 -> every 12th frame: the sampleFrames plan
    // is now driven by parsed metadata, not stub arithmetic
    val frames = Multimodal.sampleFrames(
      Multimodal.decode(Seq(MediaRecord(1L, "video/mp4", mp4Fixture)).toDS()),
      k = 10).collect().map(_.getInt(1)).sorted
    assert(frames.sameElements(0 until 120 by 12), frames.toSeq)
  }

  test("junk video bytes fall back to the deterministic stub") {
    import spark.implicits._
    val junk = "not an mp4, not an avi".getBytes("UTF-8")
    val out = Multimodal.decode(
      Seq(MediaRecord(9L, "video/mp4", junk)).toDS()).collect().head
    val expected = Multimodal.decodeStub(MediaRecord(9L, "video/mp4", junk))
    assert(out == expected.copy(features = out.features))
    assert(out.features.sameElements(expected.features))
  }

  test("decoded features flow into the vector dedup path (decode -> ANN)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // duplicate payloads -> identical feature vectors -> a near-dup
    // pair at sim 1.0; distinct content stays below the threshold.
    // This is the multimodal dedup chain: decode -> features ->
    // banded-LSH near-dup -> clusters/keepers, no media-specific code
    // after the decode.
    val media = Seq(
      MediaRecord(1L, "application/x", "identical payload bytes".getBytes("UTF-8")),
      MediaRecord(2L, "application/x", "identical payload bytes".getBytes("UTF-8")),
      MediaRecord(3L, "application/x", png(40, 40, 0x00ff00))).toDS()
    val feats = Multimodal.decode(media).toDF()
      .select(col("docId"), col("features"))
    val planes = (0 until 16).map { j =>
      (0 until Multimodal.FeatureDim).map { d =>
        (((j * Multimodal.FeatureDim + d).toLong * 2654435761L) % 1003L) /
          1003.0 * 2.0 - 1.0
      }.toSeq
    }
    val pairs = graft.api.VectorOps.nearDupPairs(
        feats, "docId", "features", planes, simX1000Threshold = 999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"got ${pairs.toSeq}")
    assert(pairs.head._3 == 1000L) // identical vectors -> cosine exactly 1
  }

  /** Horizontal-gradient PNG with a per-pixel brightness offset —
    * structured content whose aHash/dHash are half-ones, unlike flat
    * fills (all-below-mean degenerates).
    */
  private def gradientPng(w: Int, h: Int, brighten: Int): Array[Byte] = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      // mid-range ramp so +brighten never clips at 255
      val v = 40 + (x * 160 / w) + brighten
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  private def noisePng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var s = seed
    for (x <- 0 until w; y <- 0 until h) {
      s = s * 6364136223846793005L + 1442695040888963407L // deterministic LCG
      val v = ((s >>> 33) & 0xff).toInt
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  test("perceptual hashes: brightness-invariant, content-sensitive, " +
    "undecodable payloads drop") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, "image/png", gradientPng(64, 48, 0)),
      MediaRecord(2L, "image/png", gradientPng(64, 48, 8)), // +8 brightness
      MediaRecord(3L, "image/png", noisePng(64, 48, 7L)),
      MediaRecord(4L, "image/png", "not an image".getBytes("UTF-8")))
    val hs = Multimodal.imageHashes(recs.toDS()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hs.keySet == Set(1L, 2L, 3L)) // junk dropped, not nulled
    // uniform +8 shifts every block mean AND the global mean equally
    // (aHash), and preserves every gradient sign (dHash) — both exact
    assert(hs(1L) == hs(2L))
    // the gradient's dHash is all-ascending = all 64 bits set; noise is
    // far from it in hamming
    assert(java.lang.Long.bitCount(hs(1L)._2 ^ hs(3L)._2) > 16,
      s"noise too close: ${java.lang.Long.bitCount(hs(1L)._2 ^ hs(3L)._2)}")
  }

  test("grayBmp16 round-trips byte-exactly through the REAL BMP decode, " +
      "and the hash doubles are exact (the q133/q134 oracle laws)") {
    // pixel (x, y) == seed((y*16+x) mod n) AFTER the full encode ->
    // javax.imageio decode round trip — bottom-up row order and BGR
    // packing included. This is the law the DuckDB first-principles
    // oracle computes from, so it must hold at the PIXEL level.
    val seed = "The quick brown fox jumps over the lazy dog — περί"
      .getBytes("UTF-8")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.grayBmp16(seed)))
    assert(img.getWidth == 16 && img.getHeight == 16)
    for (y <- 0 until 16; x <- 0 until 16) {
      val rgb = img.getRGB(x, y)
      val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      val want = seed((y * 16 + x) % seed.length) & 0xff
      assert(r == want && g == want && b == want,
        s"pixel ($x,$y): got ($r,$g,$b), want $want")
    }
    // exactness of the engine-side doubles the oracle's integer
    // cross-multiplications stand in for: gray luminance of an (v,v,v)
    // pixel is v EXACTLY (299+587+114 = 1000), and a first-principles
    // integer recompute of both hashes matches perceptualHash through
    // the real decode bit for bit
    val px = Array.tabulate(16, 16)((y, x) =>
      (seed((y * 16 + x) % seed.length) & 0xff).toLong)
    val blockSums = Array.tabulate(8, 8)((cy, cx) =>
      px(2 * cy)(2 * cx) + px(2 * cy)(2 * cx + 1) +
        px(2 * cy + 1)(2 * cx) + px(2 * cy + 1)(2 * cx + 1))
    val total = blockSums.flatten.sum
    var wantA = 0L
    for (cy <- 0 until 8; cx <- 0 until 8)
      if (blockSums(cy)(cx) * 64 > total) wantA |= 1L << (cy * 8 + cx)
    def dBlock(cx: Int, cy: Int): (Long, Long) = {
      val x0 = cx * 16 / 9
      val x1 = math.min(16, math.max(x0 + 1, (cx + 1) * 16 / 9))
      var s = 0L; var c = 0L
      for (x <- x0 until x1; y <- 2 * cy until 2 * cy + 2) {
        s += px(y)(x); c += 1
      }
      (s, c)
    }
    var wantD = 0L
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val (sl, cl) = dBlock(cx, cy)
      val (sr, cr) = dBlock(cx + 1, cy)
      if (sl * cr < sr * cl) wantD |= 1L << (cy * 8 + cx)
    }
    val got = Multimodal.perceptualHash(
      MediaRecord(9L, "image/bmp", Multimodal.grayBmp16(seed)))
    assert(got.contains((wantA, wantD)),
      s"decode-path hash ${got} != first-principles ($wantA, $wantD)")
  }

  test("pcmWav8 round-trips through the REAL audio decode; the envelope " +
      "fingerprint matches its first-principles recompute (q135/q136 laws)") {
    val seed = "abcdefghij ZYXW 0123456789 — not a sine wave"
      .getBytes("UTF-8")
    // the REAL container parse delivers the 8-bit unsigned samples
    // VERBATIM (this is why envelopeHash reads 8-bit PCM natively: the
    // JDK's 8->16 widener rounds per sample — round(d*32767/127) on
    // the positive side — which would break the exact integer replay
    // the oracle depends on; writing this test caught that)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(Multimodal.pcmWav8(seed)))
    assert(in.getFormat.getSampleSizeInBits == 8 &&
      in.getFormat.getChannels == 1)
    val bytes = in.readAllBytes()
    assert(bytes.length == 256, s"expected 256 samples, got ${bytes.length}")
    for (j <- 0 until 256)
      assert((bytes(j) & 0xff) == (seed(j % seed.length) & 0xff),
        s"sample $j round-trip mismatch")
    // first-principles envelope hash over |v - 128| == the REAL-decode
    // fingerprint bit for bit
    val a = Array.tabulate(256)(j =>
      math.abs((seed(j % seed.length) & 0xff) - 128).toLong)
    val ws = Array.tabulate(64)(w => (4 * w until 4 * w + 4).map(a).sum)
    val tot = ws.sum
    var want = 0L
    for (w <- 0 until 64) if (ws(w) * 64 > tot) want |= 1L << w
    val got = Multimodal.envelopeHash(
      MediaRecord(5L, "audio/wav", Multimodal.pcmWav8(seed)))
    assert(got.contains(want), s"decode-path fingerprint $got != $want")
    // volume invariance on a REAL halved-gain signal: scaling every
    // sample's distance from the midpoint scales window and global
    // sums together, so the fingerprint is unchanged
    val half = seed.map(v => (((v & 0xff) - 128) / 2 + 128).toByte)
    val gotHalf = Multimodal.envelopeHash(
      MediaRecord(6L, "audio/wav", Multimodal.pcmWav8(half)))
    // halving truncates toward zero, which can flip boundary bits —
    // assert closeness, not equality, plus junk-drop behavior
    assert(gotHalf.nonEmpty &&
      java.lang.Long.bitCount(gotHalf.get ^ got.get) <= 8,
      s"gain-halved fingerprint too far: ${gotHalf.map(h => java.lang.Long.bitCount(h ^ got.get))}")
    assert(Multimodal.envelopeHash(
      MediaRecord(7L, "audio/wav", "junk".getBytes("UTF-8"))).isEmpty)
  }

  test("bmpAvi16 walks as a REAL AVI and videoFingerprint matches the " +
      "first-principles majority replay (the q139/q140 oracle law)") {
    val seed = "Video fingerprints lift dHash to the time axis — περί"
      .getBytes("UTF-8")
    val avi = Multimodal.bmpAvi16(seed)
    // the container is genuinely parseable: header meta AND the movi walk
    val meta = Multimodal.parseAviMeta(avi)
    assert(meta.exists(m => m.width == 16 && m.height == 16 &&
      m.nFrames == Multimodal.VideoFixtureFrames), s"avih meta: $meta")
    val sampled = Multimodal.parseAviVideoFrames(avi, Multimodal.MaxSampledFrames)
    assert(sampled.length == 4, s"sampled ${sampled.length} of 6")
    // sampled frame i IS the container's frame (i*6)//4 = {0,1,3,4}:
    // each decodes as a BMP whose pixel (x,y) is seed((f + y*16+x) mod n)
    val wantF = Seq(0, 1, 3, 4)
    sampled.zip(wantF).foreach { case (fb, f) =>
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
      assert(im != null && im.getWidth == 16 && im.getHeight == 16)
      for (y <- 0 until 16; x <- 0 until 16) {
        val got = im.getRGB(x, y) & 0xff
        val want = seed((f + y * 16 + x) % seed.length) & 0xff
        assert(got == want, s"frame $f pixel ($x,$y): got $got, want $want")
      }
    }
    // first-principles replay: per-frame dHash by integer
    // cross-multiplication (the q133 law, seed rotated by f), then
    // strict majority (cnt*2 > 4) per bit — the exact arithmetic the
    // DuckDB oracle runs
    def frameDHash(f: Int): Long = {
      val px = Array.tabulate(16, 16)((y, x) =>
        (seed((f + y * 16 + x) % seed.length) & 0xff).toLong)
      def dBlock(cx: Int, cy: Int): (Long, Long) = {
        val x0 = cx * 16 / 9
        val x1 = math.min(16, math.max(x0 + 1, (cx + 1) * 16 / 9))
        var s = 0L; var c = 0L
        for (x <- x0 until x1; y <- 2 * cy until 2 * cy + 2) {
          s += px(y)(x); c += 1
        }
        (s, c)
      }
      var d = 0L
      for (cy <- 0 until 8; cx <- 0 until 8) {
        val (sl, cl) = dBlock(cx, cy)
        val (sr, cr) = dBlock(cx + 1, cy)
        if (sl * cr < sr * cl) d |= 1L << (cy * 8 + cx)
      }
      d
    }
    val perFrame = wantF.map(frameDHash)
    var want = 0L
    for (i <- 0 until 64)
      if (perFrame.count(h => ((h >>> i) & 1L) == 1L) * 2 > 4)
        want |= 1L << i
    val got = Multimodal.videoFingerprint(
      MediaRecord(11L, "video/avi", avi))
    assert(got.contains(want), s"decode-path $got != first-principles $want")
  }

  test("video fingerprint sampling law: unsampled frames {2,5} cannot " +
      "change the fingerprint, sampled frames can") {
    // hand-build AVIs that differ ONLY in specific frames: same movi
    // grammar as bmpAvi16 but with per-frame seeds under test control
    def avi(frameSeeds: Seq[Array[Byte]]): Array[Byte] = {
      val moviPayload = fcc("movi") ++ frameSeeds.flatMap(s =>
        riffChunk("00dc", Multimodal.grayBmp16(s))).toArray
      val movi = fcc("LIST") ++ leInt(moviPayload.length.toLong) ++ moviPayload
      val body = fcc("AVI ") ++ movi
      fcc("RIFF") ++ leInt(body.length.toLong) ++ body
    }
    val base = "structured frame content with gradients 0123456789"
      .getBytes("UTF-8")
    val other = java.util.Arrays.copyOf(base, base.length)
    for (i <- other.indices) other(i) = (~other(i)).toByte
    val seeds = (0 until 6).map { f =>
      Array.tabulate[Byte](base.length)(j => base((j + f) % base.length))
    }
    def fp(frames: Seq[Array[Byte]]): Option[Long] =
      Multimodal.videoFingerprint(MediaRecord(1L, "video/avi", avi(frames)))
    val ref = fp(seeds)
    assert(ref.isDefined)
    // replacing the UNSAMPLED frames (2 and 5 of {0,1,3,4}-sampling)
    // is invisible by construction
    assert(fp(seeds.updated(2, other).updated(5, other)) == ref,
      "unsampled frames must not reach the fingerprint")
    // replacing THREE sampled frames flips the majority wherever the
    // replacement disagrees — the fingerprint must move
    assert(fp(seeds.updated(0, other).updated(1, other).updated(3, other)) != ref,
      "sampled frames must reach the fingerprint")
  }

  test("videoFingerprint through REAL MJPEG: container walk + JPEG " +
      "frame decode agree with the directly-decoded frames' majority") {
    // structured (gradient) JPEG frames so dHash is non-trivial; all 3
    // frames sample (3 <= MaxSampledFrames)
    def gradJpeg(shift: Int): Array[Byte] = {
      val im = new BufferedImage(32, 24, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 32; y <- 0 until 24) {
        val v = math.min(255, (x * 8 + shift) % 256)
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(im, "jpg", bos)
      bos.toByteArray
    }
    val frames = Seq(gradJpeg(0), gradJpeg(4), gradJpeg(97))
    val moviPayload = fcc("movi") ++ frames.flatMap(riffChunk("00dc", _)).toArray
    val movi = fcc("LIST") ++ leInt(moviPayload.length.toLong) ++ moviPayload
    val body = fcc("AVI ") ++ movi
    val avi = fcc("RIFF") ++ leInt(body.length.toLong) ++ body
    // expected: strict majority over the REAL JPEG decodes of the same
    // three payloads — pins that the in-container frame decode IS the
    // standalone image decode (no recompression, no pixel drift)
    val perFrame = frames.map { fb =>
      Multimodal.dHash64(
        ImageIO.read(new java.io.ByteArrayInputStream(fb)))
    }
    var want = 0L
    for (i <- 0 until 64)
      if (perFrame.count(h => ((h >>> i) & 1L) == 1L) * 2 > 3)
        want |= 1L << i
    val got = Multimodal.videoFingerprint(MediaRecord(3L, "video/avi", avi))
    assert(got.contains(want), s"MJPEG fingerprint $got != $want")
  }

  test("videoNearDupPairs: the single-byte-edit twin pairs, inverted " +
      "content does not; junk payloads drop") {
    import spark.implicits._
    val base = "near duplicate videos share most sampled frames!"
      .getBytes("UTF-8")
    // a single-byte edit perturbs ~1 pixel per frame — the per-frame
    // dHashes stay close, so the majority fingerprints do too
    val tweaked = java.util.Arrays.copyOf(base, base.length)
    tweaked(base.length - 1) = (tweaked(base.length - 1) + 3).toByte
    val inverted = base.map(b => (~b).toByte)
    val recs = Seq(
      MediaRecord(1L, "video/avi", Multimodal.bmpAvi16(base)),
      MediaRecord(2L, "video/avi", Multimodal.bmpAvi16(tweaked)),
      MediaRecord(3L, "video/avi", Multimodal.bmpAvi16(inverted)),
      MediaRecord(4L, "video/avi", "not an avi at all".getBytes("UTF-8"))).toDS()
    val pairs = Multimodal.videoNearDupPairs(recs, hammingMax = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"inverted content must not pair: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"undecodable payloads must drop: $pairs")
  }

  test("imageNearDupPairs: the brightened twin pairs, noise does not") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, "image/png", gradientPng(64, 48, 0)),
      MediaRecord(2L, "image/png", gradientPng(64, 48, 8)),
      MediaRecord(3L, "image/png", noisePng(64, 48, 7L))).toDS()
    val pairs = Multimodal.imageNearDupPairs(recs, hammingMax = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"got ${pairs.toSeq}")
    assert(pairs.head._3 == 0L) // exact dHash match under brightness shift
  }

  test("nearDupPairs snapshotPath: the path-stable fingerprint cache " +
      "equals the default and survives a checkpoint drain mid-query " +
      "(the long-lived-session shape — no checkpoint block in the plan)") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, "image/png", gradientPng(64, 48, 0)),
      MediaRecord(2L, "image/png", gradientPng(64, 48, 8)),
      MediaRecord(3L, "image/png", noisePng(64, 48, 7L))).toDS()
    val want = Multimodal.imageNearDupPairs(recs, hammingMax = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = tempDir("graft-fpsnap-").toString
    // authoring is eager (the fingerprints land on disk here); the
    // returned frame reads FILES, so a drain between authoring and
    // materialization must be harmless — exactly what kills the
    // default localCheckpoint variant's blocks
    val viaPath = Multimodal.imageNearDupPairs(recs, hammingMax = 6,
      snapshotPath = Some(s"$dir/fps"))
    BenchHarness.drainLocalCheckpoints(spark)
    assert(viaPath.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want,
      "path-stable fingerprint cache diverged from the default (or " +
        "the drain broke it)")
    assert(want.nonEmpty, "fixture regression: no pairs at all")
  }
}
