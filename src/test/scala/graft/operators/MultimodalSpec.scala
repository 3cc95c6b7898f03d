package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val media = Multimodal.mediaFromDocuments(
    spark, graft.Tables.documents(spark, "/root/testdata/sf0.001"))

  test("media table has the binary + typed-metadata schema") {
    assert(media.schema("content").dataType.typeName == "binary")
    assert(media.schema("meta").dataType.typeName == "struct")
    assert(media.count() == 500)
  }

  test("image feature extraction: batch shape, deterministic, normalized dim") {
    val feats = Multimodal.imageFeatures(media, dim = 32)
    val rows = feats.orderBy("media_id").limit(3).collect()
    assert(rows.forall(_.getSeq[Float](1).length == 32))
    assert(rows.forall(_.getAs[Long]("n_bytes") > 0))
    // deterministic: rerun yields identical features
    val again = Multimodal.imageFeatures(media, dim = 32).orderBy("media_id").limit(3).collect()
    assert(rows.map(_.getSeq[Float](1)).toSeq == again.map(_.getSeq[Float](1)).toSeq)
  }

  test("resize updates payload and metadata together") {
    val resized = Multimodal.resize(media, 32, 32)
    val r = resized.orderBy("media_id").head()
    assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[Int]("width") == 32)
    val bytes = r.getAs[Array[Byte]]("content")
    assert(bytes.length <= 32 * 32 / 64 && bytes.nonEmpty)
  }

  test("frame sampling explodes metadata, not payload") {
    val frames = Multimodal.sampleFrameTimestamps(media, everyMs = 500)
    assert(!frames.columns.contains("content"))
    val one = frames.filter(col("media_id") === 0).collect().map(_.getLong(1)).toSeq
    val duration = media.filter(col("media_id") === 0)
      .select(col("meta.duration_ms")).head().getLong(0)
    assert(one == (0L until duration by 500L).toSeq)
  }

  test("composition: media features feed the similarity operators directly") {
    import spark.implicits._
    // two identical payloads + one different → cosine(features) pairs them
    val media = Seq(
      (10L, "identical media payload content".getBytes("UTF-8")),
      (11L, "identical media payload content".getBytes("UTF-8")),
      (12L, "completely different binary stuff here".getBytes("UTF-8"))
    ).toDF("media_id", "content")
    val feats = Multimodal.imageFeatures(media, dim = 32)
      .select($"media_id".as("vec_id"), $"features".as("embedding"))
    val pairs = Similarity.thresholdPairs(feats, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L)))
  }

  /** Minimal REAL MP4: ftyp + moov(mvhd v0 + trak(tkhd v0)) — the exact
    * ISO 14496-12 byte layout, built by hand. timescale 600, duration
    * 3000 ticks (= 5000 ms), presentation 640×360 (16.16 fixed).
    */
  private def mp4Fixture: Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 8 + 92)
    buf.putInt(16).put("ftypisom".getBytes("ISO-8859-1")).putInt(0)
    buf.putInt(8 + 108 + 8 + 92).put("moov".getBytes("ISO-8859-1"))
    // mvhd v0: ver/flags, creation, modification, timescale, duration,
    // rate, volume+reserved(12), matrix(36), predefined(24), next_track
    buf.putInt(108).put("mvhd".getBytes("ISO-8859-1"))
      .putInt(0).putInt(0).putInt(0).putInt(600).putInt(3000).putInt(0x00010000)
    buf.put(new Array[Byte](12)).put(new Array[Byte](36)).put(new Array[Byte](24))
    buf.putInt(2)
    // trak > tkhd v0: ver/flags, creation, mod, track_id, reserved,
    // duration, reserved(8), layer/alt/volume/reserved(8), matrix(36),
    // width, height (16.16)
    buf.putInt(8 + 92).put("trak".getBytes("ISO-8859-1"))
    buf.putInt(92).put("tkhd".getBytes("ISO-8859-1"))
      .putInt(0).putInt(0).putInt(0).putInt(1).putInt(0).putInt(3000)
    buf.put(new Array[Byte](8)).put(new Array[Byte](8)).put(new Array[Byte](36))
    buf.putInt(640 << 16).putInt(360 << 16)
    buf.array()
  }

  /** Minimal REAL Matroska: EBML header + Segment(Info(TimestampScale,
    * Duration) + Tracks(TrackEntry(Video(PixelWidth, PixelHeight)))).
    */
  private def mkvFixture: Array[Byte] = {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val video = b(0xB0, 0x82, 0x02, 0x80) ++ b(0xBA, 0x82, 0x01, 0x68) // 640×360
    val trackEntry = b(0xE0, 0x80 | video.length) ++ video
    val tracks = b(0xAE, 0x80 | trackEntry.length) ++ trackEntry
    val tracksEl = b(0x16, 0x54, 0xAE, 0x6B, 0x80 | tracks.length) ++ tracks
    val tsScale = b(0x2A, 0xD7, 0xB1, 0x83, 0x0F, 0x42, 0x40) // 1_000_000 ns
    val durBits = java.lang.Float.floatToIntBits(5000.0f)
    val duration = b(0x44, 0x89, 0x84,
      durBits >>> 24, (durBits >>> 16) & 0xff, (durBits >>> 8) & 0xff, durBits & 0xff)
    val info = tsScale ++ duration
    val infoEl = b(0x15, 0x49, 0xA9, 0x66, 0x80 | info.length) ++ info
    val seg = infoEl ++ tracksEl
    b(0x1A, 0x45, 0xDF, 0xA3, 0x84, 0, 0, 0, 0) ++
      b(0x18, 0x53, 0x80, 0x67, 0x80 | seg.length) ++ seg
  }

  test("MP4 container metadata parsed from real bytes (no codec)") {
    val m = graft.functions.ContainerMeta.probe(mp4Fixture).get
    assert(m.container == "mp4")
    assert(m.durationMs.contains(5000L))
    assert(m.width.contains(640) && m.height.contains(360))
  }

  test("MKV container metadata parsed from real EBML bytes") {
    val m = graft.functions.ContainerMeta.probe(mkvFixture).get
    assert(m.container == "matroska")
    assert(m.durationMs.contains(5000L))
    assert(m.width.contains(640) && m.height.contains(360))
  }

  test("garbage and truncated payloads probe to null, never throw") {
    assert(graft.functions.ContainerMeta.probe(Array[Byte](1, 2, 3)).isEmpty)
    assert(graft.functions.ContainerMeta.probe(Array.emptyByteArray).isEmpty)
    assert(graft.functions.ContainerMeta.probe(mp4Fixture.take(40)).isEmpty ||
      graft.functions.ContainerMeta.probe(mp4Fixture.take(40)).nonEmpty) // no throw
    assert(graft.functions.ContainerMeta.probe(mkvFixture.take(12)).isEmpty ||
      graft.functions.ContainerMeta.probe(mkvFixture.take(12)).nonEmpty) // no throw
  }

  test("probeMeta fills meta from container headers; frame sampling runs on it") {
    import spark.implicits._
    val media = Seq(
      (1L, mp4Fixture, "application/octet-stream"),
      (2L, mkvFixture, "application/octet-stream"),
      (3L, "not a video".getBytes("UTF-8"), "text/plain")
    ).toDF("media_id", "content", "m")
      .select(col("media_id"), col("content"), struct(
        col("m").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"),
        lit(null).cast("int").as("sample_rate")).as("meta"))
    val probed = Multimodal.probeMeta(media).orderBy("media_id").collect()
    val m1 = probed(0).getAs[org.apache.spark.sql.Row]("meta")
    assert(m1.getAs[String]("mime") == "video/mp4")
    assert(m1.getAs[Int]("width") == 640 && m1.getAs[Int]("height") == 360)
    assert(m1.getAs[Long]("duration_ms") == 5000L)
    val m2 = probed(1).getAs[org.apache.spark.sql.Row]("meta")
    assert(m2.getAs[String]("mime") == "video/x-matroska")
    assert(m2.getAs[Long]("duration_ms") == 5000L)
    val m3 = probed(2).getAs[org.apache.spark.sql.Row]("meta")
    assert(m3.getAs[String]("mime") == "text/plain" && m3.isNullAt(m3.fieldIndex("duration_ms")))
    // real container duration drives frame sampling: 5000 ms @ 1000 ms
    val frames = Multimodal.sampleFrameTimestamps(
      Multimodal.probeMeta(media), everyMs = 1000)
      .filter(col("media_id") === 1L).collect().map(_.getLong(1)).toSeq
    assert(frames == Seq(0L, 1000L, 2000L, 3000L, 4000L))
  }

  test("audio energy windows") {
    val e = Multimodal.audioFeatures(media, windows = 8).orderBy("media_id").head()
    val arr = e.getSeq[Float](1)
    assert(arr.length == 8 && arr.forall(_ >= 0))
  }

  /** Encode a solid-color PNG fixture with javax.imageio. */
  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real JDK codec: PNG features are pixel-derived, not byte-derived") {
    import spark.implicits._
    val white = pngBytes(8, 6, 0xffffff)
    val black = pngBytes(8, 6, 0x000000)
    val media = Seq((1L, white), (2L, black)).toDF("media_id", "content")
    val dim = 16
    val feats = Multimodal.imageFeatures(media, dim).orderBy("media_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // all-white pixels → all mass in the TOP luma bucket; black → bottom.
    assert(feats(1L).last == 1.0f && feats(1L).take(dim - 1).forall(_ == 0.0f), feats(1L))
    assert(feats(2L).head == 1.0f && feats(2L).drop(1).forall(_ == 0.0f), feats(2L))
    // the stub (byte histogram of the compressed PNG) would NOT concentrate
    // mass in one bucket — prove the real decoder ran, not the fallback
    val stub = Multimodal.StubCodecs.imageFeatures(white, dim)
    assert(stub.count(_ > 0.0f) > 1)
  }

  test("real JDK codec: resize produces a decodable PNG at the target dims") {
    import spark.implicits._
    val media = Seq((1L, pngBytes(32, 24, 0x3366cc))).toDF("media_id", "content")
      .select(col("media_id"), col("content"),
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.lit("image/png").as("mime"),
          org.apache.spark.sql.functions.lit(32).as("width"),
          org.apache.spark.sql.functions.lit(24).as("height"),
          org.apache.spark.sql.functions.lit(null).cast("long").as("duration_ms"),
          org.apache.spark.sql.functions.lit(null).cast("int").as("sample_rate")).as("meta"))
    val out = Multimodal.resize(media, targetW = 8, targetH = 6).head()
    val bytes = out.getAs[Array[Byte]]("content")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == 8 && img.getHeight == 6)
    // solid color survives bilinear resampling
    assert((img.getRGB(4, 3) & 0xffffff) == 0x3366cc)
    val meta = out.getAs[org.apache.spark.sql.Row]("meta")
    assert(meta.getAs[Int]("width") == 8 && meta.getAs[Int]("height") == 6)
  }

  test("real JDK audio codec: WAV RMS reflects the signal, not the bytes") {
    import spark.implicits._
    // 16-bit mono WAV: loud 440 Hz sine for the first half, silence after
    val rate = 8000
    val n = rate // 1 second
    val samples = new Array[Byte](n * 2)
    for (i <- 0 until n / 2) {
      val v = (math.sin(2 * math.Pi * 440 * i / rate) * 20000).toInt.toShort
      samples(i * 2) = (v & 0xff).toByte
      samples(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val df = Seq((1L, wav)).toDF("media_id", "content")
    val energy = Multimodal.audioFeatures(df, windows = 8).head().getSeq[Float](1)
    assert(energy.length == 8)
    // loud half ~0.43 RMS, silent half ~0
    assert(energy.take(4).forall(_ > 0.3f), s"loud windows: $energy")
    assert(energy.drop(4).forall(_ < 0.01f), s"silent windows: $energy")
    // the byte-level stub on the SAME payload cannot see the silence
    // boundary this sharply — prove the real decoder ran
    val viaStub = Multimodal.audioFeatures(df, windows = 8, useJdkCodec = false)
      .head().getSeq[Float](1)
    assert(energy != viaStub)
  }

  test("non-image payloads fall back to the deterministic stub") {
    import spark.implicits._
    val junk = "not an image at all".getBytes("UTF-8")
    val media = Seq((1L, junk)).toDF("media_id", "content")
    val real = Multimodal.imageFeatures(media, dim = 8).head().getSeq[Float](1)
    val viaStub = Multimodal.imageFeatures(media, dim = 8, useJdkCodec = false)
      .head().getSeq[Float](1)
    assert(real == viaStub) // decode failed → identical stub output
  }

  test("decoded flag: real decode true, stub fallback false, on every entry point") {
    import spark.implicits._
    val png = pngBytes(8, 6, 0x112233)
    val junk = "definitely not media".getBytes("UTF-8")
    val media = Seq((1L, png), (2L, junk)).toDF("media_id", "content")
    def flags(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.select("media_id", "decoded").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags(Multimodal.imageFeatures(media, dim = 8)) ==
      Map(1L -> true, 2L -> false))
    // a PNG is not decodable audio — both rows are stub-flagged
    assert(flags(Multimodal.audioFeatures(media, windows = 4)) ==
      Map(1L -> false, 2L -> false))
    // forcing the stub path must flag real images too
    assert(flags(Multimodal.imageFeatures(media, dim = 8, useJdkCodec = false)) ==
      Map(1L -> false, 2L -> false))
    val withMeta = media.select(col("media_id"), col("content"),
      org.apache.spark.sql.functions.lit(null).cast(
        "struct<mime:string,width:int,height:int,duration_ms:bigint,sample_rate:int>")
        .as("meta"))
    assert(flags(Multimodal.resize(withMeta, 4, 3)) ==
      Map(1L -> true, 2L -> false))
  }

  private def pngOf(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash near-dups: near-identical PNGs pair, a different image does not") {
    import spark.implicits._
    // smooth horizontal gradient — dHash bits follow the left<right ramp
    val base = pngOf(64, 64)((x, _) => { val v = x * 4; (v << 16) | (v << 8) | v })
    // same gradient with a small local edit (one 4×4 patch brightened):
    // perceptually near-identical → few dHash bits differ
    val nearDup = pngOf(64, 64) { (x, y) =>
      val v = if (x < 4 && y < 4) 255 else x * 4; (v << 16) | (v << 8) | v
    }
    // reversed gradient — every difference bit flips
    val different = pngOf(64, 64)((x, _) => { val v = 255 - x * 4; (v << 16) | (v << 8) | v })
    val media = Seq((1L, base), (2L, nearDup), (3L, different))
      .toDF("media_id", "content")
    val pairs = Multimodal.dHashNearDups(media, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // the real decoder ran: the reversed gradient's hash is the bitwise
    // complement class of the base's, i.e. hamming is large, not <= 3
    val sigs = media.select(col("media_id"),
        graft.functions.HashFunctions.dhash64(col("content")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 32)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 3)
  }

  test("dHash stub path: deterministic on text bytes, null on empty payload") {
    import spark.implicits._
    val media = Seq(
      (1L, "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")),
      (2L, "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")),
      (3L, Array.emptyByteArray)).toDF("media_id", "content")
    val sigs = media.select(col("media_id"),
        graft.functions.HashFunctions.dhash64(col("content")).as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(sigs(1L).isDefined && sigs(1L) == sigs(2L))
    assert(sigs(3L).isEmpty)
    // kernel-level replay of the documented stub definition: codepoint
    // plane sampled at floor(i*n/72), bit set iff luma[r][c] < luma[r][c+1]
    val text = "the quick brown fox jumps over the lazy dog"
    val cps = text.codePoints().toArray
    var expected = 0L
    for (r <- 0 until 8; c <- 0 until 8) {
      def luma(i: Int) = cps((i.toLong * cps.length / 72).toInt) & 0xff
      if (luma(r * 9 + c) < luma(r * 9 + c + 1)) expected |= 1L << (r * 8 + c)
    }
    assert(sigs(1L).contains(expected))
  }

  test("AVI raw-RGB round trip: container + DIB pixel decode are exact") {
    import Multimodal.AviCodec
    // odd width forces a padded row stride (51 → 52 bytes)
    val frames = Seq(
      AviCodec.rgbFrameBytes(17, 6, (x, y) =>
        if ((x + y) % 2 == 0) (10, 20, 30) else (65, 75, 85)),
      AviCodec.rgbFrameBytes(17, 6, (_, _) => (200, 100, 50)))
    val avi = AviCodec.buildAvi(17, 6, "RGB", frames)
    val parsed = AviCodec.parseAvi(avi).get
    assert((parsed.width, parsed.height, parsed.compression) == (17, 6, "RGB"))
    assert(parsed.frames.size == 2)
    val l0 = AviCodec.frameLumaMilli(parsed, parsed.frames(0)).get
    val lumaA = 299 * 10 + 587 * 20 + 114 * 30
    val lumaB = 299 * 65 + 587 * 75 + 114 * 85
    assert(l0.min == lumaA && l0.max == lumaB)
    // checker layout survives the bottom-up padded decode: corner pixel
    // (0,0) is an A pixel, (1,0) a B pixel
    assert(l0(0) == lumaA && l0(1) == lumaB)
    assert(l0.count(_ == lumaA) == 51 && l0.count(_ == lumaB) == 51)
    val l1 = AviCodec.frameLumaMilli(parsed, parsed.frames(1)).get
    assert(l1.distinct.toSeq == Seq(299 * 200 + 587 * 100 + 114 * 50))
  }

  test("AVI MJPEG: real JPEG frames decode to a real luma histogram") {
    import Multimodal.AviCodec
    // two solid-gray frames JPEG-encoded through imageio — decode must
    // recover each frame's level within JPEG quantization error
    def jpegFrame(level: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(level, level, level))
      g.fillRect(0, 0, 32, 24); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val avi = AviCodec.buildAvi(32, 24, "MJPG", Seq(jpegFrame(64), jpegFrame(192)))
    val parsed = AviCodec.parseAvi(avi).get
    assert(parsed.compression == "MJPG" && parsed.frames.size == 2)
    val hists = parsed.frames.map { f =>
      val lumas = AviCodec.frameLumaMilli(parsed, f).get
      assert(lumas.length == 32 * 24)
      lumas.sum.toDouble / lumas.length / 1000.0 // mean luma 0-255
    }
    assert(math.abs(hists(0) - 64) < 4, s"frame0 mean ${hists(0)}")
    assert(math.abs(hists(1) - 192) < 4, s"frame1 mean ${hists(1)}")
  }

  test("MOV: build/parse round-trip, multi-sample chunks, decoded luma, garbage nulls") {
    import graft.operators.Multimodal.QtCodec
    def solidJpeg(r: Int, g: Int, b: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 16)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val frames = Seq(solidJpeg(64, 64, 64), solidJpeg(192, 192, 192),
      solidJpeg(10, 200, 30))
    for (spc <- Seq(1, 2)) { // 1:1 layout AND the general stsc expansion
      val mov = QtCodec.buildMov(16, 8, 25, frames, samplesPerChunk = spc)
      val parsed = QtCodec.parseMov(mov).get
      assert(parsed.width == 16 && parsed.height == 8 &&
        parsed.codec == "jpeg")
      assert(parsed.durationMs.contains(120L)) // 3 frames @ 25fps
      assert(parsed.frames.size == 3)
      // sample slicing must be byte-exact (JPEGs survive the round-trip)
      assert(parsed.frames.zip(frames).forall { case (a, b) =>
        java.util.Arrays.equals(a, b) })
    }
    // decoded luma of a solid frame ≈ BT.601 of its color (JPEG loss)
    val lum = QtCodec.jpegLumaMilli(frames(1)).get
    assert(math.abs(lum.sum.toDouble / lum.length - 192000) < 4000)
    // ContainerMeta's BMFF walk reads the same file (16.16 tkhd dims)
    val meta = graft.functions.ContainerMeta.probe(
      QtCodec.buildMov(16, 8, 25, frames)).get
    assert(meta.width.contains(16) && meta.height.contains(8) &&
      meta.durationMs.contains(120L))
    assert(QtCodec.parseMov("garbage".getBytes("UTF-8")).isEmpty)
    assert(QtCodec.parseMov(Array[Byte](0, 0, 0, 8, 'f', 'r', 'e', 'e')).isEmpty)
  }

  test("parseMov: a trailing audio trak must not hijack the video sample tables") {
    import graft.operators.Multimodal.QtCodec
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def box(t: String, p: Array[Byte]) =
      be32(p.length + 8) ++ t.getBytes("US-ASCII") ++ p
    // minimal audio trak: 'mp4a' stsd + sample tables claiming 99
    // uniform-7-byte samples — the real-world video-then-audio layout
    val stsd = box("stsd", be32(0) ++ be32(1) ++
      box("mp4a", Array.fill[Byte](36)(0)))
    val stsz = box("stsz", be32(0) ++ be32(7) ++ be32(99))
    val stco = box("stco", be32(0) ++ be32(1) ++ be32(16))
    val stsc = box("stsc", be32(0) ++ be32(1) ++
      be32(1) ++ be32(99) ++ be32(1))
    val audioTrak = box("trak", box("mdia", box("minf",
      box("stbl", stsd ++ stsz ++ stco ++ stsc))))
    val frames = Seq(Array.tabulate(9)(_.toByte),
      Array.tabulate(5)(i => (i + 40).toByte))
    val mov = QtCodec.buildMov(16, 8, 25, frames)
    // splice the audio trak into moov (the last top-level box)
    var o = 0
    var moovAt = -1
    while (o + 8 <= mov.length) {
      val sz = ((mov(o) & 0xff) << 24) | ((mov(o + 1) & 0xff) << 16) |
        ((mov(o + 2) & 0xff) << 8) | (mov(o + 3) & 0xff)
      if (new String(mov, o + 4, 4, "US-ASCII") == "moov") moovAt = o
      o += sz
    }
    assert(moovAt >= 0)
    val moovPayload = mov.slice(moovAt + 8, mov.length)
    val spliced = mov.take(moovAt) ++ box("moov", moovPayload ++ audioTrak)
    val parsed = QtCodec.parseMov(spliced).get
    // pre-fix, the audio stsz/stco/stsc overwrote the video tables
    // (99 bogus samples); the video trak's 2 frames must win
    assert(parsed.codec == "jpeg" && parsed.frames.size == 2)
    assert(parsed.frames.zip(frames).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) })
  }

  test("parseAvi: a crafted chunk size near Int.MaxValue rejects, never throws") {
    import graft.operators.Multimodal.AviCodec
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val crafted = "RIFF".getBytes("US-ASCII") ++ le32(100) ++
      "AVI ".getBytes("US-ASCII") ++
      "00dc".getBytes("US-ASCII") ++ le32(0x7FFFFFF0) ++
      Array.fill[Byte](32)(0)
    assert(AviCodec.parseAvi(crafted).isEmpty)
    // oversized strf dimensions reject instead of wrapping downstream
    val hugeDims = {
      val strf = "strf".getBytes("US-ASCII") ++ le32(40) ++
        le32(40) ++ le32(1000000000) ++ le32(1000000000) ++
        Array[Byte](1, 0, 24, 0) ++ le32(0) ++ Array.fill[Byte](16)(0)
      val strl = "LIST".getBytes("US-ASCII") ++ le32(strf.length + 4) ++
        "strl".getBytes("US-ASCII") ++ strf
      val hdrl = "LIST".getBytes("US-ASCII") ++ le32(strl.length + 4) ++
        "hdrl".getBytes("US-ASCII") ++ strl
      "RIFF".getBytes("US-ASCII") ++ le32(hdrl.length + 4) ++
        "AVI ".getBytes("US-ASCII") ++ hdrl
    }
    assert(AviCodec.parseAvi(hugeDims).isEmpty)
  }

  test("MP4/ISO-BMFF: brand dispatch, co64 offsets, opaque ISO codec samples") {
    import graft.operators.Multimodal.QtCodec
    val samples = Seq(Array.tabulate(9)(_.toByte),
      Array.tabulate(5)(i => (i + 40).toByte), Array.tabulate(13)(i => (i * 3).toByte))
    // every (brand, co64, spc) combination the synthesis sweeps
    for (brand <- Seq("isom", "mp41", "mp42"); co64 <- Seq(true, false);
         spc <- Seq(1, 2)) {
      val mp4 = QtCodec.buildMov(320, 240, 25, samples,
        samplesPerChunk = spc, brand = brand, useCo64 = co64, codec = "avc1")
      val parsed = QtCodec.parseMov(mp4).get
      assert(parsed.brand.contains(brand))
      assert(parsed.codec == "avc1")
      assert(parsed.width == 320 && parsed.height == 240)
      assert(parsed.durationMs.contains(120L))
      // opaque samples slice byte-exactly through stsz + stsc + co64/stco
      assert(parsed.frames.size == 3)
      assert(parsed.frames.zip(samples).forall { case (a, b) =>
        java.util.Arrays.equals(a, b) })
    }
    // the classic QT writer still reports its brand; unbranded walk is None
    assert(QtCodec.parseMov(QtCodec.buildMov(16, 8, 25,
      Seq(Array[Byte](1, 2, 3)), codec = "mp4v")).get.brand.contains("qt  "))
    // an unrecognized sample-description fourcc claims no track
    assert(QtCodec.parseMov(QtCodec.buildMov(16, 8, 25,
      Seq(Array[Byte](1, 2, 3)), codec = "zzzz")).isEmpty)
  }

  test("ZIP: central-directory walk — own writer, JDK deflated zip, comments, garbage") {
    import graft.operators.Multimodal.ZipCodec
    // own STORED writer round-trips exactly
    val z = ZipCodec.buildZip(Seq(
      ("a.txt", Array[Byte](1, 2, 3)), ("b.bin", Array[Byte](9))))
    val m = ZipCodec.parseZip(z).get
    assert(m.nEntries == 2 && m.totalUncompressed == 4L &&
      m.totalCompressed == 4L)
    assert(m.nStored == 2 && m.nDeflated == 0)
    assert(m.firstName.contains("a.txt"))
    // a REAL JDK ZipOutputStream archive (deflated, with a comment —
    // exercises the EOCD comment-window scan) parses correctly
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.setComment("trailing archive comment")
    val payload = ("deterministic payload " * 20).getBytes("US-ASCII")
    zos.putNextEntry(new java.util.zip.ZipEntry("doc/readme.txt"))
    zos.write(payload); zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("doc/data.bin"))
    zos.write(Array[Byte](5, 6, 7, 8)); zos.closeEntry()
    zos.close()
    val jm = ZipCodec.parseZip(bos.toByteArray).get
    assert(jm.nEntries == 2)
    assert(jm.totalUncompressed == payload.length + 4L)
    assert(jm.nDeflated >= 1, s"deflate census: $jm")
    assert(jm.firstName.contains("doc/readme.txt"))
    // non-archives reject cleanly
    assert(ZipCodec.parseZip("garbage not a zip".getBytes("UTF-8")).isEmpty)
    assert(ZipCodec.parseZip(Array.fill[Byte](30)(0)).isEmpty)
  }

  test("WARC: Content-Length framing survives CRLF-laden payloads; census; garbage") {
    import graft.operators.Multimodal.WarcCodec
    // payload 2 embeds \r\n\r\nWARC/1.0 — a delimiter-scanning parser
    // would split here; Content-Length framing must not
    val trap = "x\r\n\r\nWARC/1.0\r\ny".getBytes("US-ASCII")
    val warc = WarcCodec.buildWarc(Seq(
      ("response", "http://a/1", Array[Byte](1, 2, 3)),
      ("request", "http://a/2", trap),
      ("metadata", "http://a/3", Array.emptyByteArray)))
    val m = WarcCodec.parseWarc(warc).get
    assert(m.nRecords == 3)
    assert(m.nResponse == 1 && m.nRequest == 1)
    assert(m.totalPayload == 3L + trap.length)
    assert(m.firstUri.contains("http://a/1"))
    // a record missing Content-Length rejects; garbage rejects
    val noLen = ("WARC/1.0\r\nWARC-Type: response\r\n\r\n").getBytes("US-ASCII")
    assert(WarcCodec.parseWarc(noLen).isEmpty)
    assert(WarcCodec.parseWarc("HTTP/1.1 200 OK\r\n\r\n".getBytes("US-ASCII")).isEmpty)
    assert(WarcCodec.parseWarc(Array.emptyByteArray).isEmpty)
  }

  test("HTTP-in-WARC: status/content-type/body framing; non-response records skipped") {
    import graft.operators.Multimodal.{HttpCodec, WarcCodec}
    val body = "<html>body with\r\n\r\nbreaks</html>".getBytes("US-ASCII")
    val http = ("HTTP/1.1 301 Moved Permanently\r\nLocation: http://b/\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n\r\n").getBytes("US-ASCII") ++ body
    val h = HttpCodec.parseResponseHead(http).get
    assert(h.status == 301)
    assert(h.contentType.contains("text/html; charset=utf-8"))
    assert(h.bodyLen == body.length.toLong)
    // request records are skipped; only the response payload surfaces
    val warc = WarcCodec.buildWarc(Seq(
      ("request", "http://a/", "GET / HTTP/1.1\r\n\r\n".getBytes("US-ASCII")),
      ("response", "http://a/", http)))
    val payloads = WarcCodec.responsePayloads(warc)
    assert(payloads.size == 1)
    assert(HttpCodec.parseResponseHead(payloads.head).get.status == 301)
    // non-HTTP payloads and garbage reject
    assert(HttpCodec.parseResponseHead("WARC/1.0\r\n\r\n".getBytes("US-ASCII")).isEmpty)
    assert(HttpCodec.parseResponseHead(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("charset resolution: declared, quoted, mixed-case, absent, unknown") {
    import graft.operators.Multimodal.HttpCodec.resolveCharset
    assert(resolveCharset(Some("text/html; charset=utf-8")) == "utf-8")
    assert(resolveCharset(Some("text/html; charset=ISO-8859-1")) == "iso-8859-1")
    assert(resolveCharset(Some("text/html; charset=\"Windows-1252\"")) == "windows-1252")
    assert(resolveCharset(Some("text/html; boundary=x; charset=utf-8")) == "utf-8")
    // absent / unknown / invalid declarations fall back to the
    // windows-1252 legacy default — never throw
    assert(resolveCharset(Some("text/html")) == "windows-1252")
    assert(resolveCharset(Some("text/html; charset=not-a-charset")) == "windows-1252")
    assert(resolveCharset(Some("text/html; charset=???")) == "windows-1252")
    assert(resolveCharset(None) == "windows-1252")
  }

  test("charset decode: same bytes, different charsets, different text; U+FFFD on malformed") {
    import graft.operators.Multimodal.HttpCodec.decodeBody
    // 0x80 is € in windows-1252 but the C1 control U+0080 in
    // iso-8859-1 and a malformed lead byte in utf-8 — the decode MUST
    // depend on the charset
    val b = Array[Byte](0x61, 0x80.toByte, 0x62)
    assert(decodeBody(b, 0, "windows-1252") == "a€b")
    assert(decodeBody(b, 0, "iso-8859-1") == "a\u0080b")
    assert(decodeBody(b, 0, "utf-8") == "a�b")
    // é: 0xE9 in both Latin charsets, two bytes in utf-8
    assert(decodeBody(Array(0xe9.toByte), 0, "iso-8859-1") == "é")
    assert(decodeBody("é".getBytes("UTF-8"), 0, "utf-8") == "é")
    // offset slicing
    assert(decodeBody("XXhéllo".getBytes("ISO-8859-1"), 2, "iso-8859-1") == "héllo")
  }

  test("warcHtmlText: non-UTF-8 pages decode per declared charset end to end") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.WarcCodec
    def page(ct: String, html: String, cs: String): Array[Byte] = {
      val body = html.getBytes(cs)
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++ body
    }
    val latin = page("text/html; charset=ISO-8859-1",
      "<html><title>café</title>x</html>", "ISO-8859-1")
    val cp1252 = page("text/html", // undeclared → windows-1252 default
      "<html><title>€5 – oui</title>y</html>", "windows-1252")
    val utf8 = page("text/html; charset=utf-8",
      "<html><title>日本</title>z</html>", "UTF-8")
    val json = page("application/json; charset=utf-8", "{}", "UTF-8")
    val media = Seq(
      (1L, WarcCodec.buildWarc(Seq(("response", "http://a/1", latin)))),
      (2L, WarcCodec.buildWarc(Seq(("response", "http://a/2", cp1252)))),
      (3L, WarcCodec.buildWarc(Seq(("response", "http://a/3", utf8),
        ("response", "http://a/4", json))))).toDF("media_id", "content")
    val out = Multimodal.warcHtmlText(media).collect()
      .map(r => r.getLong(0) -> ((r.getString(3), r.getString(4)))).toMap
    assert(out.size == 3) // the json response is not text/html
    assert(out(1L) == (("iso-8859-1", "<html><title>café</title>x</html>")))
    assert(out(2L) == (("windows-1252", "<html><title>€5 – oui</title>y</html>")))
    assert(out(3L) == (("utf-8", "<html><title>日本</title>z</html>")))
  }

  test("tar/zip totality on crafted headers: huge octal size, ZIP64 sentinels") {
    import graft.operators.Multimodal.{TarCodec, ZipCodec}
    // a checksum-VALID ustar header declaring an 8 GiB member inside a
    // 2-block archive: the Long walk must terminate cleanly (an Int
    // skip wrapped negative here)
    val tar = TarCodec.buildTar(Seq(("a.dat", Array[Byte](1))))
    val huge = "77777777777".getBytes("US-ASCII") // 8^11-1 bytes, octal
    System.arraycopy(huge, 0, tar, 124, huge.length)
    tar(124 + huge.length) = 0
    // re-checksum so the header is otherwise valid
    var sum = 0L
    for (i <- 0 until 512)
      sum += (if (i >= 148 && i < 156) ' '.toInt else tar(i) & 0xff)
    val cs = ("%06o".format(sum) + "\u0000 ").getBytes("US-ASCII")
    System.arraycopy(cs, 0, tar, 148, 8)
    val m = TarCodec.parseTar(tar)
    assert(m.isEmpty || m.get.nEntries == 1) // terminates, never throws
    // ZIP64 EOCD sentinels: report unparseable, not wrong counts
    val zip = ZipCodec.buildZip(Seq(("a", Array[Byte](1, 2))))
    val eocd = zip.length - 22
    zip(eocd + 10) = 0xff.toByte; zip(eocd + 11) = 0xff.toByte
    assert(ZipCodec.parseZip(zip).isEmpty)
    val zip2 = ZipCodec.buildZip(Seq(("a", Array[Byte](1, 2))))
    val e2 = zip2.length - 22
    for (i <- 16 to 19) zip2(e2 + i) = 0xff.toByte
    assert(ZipCodec.parseZip(zip2).isEmpty)
  }

  test("gzip: RFC 1952 framing round-trip, JDK interop both directions, garbage") {
    import graft.operators.Multimodal.GzipCodec
    val data = Array.tabulate(37)(i => (i * 3).toByte)
    val gz = GzipCodec.buildGzip("member.txt", 1234L, data)
    val m = GzipCodec.parseGzip(gz).get
    assert(m.method == 8 && m.mtime == 1234L)
    assert(m.fname.contains("member.txt"))
    assert(m.isize == 37L && m.compressedLen == gz.length)
    // our stored-deflate member is a REAL gzip: the JDK decompresses it
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(gz))
    val back = in.readAllBytes()
    assert(java.util.Arrays.equals(back, data))
    // ...and a JDK-compressed member parses (no FNAME, real deflate)
    val bos = new java.io.ByteArrayOutputStream()
    val gzo = new java.util.zip.GZIPOutputStream(bos)
    gzo.write(("payload " * 50).getBytes("US-ASCII")); gzo.close()
    val jm = GzipCodec.parseGzip(bos.toByteArray).get
    assert(jm.method == 8 && jm.fname.isEmpty && jm.isize == 400L)
    assert(GzipCodec.parseGzip("not gzip".getBytes("UTF-8")).isEmpty)
  }

  test("tar: ustar checksum-validated walk — files, dirs, padding, garbage") {
    import graft.operators.Multimodal.TarCodec
    val tar = TarCodec.buildTar(
      Seq(("a/x.dat", Array.tabulate(700)(_.toByte)),
        ("a/y.dat", Array[Byte](1, 2, 3))),
      dirs = Seq("a/"))
    val m = TarCodec.parseTar(tar).get
    assert(m.nEntries == 3 && m.nFiles == 2 && m.nDirs == 1)
    assert(m.totalSize == 703L)
    assert(m.firstName.contains("a/"))
    // a corrupted checksum rejects the whole archive (not a wrong row)
    val bad = tar.clone()
    bad(148) = '7'
    assert(TarCodec.parseTar(bad).isEmpty)
    assert(TarCodec.parseTar(new Array[Byte](1024)).isEmpty)
    assert(TarCodec.parseTar("short".getBytes("UTF-8")).isEmpty)
  }

  test("EXIF: both byte orders round-trip; non-EXIF and garbage probe to null") {
    import graft.functions.ExifMeta
    for (le <- Seq(true, false)) {
      val jpeg = ExifMeta.build(le, orientation = 6, width = 1024,
        height = 768, make = "TestCam", datetime = "2024:03:01 08:30:00")
      val m = ExifMeta.probe(jpeg).get
      assert(m.byteOrder == (if (le) "II" else "MM"))
      assert(m.orientation.contains(6) && m.width.contains(1024) &&
        m.height.contains(768))
      assert(m.make.contains("TestCam"))
      assert(m.datetime.contains("2024:03:01 08:30:00"))
    }
    // a real JPEG without an Exif segment parses to None (not a crash)
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    assert(ExifMeta.probe(bos.toByteArray).isEmpty)
    assert(ExifMeta.probe("garbage".getBytes("UTF-8")).isEmpty)
    val trunc = ExifMeta.build(true, 1, 10, 10, "x", "y").take(20)
    assert(ExifMeta.probe(trunc).isEmpty)
  }

  test("WAV probe: header round-trip, real AudioSystem WAV parses, garbage nulls") {
    import graft.functions.AudioMeta
    val wav = AudioMeta.build(channels = 2, sampleRate = 16000,
      bitsPerSample = 16, frames = 1600) // 100 ms stereo
    val m = AudioMeta.probe(wav).get
    assert(m.channels == 2 && m.sampleRate == 16000 && m.bitsPerSample == 16)
    assert(m.dataBytes == 1600L * 4 && m.durationMs.contains(100L))
    // a WAV written by javax.sound parses to the same header fields
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](8000 * 2) // 1 s mono
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 8000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val real = AudioMeta.probe(bos.toByteArray).get
    assert(real.channels == 1 && real.sampleRate == 8000 &&
      real.durationMs.contains(1000L))
    assert(AudioMeta.probe("RIFFjunk".getBytes("UTF-8")).isEmpty)
    assert(AudioMeta.probe(wav.take(16)).isEmpty)
  }

  test("videoFrameStats: per-frame rows from real decode; non-AVI yields none") {
    import spark.implicits._
    import Multimodal.AviCodec
    val avi = AviCodec.buildAvi(17, 6, "RGB", Seq(
      AviCodec.rgbFrameBytes(17, 6, (x, y) =>
        if ((x + y) % 2 == 0) (1, 2, 3) else (60, 70, 80))))
    val media = Seq(
      (1L, avi),
      (2L, "not a video".getBytes("UTF-8"))).toDF("media_id", "content")
    val out = Multimodal.videoFrameStats(media).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("media_id") == 1L)
    assert(r.getAs[Long]("n_pixels") == 102L)
    assert(r.getAs[Long]("min_luma_milli") == 299 + 587 * 2 + 114 * 3)
    assert(r.getAs[Long]("max_luma_milli") == 299 * 60 + 587 * 70 + 114 * 80)
    assert(r.getAs[Long]("n_min_pixels") == 51L)
  }

  test("PNG probe: round-trip, ImageIO cross-check, CRC corruption nulls") {
    import graft.functions.PngMeta
    val png = PngMeta.build(width = 20, height = 10, colorType = 2,
      text = Some(("Source", "doc-7")))
    val m = PngMeta.probe(png).get
    assert(m.width == 20 && m.height == 10)
    assert(m.bitDepth == 8 && m.colorType == 2 && m.interlace == 0)
    assert(m.nChunks == 4) // IHDR, tEXt, IDAT, IEND
    assert(m.textKeyword.contains("Source") && m.textValue.contains("doc-7"))
    // the built PNG is decoder-valid: ImageIO reads it at the same dims
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img != null && img.getWidth == 20 && img.getHeight == 10)
    // an ImageIO-written real PNG probes to its true dims
    val bi = new java.awt.image.BufferedImage(33, 21,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    val real = PngMeta.probe(bos.toByteArray).get
    assert(real.width == 33 && real.height == 21 && real.bitDepth == 8)
    // flip one IHDR payload byte: CRC check must null the probe
    val corrupt = png.clone(); corrupt(16) = (corrupt(16) ^ 1).toByte
    assert(PngMeta.probe(corrupt).isEmpty)
    assert(PngMeta.probe(png.take(30)).isEmpty) // truncated
    assert(PngMeta.probe("not a png at all".getBytes("UTF-8")).isEmpty)
  }

  test("MP3 probe: ID3 syncsafe size, frame tables, raw-frame and garbage") {
    import graft.functions.Mp3Meta
    // tag size 200 crosses the 7-bit syncsafe boundary (0x81 0x48)
    val mp3 = Mp3Meta.build(id3TagBytes = 200, bitrateIdx = 9, rateIdx = 1,
      padding = 1, modeIdx = 3)
    val m = Mp3Meta.probe(mp3).get
    assert(m.id3Version.contains("2.3.0") && m.id3Size.contains(200L))
    assert(m.bitrateKbps == 128 && m.sampleRate == 48000)
    assert(m.channelMode == "mono")
    assert(m.frameBytes == 144 * 128 * 1000 / 48000 + 1)
    // frame with no ID3 envelope: id3 fields null, frame fields parse
    val raw = mp3.drop(10 + 200)
    val r = Mp3Meta.probe(raw).get
    assert(r.id3Version.isEmpty && r.bitrateKbps == 128)
    // free-bitrate (index 0) frames are rejected
    val free = raw.clone(); free(2) = (free(2) & 0x0f).toByte
    assert(Mp3Meta.probe(free).isEmpty)
    assert(Mp3Meta.probe(mp3.take(40)).isEmpty) // truncated inside tag
    assert(Mp3Meta.probe("ID3 but not really".getBytes("UTF-8")).isEmpty)
  }

  test("sniffMime: real codec bytes for every family; texty and junk fall through") {
    import graft.operators.Multimodal.{GzipCodec, QtCodec, TarCodec, WarcCodec, ZipCodec}
    import org.apache.spark.sql.functions.col
    val payload = Array.tabulate(16)(_.toByte)
    val frames = Seq(Array.tabulate(9)(_.toByte))
    val cases: Seq[(Array[Byte], String)] = Seq(
      graft.functions.PngMeta.build(8, 4, 0, None) -> "png",
      graft.functions.Mp3Meta.build(20, 5, 0, 0, 0) -> "mp3",
      // raw MP3 frame (no ID3 envelope) → frame-sync leg
      graft.functions.Mp3Meta.build(20, 5, 0, 0, 0).drop(30) -> "mp3",
      ZipCodec.buildZip(Seq("a.txt" -> payload)) -> "zip",
      GzipCodec.buildGzip("a.txt", 7L, payload) -> "gzip",
      TarCodec.buildTar(Seq("a.dat" -> payload), Nil) -> "tar",
      WarcCodec.buildWarc(Seq(("response", "http://x/", payload))) -> "warc",
      QtCodec.buildMov(16, 8, 25, frames) -> "mp4",
      graft.functions.AudioMeta.build(1, 8000, 16, 80) -> "wav",
      "%PDF-1.7 junk".getBytes("UTF-8") -> "pdf",
      "  \n\t<!DOCTYPE html><html></html>".getBytes("UTF-8") -> "html",
      "<HTML><body>x</body>".getBytes("UTF-8") -> "html",
      "plain text, no markup".getBytes("UTF-8") -> "unknown",
      Array[Byte](0x1f) -> "unknown", // truncated gzip magic
      // JPEG magic matches no branch and is INVALID UTF-8 — the head
      // probe must be byte-safe (Latin-1), not throw
      Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10, 0x4A, 0x46)
        .map(_.toByte) -> "unknown",
      // multi-byte char straddling the 64-byte head cut: 62 spaces +
      // a 3-byte UTF-8 char = the cut lands mid-sequence
      ((" " * 62) + "€ x").getBytes("UTF-8") -> "unknown",
      Array.emptyByteArray -> "unknown")
    import spark.implicits._
    val df = cases.zipWithIndex
      .map { case ((b, exp), i) => (i.toLong, b, exp) }
      .toDF("media_id", "content", "expected")
    val bad = df
      .select(col("media_id"), col("expected"),
        graft.operators.Multimodal.sniffMime(col("content")).as("got"))
      .filter(col("got") =!= col("expected")).collect()
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("PdfCodec: build/parse round trip; corrupt xref; non-PDF -> None") {
    import graft.operators.Multimodal.PdfCodec
    for (n <- 1 to 4) {
      val m = PdfCodec.parsePdf(PdfCodec.buildPdf(n, s"c$n")).get
      assert(m.version == "1.4")
      assert(m.nPages == n) // /Type /Pages never counted as a page
      assert(m.nObjs == n + 3)
      assert(m.xrefOk, s"xref offset bookkeeping broken at n=$n")
    }
    // corrupted startxref: objects intact, pointer misses the table
    val bad = PdfCodec.parsePdf(PdfCodec.buildPdf(2, "x",
      corruptXref = true)).get
    assert(bad.nPages == 2 && !bad.xrefOk)
    // comment length shifts every offset; xref must still land
    assert(PdfCodec.parsePdf(PdfCodec.buildPdf(3,
      "a much longer comment line to shift all byte offsets")).get.xrefOk)
    assert(PdfCodec.parsePdf("not a pdf at all".getBytes("US-ASCII")).isEmpty)
    assert(PdfCodec.parsePdf("%PDF-1.4 but truncated".getBytes("US-ASCII")).isEmpty)
    assert(PdfCodec.parsePdf(Array.emptyByteArray).isEmpty)
    // a wild /Size past Int.MaxValue is INVALID (None), never truncated
    // into a small/negative n_objs (fuzz-facing parser)
    val huge = PdfCodec.buildPdf(1, "c")
    val hugeStr = new String(huge, "ISO-8859-1")
      .replaceFirst("/Size \\d+", "/Size 21474836470")
    assert(PdfCodec.parsePdf(hugeStr.getBytes("ISO-8859-1")).isEmpty,
      "overflowing /Size must not parse")
  }

  test("pdfMeta over synthetic docs: closed-form columns; non-PDF rows drop") {
    import spark.implicits._
    val docs = (0L until 60L).toDF("doc_id")
    val out = graft.operators.Multimodal.pdfMeta(
      graft.operators.Multimodal.syntheticPdfFromDocs(docs))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2),
        r.getInt(3), r.getBoolean(4)))).toMap
    assert(!out.contains(9L) && !out.contains(18L)) // not PDFs
    assert(out.size == 60 - 7) // 9,18,27,36,45,54 plus 0 (d%9==0)
    assert(out(1L) == (("1.4", 5, 2, true)))
    assert(out(11L) == (("1.4", 7, 4, false))) // corrupt startxref arm
    assert(out(22L) == (("1.4", 6, 3, false)))
  }
}
