package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video handled as opaque `binary`
  * columns with typed metadata, processed in partition-sized batches.
  *
  * IMAGES are decoded for REAL via the JDK's javax.imageio
  * ([[JdkImageCodec]]: PNG/JPEG/GIF/BMP decode, pixel-luma features,
  * bilinear resize) and AUDIO via javax.sound.sampled
  * ([[JdkAudioCodec]]: WAV/AIFF/AU PCM decode, per-window RMS) — no
  * external libs needed. Payloads that don't decode fall back per-row to
  * the deterministic fake ([[StubCodecs]]), which also stands in for
  * VIDEO *frame* codecs (absent from the JDK/container) — video container
  * METADATA (duration, dimensions) is parsed for real from MP4/MKV
  * headers by [[probeMeta]], byte arithmetic only. Everything else — the
  * schema, the `mapPartitions` batch shape (the Scala analog of
  * `mapInPandas`), the partitioning and the downstream feature plumbing —
  * is shared between both paths and tested.
  *
  * Scale notes: media rows are big; the ops below never shuffle the binary
  * payload (feature extraction is a narrow map; frame sampling explodes
  * metadata, not bytes). Repartition by size-classed buckets upstream if
  * file sizes are skewed.
  */
object Multimodal {

  // JVM-global, once per executor (object init): ImageIO's default
  // file-backed stream cache creates+deletes a TEMP FILE per decode —
  // per-row disk I/O on in-memory byte arrays (same setting as
  // HashUtil's dhash path)
  javax.imageio.ImageIO.setUseCache(false)

  /** media table schema: one row per asset. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType),
      StructField("sample_rate", IntegerType))))))

  /** Deterministic fake codecs — STUB for the real decoders. Each derives
    * its output purely from the input bytes, so tests and reruns are
    * reproducible.
    */
  object StubCodecs {
    /** STUB decode: "pixel statistics" from byte histogram (stands in for
      * decode→resize→normalize→embed).
      */
    def imageFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < bytes.length) {
        out(((bytes(i) & 0xff) * 31 + i) % dim) += 1.0f
        i += 1
      }
      val n = math.max(bytes.length, 1).toFloat
      out.map(_ / n)
    }

    /** STUB resize: re-encode to a deterministic downsample of the bytes. */
    def resize(bytes: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      if (bytes.isEmpty) return bytes
      val target = math.max(1, math.min(bytes.length, targetW * targetH / 64))
      val out = new Array[Byte](target)
      var i = 0
      while (i < target) { out(i) = bytes((i.toLong * bytes.length / target).toInt); i += 1 }
      out
    }

    /** STUB audio features: windowed byte energy (stands in for PCM RMS). */
    def audioEnergy(bytes: Array[Byte], windows: Int): Array[Float] = {
      val out = new Array[Float](windows)
      if (bytes.isEmpty) return out
      val step = math.max(1, bytes.length / windows)
      var w = 0
      while (w < windows) {
        var s = 0L
        var i = w * step
        val end = math.min(bytes.length, i + step)
        while (i < end) { s += math.abs(bytes(i).toInt); i += 1 }
        out(w) = s.toFloat / math.max(1, end - w * step)
        w += 1
      }
      out
    }
  }

  /** REAL image codec on the JDK's javax.imageio — no external libs.
    * Decodes PNG/JPEG/GIF/BMP to pixels, extracts pixel-derived features,
    * and resizes via Graphics2D bilinear + PNG re-encode (deterministic:
    * the PNG encoder writes no timestamps). Returns None when the bytes
    * are not a decodable image so callers can fall back to [[StubCodecs]]
    * — that makes the real codec safe as the DEFAULT even on corpora
    * where only some payloads are images.
    */
  object JdkImageCodec {
    private def decode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (bytes.isEmpty) None
      else try {
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      } catch {
        // corrupt-but-magic-matching payloads make JDK readers throw
        // RuntimeExceptions too (CMMException on broken ICC profiles,
        // AIOOBE/IAE in JPEG paths) — any decode failure means "not an
        // image", never a task failure
        case scala.util.control.NonFatal(_) => None
      }

    /** Pixel features: dim-bucket luma histogram, normalized by pixel
      * count — a real decode→grayscale→histogram pipeline (the place a
      * model embedding would slot in).
      */
    def imageFeatures(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
      decode(bytes).map { img =>
        val out = new Array[Float](dim)
        val (w, h) = (img.getWidth, img.getHeight)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            // integer BT.601-ish luma in [0, 255]
            val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            out(luma * dim / 256) += 1.0f
            x += 1
          }
          y += 1
        }
        val n = math.max(w * h, 1).toFloat
        out.map(_ / n)
      }

    /** Real resize: bilinear scale to (targetW, targetH), re-encoded PNG. */
    def resize(bytes: Array[Byte], targetW: Int, targetH: Int): Option[Array[Byte]] =
      decode(bytes).map { img =>
        val dst = new java.awt.image.BufferedImage(
          targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, targetW, targetH, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        bos.toByteArray
      }
  }

  /** REAL audio codec on the JDK's javax.sound.sampled — WAV/AIFF/AU
    * PCM decode with no external libs. Returns None for non-decodable
    * payloads (MP3/OGG/arbitrary bytes) so callers fall back to the stub.
    */
  object JdkAudioCodec {
    /** Per-window RMS energy over the decoded PCM samples (mono-mixed,
      * normalized to [0,1] by the sample range) — the real form of the
      * stub's byte-energy windows.
      */
    def audioEnergy(bytes: Array[Byte], windows: Int): Option[Array[Float]] =
      if (bytes.isEmpty) None
      else try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          // normalize to 16-bit signed PCM (handles 8-bit/float encodings)
          val target = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            fmt.getSampleRate, 16, fmt.getChannels,
            2 * fmt.getChannels, fmt.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, in)
          val raw = pcm.readAllBytes()
          val ch = target.getChannels
          val nSamples = raw.length / 2 / ch
          if (nSamples == 0) return Some(new Array[Float](windows))
          val out = new Array[Float](windows)
          val counts = new Array[Int](windows)
          var i = 0
          while (i < nSamples) {
            // mono mix across channels
            var s = 0.0
            var c = 0
            while (c < ch) {
              val off = (i * ch + c) * 2
              s += ((raw(off) & 0xff) | (raw(off + 1) << 8)).toShort / 32768.0
              c += 1
            }
            val v = s / ch
            val w = (i.toLong * windows / nSamples).toInt
            out(w) += (v * v).toFloat
            counts(w) += 1
            i += 1
          }
          var w = 0
          while (w < windows) {
            out(w) = if (counts(w) > 0) math.sqrt(out(w) / counts(w)).toFloat else 0.0f
            w += 1
          }
          Some(out)
        } finally in.close()
      } catch {
        // includes IllegalArgumentException from an unsupported
        // PCM conversion (provider-dependent A-law/24-bit cases) — any
        // decode failure falls back to the stub, never a task failure
        case scala.util.control.NonFatal(_) => None
      }
  }

  private def featureSchema(dim: Int): StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("features", ArrayType(FloatType, containsNull = false)),
    StructField("n_bytes", LongType),
    // true = features come from a REAL codec decode; false = the
    // deterministic byte-statistics stub (r11 verdict #7: consumers must
    // be able to tell pixel features from stub features on every path)
    StructField("decoded", BooleanType, nullable = false)))

  /** Batched feature extraction: one pass per partition over the binary
    * column (mapPartitions = the JVM analog of mapInPandas batches — the
    * iterator shape is what keeps memory at one in-flight row while letting
    * a real codec amortize model/context setup per PARTITION, not per row).
    *
    * `useJdkCodec = true` (the default) tries the REAL javax.imageio
    * decode first and falls back to the stub per row when the payload is
    * not a decodable image, so mixed corpora — and the text-bytes test
    * media — keep working unchanged.
    */
  def imageFeatures(media: DataFrame, dim: Int = 64,
      useJdkCodec: Boolean = true): DataFrame = {
    val schema = featureSchema(dim)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      // per-partition setup would go here (codec/model init)
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
        val real = if (useJdkCodec) JdkImageCodec.imageFeatures(bytes, dim) else None
        val feats = real.getOrElse(StubCodecs.imageFeatures(bytes, dim))
        Row(r.getAs[Long]("media_id"), feats.toSeq, bytes.length.toLong,
          real.isDefined)
      }
    }(enc)
  }

  /** Resize plumbing: narrow map on the payload, metadata updated in step.
    * Real bilinear resize (PNG-re-encoded) when the payload decodes;
    * stub downsample otherwise.
    */
  def resize(media: DataFrame, targetW: Int, targetH: Int,
      useJdkCodec: Boolean = true): DataFrame = {
    // mediaSchema + trailing `decoded` provenance flag (r11 verdict #7);
    // downstream media operators select by name, so the extra column
    // composes transparently
    val enc = org.apache.spark.sql.Encoders.row(StructType(
      mediaSchema.fields :+ StructField("decoded", BooleanType, nullable = false)))
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
        val meta = r.getAs[Row]("meta")
        val real = if (useJdkCodec) JdkImageCodec.resize(bytes, targetW, targetH) else None
        val resized = real.getOrElse(StubCodecs.resize(bytes, targetW, targetH))
        // the real path RE-ENCODES as PNG — the typed mime must follow the
        // bytes or downstream decoder dispatch misparses the payload
        val mime =
          if (real.isDefined) "image/png"
          else if (meta == null) null else meta.getAs[String]("mime")
        Row(r.getAs[Long]("media_id"),
          resized,
          Row(mime,
            targetW, targetH,
            if (meta == null) null else meta.getAs[Any]("duration_ms"),
            if (meta == null) null else meta.getAs[Any]("sample_rate")),
          real.isDefined)
      }
    }(enc)
  }

  /** Frame sampling: one output row per sampled frame timestamp. Only the
    * (media_id, frame_ms) metadata explodes — the binary payload is NOT
    * replicated per frame (the per-frame decode would run downstream,
    * payload-side, via a co-partitioned join when a real codec lands).
    */
  def sampleFrameTimestamps(media: DataFrame, everyMs: Long): DataFrame =
    media
      .select(col("media_id"), col("meta.duration_ms").as("duration_ms"))
      .filter(col("duration_ms").isNotNull && col("duration_ms") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))).as("frame_ms"))

  /** Audio feature plumbing over the binary column: real PCM RMS via
    * javax.sound.sampled when the payload decodes (WAV/AIFF/AU),
    * deterministic byte-energy stub otherwise.
    */
  def audioFeatures(media: DataFrame, windows: Int = 16,
      useJdkCodec: Boolean = true): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("energy", ArrayType(FloatType, containsNull = false)),
      // real-PCM vs byte-energy-stub provenance, same contract as
      // [[imageFeatures]]'s `decoded`
      StructField("decoded", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
        val real = if (useJdkCodec) JdkAudioCodec.audioEnergy(bytes, windows) else None
        val energy = real.getOrElse(StubCodecs.audioEnergy(bytes, windows))
        Row(r.getAs[Long]("media_id"), energy.toSeq, real.isDefined)
      }
    }(enc)
  }

  /** Image near-duplicate pairs by 64-bit perceptual difference-hash
    * (dHash): decode → 9×8 luma plane → adjacent-luma bits (the standard
    * image-pipeline near-dup pass; crops/re-encodes/small edits land
    * within a few bits). Real javax.imageio decode for image payloads,
    * deterministic codepoint-plane stub otherwise
    * ([[graft.functions.HashUtil.dhash64]]), so the plumbing runs — and
    * is oracle-checked — on the driver's text-bytes media.
    *
    * Pairing reuses the SimHash banding kernel
    * ([[Dedup.bandedHamming64Pairs]]): 4×16-bit bands give total recall
    * at hamming ≤ 3 with candidates bounded by bucket co-occupancy. The
    * binary payload never shuffles — only (id, 8-byte sig) leaves the
    * scan.
    */
  def dHashNearDups(media: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.bandedHamming64Pairs(
      media.select(col("media_id").as("id"),
          graft.functions.HashFunctions.dhash64(col("content")).as("sig"))
        .filter(col("sig").isNotNull),
      maxHamming)

  /** Fill meta width/height/duration_ms from REAL container headers
    * (MP4 `mvhd`/`tkhd`, MKV EBML — pure byte arithmetic, no codec; see
    * [[graft.functions.ContainerMeta]]). A declarative narrow map via the
    * codegen'd `videoProbe` kernel — existing non-null meta fields
    * win, probed values fill the gaps, video payloads whose mime was a
    * generic octet-stream get their container mime. Payloads that are
    * not a known container leave the row unchanged.
    */
  def probeMeta(media: DataFrame): DataFrame = {
    val probed = media.withColumn("__probe",
      graft.functions.HashFunctions.videoProbe(col("content")))
    val mime = when(col("meta.mime").isNull ||
        col("meta.mime") === "application/octet-stream",
      when(col("__probe.container") === "mp4", "video/mp4")
        .when(col("__probe.container") === "matroska", "video/x-matroska")
        .otherwise(col("meta.mime")))
      .otherwise(col("meta.mime"))
    probed.withColumn("meta", struct(
        mime.as("mime"),
        coalesce(col("meta.width"), col("__probe.width")).as("width"),
        coalesce(col("meta.height"), col("__probe.height")).as("height"),
        coalesce(col("meta.duration_ms"), col("__probe.duration_ms")).as("duration_ms"),
        col("meta.sample_rate").as("sample_rate")))
      .drop("__probe")
  }

  /** Minimal AVI (RIFF) container codec — pure JVM byte arithmetic, no
    * external libs. Real VIDEO FRAME decode for the two codecs that
    * need no entropy coder: uncompressed BI_RGB DIB frames (exact
    * bottom-up padded-BGR pixel math) and MJPEG (each '00dc' chunk is a
    * plain JPEG, decoded through javax.imageio like the still-image
    * path). H.264 and friends stay out of reach of a JDK-only sandbox —
    * the stub remains the fallback for those payloads.
    *
    * Container layout handled (written AND parsed):
    *   RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
    *              LIST('movi' '00db'|'00dc' ...))
    * with even-byte chunk padding per the RIFF spec.
    */
  object AviCodec {
    final case class Avi(width: Int, height: Int, compression: String,
      frames: Seq[Array[Byte]])

    private def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def readLe32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def readLe16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    def rowStride(width: Int): Int = ((width * 3) + 3) / 4 * 4

    /** Raw BI_RGB frame bytes: bottom-up rows, BGR order, 4-byte row
      * padding — the exact DIB layout an uncompressed AVI carries.
      */
    def rgbFrameBytes(width: Int, height: Int,
        pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val stride = rowStride(width)
      val out = new Array[Byte](stride * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(x, y)
          val o = (height - 1 - y) * stride + x * 3
          out(o) = b.toByte; out(o + 1) = g.toByte; out(o + 2) = r.toByte
          x += 1
        }
        y += 1
      }
      out
    }

    /** Assemble a playable single-stream video AVI. `codec` is "RGB"
      * (frames = raw DIB bytes) or "MJPG" (frames = whole JPEGs).
      */
    def buildAvi(width: Int, height: Int, codec: String,
        frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(id.getBytes("US-ASCII")); o.write(le32(body.length))
        o.write(body)
        if ((body.length & 1) == 1) o.write(0) // RIFF even padding
        o.toByteArray
      }
      def list(listType: String, body: Array[Byte]): Array[Byte] =
        chunk("LIST", listType.getBytes("US-ASCII") ++ body)
      val mjpg = codec == "MJPG"
      val biCompression = if (mjpg) 0x47504a4d /* 'MJPG' LE */ else 0
      val strf = chunk("strf", le32(40) ++ le32(width) ++ le32(height) ++
        le16(1) ++ le16(24) ++ le32(biCompression) ++
        le32(rowStride(width) * height) ++ le32(0) ++ le32(0) ++
        le32(0) ++ le32(0))
      val strh = chunk("strh", "vids".getBytes("US-ASCII") ++
        (if (mjpg) "MJPG" else "DIB ").getBytes("US-ASCII") ++
        le32(0) ++ le16(0) ++ le16(0) ++ le32(0) ++ le32(1) ++ le32(25) ++
        le32(0) ++ le32(frames.size) ++ le32(0) ++ le32(-1) ++ le32(0) ++
        le16(0) ++ le16(0) ++ le16(width) ++ le16(height))
      val avih = chunk("avih", le32(40000) ++ le32(0) ++ le32(0) ++
        le32(0x10) ++ le32(frames.size) ++ le32(0) ++ le32(1) ++ le32(0) ++
        le32(width) ++ le32(height) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
      val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
      val movi = list("movi",
        frames.flatMap(f => chunk(if (mjpg) "00dc" else "00db", f)).toArray)
      val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
      bos.write("RIFF".getBytes("US-ASCII")); bos.write(le32(body.length))
      bos.write(body)
      bos.toByteArray
    }

    /** Parse container + collect frame chunks. None for anything that is
      * not a RIFF-AVI with one 24bpp video stream.
      */
    def parseAvi(bytes: Array[Byte]): Option[Avi] = {
      if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "AVI ") return None
      var width = -1; var height = -1; var comp = ""
      val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      def walk(from: Int, to: Int): Unit = {
        var pos = from
        while (pos + 8 <= to) {
          val id = fourcc(bytes, pos)
          val size = readLe32(bytes, pos + 4)
          // LONG arithmetic (the TarCodec totality contract): a crafted
          // size near Int.MaxValue would wrap pos+8+size negative,
          // bypass this guard, and throw from copyOfRange instead of
          // returning None
          if (size < 0 || pos.toLong + 8L + size > to) return
          if (id == "LIST" && size >= 4) {
            val lt = fourcc(bytes, pos + 8)
            if (lt == "hdrl" || lt == "strl" || lt == "movi")
              walk(pos + 12, pos + 8 + size)
          } else if (id == "strf" && size >= 20) {
            width = readLe32(bytes, pos + 8 + 4)
            height = readLe32(bytes, pos + 8 + 8)
            val bc = readLe32(bytes, pos + 8 + 16)
            comp = if (bc == 0) "RGB"
              else if (bc == 0x47504a4d) "MJPG"
              else "?"
            if (readLe16(bytes, pos + 8 + 14) != 24) comp = "?"
          } else if ((id.endsWith("db") || id.endsWith("dc")) && size > 0) {
            frames += java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + size)
          }
          pos += 8 + size + (size & 1)
        }
      }
      walk(12, bytes.length)
      // dimension sanity cap: untrusted strf values feed width*height
      // and stride*height INT products downstream (frameLumaMilli) —
      // a parsed 1e9-wide header must reject here, not wrap there
      if (width <= 0 || height <= 0 || width > 32767 || height > 32767 ||
        comp == "?" || comp.isEmpty) None
      else Some(Avi(width, height, comp, frames.toSeq))
    }

    /** Decode one frame to the per-pixel integer luma plane
      * luma_milli = 299·R + 587·G + 114·B (BT.601 ×1000 — stays in
      * exact integers, so the raw-RGB path is oracle-replayable to the
      * bit). Raw DIB decodes by byte arithmetic; MJPEG through
      * javax.imageio. None on undecodable frame bytes.
      */
    def frameLumaMilli(avi: Avi, frame: Array[Byte]): Option[Array[Int]] =
      avi.compression match {
        case "RGB" =>
          val stride = rowStride(avi.width)
          // Long compare: stride·height can pass 2^31 at the capped
          // 32767×32767 extreme and must reject, not wrap
          if (frame.length.toLong < stride.toLong * avi.height) None
          else {
            val out = new Array[Int](avi.width * avi.height)
            var y = 0
            while (y < avi.height) {
              var x = 0
              while (x < avi.width) {
                val o = (avi.height - 1 - y) * stride + x * 3
                out(y * avi.width + x) = 299 * (frame(o + 2) & 0xff) +
                  587 * (frame(o + 1) & 0xff) + 114 * (frame(o) & 0xff)
                x += 1
              }
              y += 1
            }
            Some(out)
          }
        // one shared JPEG→luma leg (QtCodec owns it) — a colorspace fix
        // there must reach both containers
        case "MJPG" => QtCodec.jpegLumaMilli(frame)
        case _ => None
      }
  }

  /** Minimal QuickTime/MOV container codec (Apple QuickTime File
    * Format spec; the same `[u32 size][4cc]` box grammar as ISO BMFF) —
    * pure JVM byte arithmetic, the MOV sibling of [[AviCodec]]. Written
    * AND parsed layout:
    *
    *   ftyp('qt  ') mdat(samples…) moov(mvhd trak(tkhd mdia(mdhd hdlr
    *     minf(vmhd dinf stbl(stsd('jpeg') stts stsc stsz stco)))))
    *
    * Frames are photo-JPEG samples located through the REAL sample
    * tables: stsz sizes, stco chunk offsets (file-absolute), stsc
    * sample→chunk runs expanded exactly as the spec defines, so a
    * multi-sample-per-chunk file parses correctly, not just our own
    * writer's 1:1 layout. Decode goes through the same javax.imageio
    * leg as MJPEG-AVI. H.264 stays out of JDK reach — stub fallback.
    */
  object QtCodec {
    final case class Mov(width: Int, height: Int, codec: String,
      durationMs: Option[Long], frames: Seq[Array[Byte]],
      brand: Option[String] = None)

    private def be16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def readBe32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def readBe16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

    private def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8) ++ typ.getBytes("US-ASCII") ++ body

    private def be64(v: Long): Array[Byte] =
      be32((v >>> 32).toInt) ++ be32((v & 0xffffffffL).toInt)

    /** Assemble a playable single-track video MOV/MP4 at `fps`
      * frames/sec (timescale = fps, one tick per frame, so
      * duration_ms = frames·1000/fps is exact integer math for the
      * oracle when fps divides 1000).
      *
      * ISO-BMFF widening (round 10): `brand` sets the ftyp major brand
      * — "qt  " (default) keeps the classic QuickTime layout
      * byte-identical to the round-9 writer; "isom"/"mp41"/"mp42" emit
      * an ISO base-media compatible-brand list. `useCo64` writes the
      * chunk-offset table as 64-bit `co64` instead of 32-bit `stco`
      * (the large-file form, ISO 14496-12 §8.7.5). `codec` sets the
      * sample-description fourcc — "jpeg" samples stay decodable via
      * imageio; ISO codecs (e.g. "avc1") carry opaque sample bytes
      * (no pure-JVM decoder exists — metadata-only coverage).
      */
    def buildMov(width: Int, height: Int, fps: Int,
        frames: Seq[Array[Byte]], samplesPerChunk: Int = 1,
        brand: String = "qt  ", useCo64: Boolean = false,
        codec: String = "jpeg"): Array[Byte] = {
      require(samplesPerChunk >= 1, "samplesPerChunk must be >= 1")
      require(brand.length == 4 && codec.length == 4, "fourcc length 4")
      val compat =
        if (brand == "qt  ") "qt  ".getBytes("US-ASCII")
        else brand.getBytes("US-ASCII") ++ "isom".getBytes("US-ASCII")
      val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32(0x200) ++
        compat)
      val mdatBody = frames.flatten.toArray
      val mdat = box("mdat", mdatBody)
      val dataStart = ftyp.length + 8 // absolute offset of first sample
      // chunk offsets: every samplesPerChunk-th sample starts a chunk
      // (the last chunk may be short — stsz bounds the expansion)
      val sampleOffs = frames.scanLeft(dataStart)(_ + _.length).init
      val offsets = sampleOffs.grouped(samplesPerChunk).map(_.head).toSeq
      val n = frames.size
      def full(body: Array[Byte]): Array[Byte] = be32(0) ++ body // v0+flags
      val matrix = be32(0x10000) ++ be32(0) ++ be32(0) ++
        be32(0) ++ be32(0x10000) ++ be32(0) ++
        be32(0) ++ be32(0) ++ be32(0x40000000)
      val mvhd = box("mvhd", full(be32(0) ++ be32(0) ++ be32(fps) ++
        be32(n) ++ be32(0x10000) ++ be16(0x100) ++ new Array[Byte](10) ++
        matrix ++ new Array[Byte](24) ++ be32(2)))
      val tkhd = box("tkhd", full(be32(0) ++ be32(0) ++ be32(1) ++
        be32(0) ++ be32(n) ++ new Array[Byte](8) ++ be16(0) ++ be16(0) ++
        be16(0) ++ be16(0) ++ matrix ++
        be32(width << 16) ++ be32(height << 16)))
      val mdhd = box("mdhd", full(be32(0) ++ be32(0) ++ be32(fps) ++
        be32(n) ++ be16(0x55c4) ++ be16(0)))
      val hdlr = box("hdlr", full("mhlr".getBytes("US-ASCII") ++
        "vide".getBytes("US-ASCII") ++ new Array[Byte](12)))
      val desc = be32(86) ++ codec.getBytes("US-ASCII") ++
        new Array[Byte](6) ++ be16(1) ++ be16(0) ++ be16(0) ++
        new Array[Byte](4) ++ be32(512) ++ be32(512) ++
        be16(width) ++ be16(height) ++ be32(0x480000) ++ be32(0x480000) ++
        be32(0) ++ be16(1) ++ new Array[Byte](32) ++ be16(24) ++
        be16(0xffff)
      val stsd = box("stsd", full(be32(1) ++ desc))
      val stts = box("stts", full(be32(1) ++ be32(n) ++ be32(1)))
      val stsc = box("stsc", full(be32(1) ++ be32(1) ++
        be32(samplesPerChunk) ++ be32(1)))
      val stsz = box("stsz", full(be32(0) ++ be32(n) ++
        frames.flatMap(f => be32(f.length)).toArray))
      val stco =
        if (useCo64) box("co64", full(be32(offsets.size) ++
          offsets.flatMap(o => be64(o.toLong)).toArray))
        else box("stco", full(be32(offsets.size) ++
          offsets.flatMap(o => be32(o)).toArray))
      val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
      val vmhd = box("vmhd", be32(1) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0))
      val dinf = box("dinf", box("dref", full(be32(1) ++
        box("alis", Array(0.toByte, 0.toByte, 0.toByte, 1.toByte)))))
      val minf = box("minf", vmhd ++ dinf ++ stbl)
      val mdia = box("mdia", mdhd ++ hdlr ++ minf)
      val trak = box("trak", tkhd ++ mdia)
      val moov = box("moov", mvhd ++ trak)
      ftyp ++ mdat ++ moov
    }

    /** ISO/QT video sample-description fourccs the walk claims a track
      * for. Only the jpeg family is frame-DECODABLE on a pure JVM; the
      * ISO codecs (H.264/HEVC/VP9/AV1/MPEG-4 Visual) are metadata-only
      * — sample tables still locate every sample exactly.
      */
    private val videoFormats = Set("jpeg", "mjpa", "mjpb",
      "avc1", "hev1", "hvc1", "mp4v", "vp09", "av01")

    /** Parse container + sample tables, slice the video samples out of
      * the file by stsc/stsz/stco (or 64-bit co64) arithmetic. None for
      * anything that is not a QuickTime/ISO-BMFF file with a recognized
      * video track. The ftyp major brand (isom/mp41/qt  /…) is reported
      * when present; classic MOVs may omit ftyp entirely.
      */
    def parseMov(bytes: Array[Byte]): Option[Mov] = {
      if (bytes == null || bytes.length < 16) return None
      val first = fourcc(bytes, 4)
      // classic MOVs may omit ftyp; accept any top-level QT box start
      if (!Set("ftyp", "moov", "mdat", "wide", "free", "skip")(first))
        return None
      val brand =
        if (first == "ftyp" && bytes.length >= 12) Some(fourcc(bytes, 8))
        else None
      // PER-TRAK state: every sample-table box binds to the trak that
      // contains it. Global vars here would let a LATER trak (the
      // normal video-then-audio layout) overwrite the video trak's
      // stsz/stco/stsc with the audio track's tables — frame counts and
      // slicing would silently come from the wrong track.
      final class Trak {
        var codec = ""
        var width = -1; var height = -1
        var timescale = 0L; var durTicks = -1L
        var sizes: Array[Int] = null
        var chunkOffs: Array[Long] = null
        // stsc runs: (firstChunk, samplesPerChunk)
        var stscRuns: Array[(Int, Int)] = null
      }
      var video: Trak = null
      def walk(start: Int, end: Int, depth: Int, st: Trak): Unit = {
        if (depth > 10) return
        var o = start
        while (o + 8 <= end) {
          val size = readBe32(bytes, o)
          if (size < 8 || o + size > end) return
          val typ = fourcc(bytes, o + 4)
          val p = o + 8; val pEnd = (o + size).toInt
          typ match {
            case "trak" =>
              val t = new Trak
              walk(p, pEnd, depth + 1, t)
              // FIRST recognized video trak wins
              if (video == null && t.codec.nonEmpty) video = t
            case "moov" | "mdia" | "minf" | "stbl" =>
              walk(p, pEnd, depth + 1, st)
            case "mdhd" if pEnd - p >= 20 =>
              if ((bytes(p) & 0xff) == 0) {
                st.timescale = readBe32(bytes, p + 12)
                st.durTicks = readBe32(bytes, p + 16)
              }
            case "stsd" if pEnd - p >= 8 + 36 =>
              val entry = p + 8
              val fmt = fourcc(bytes, entry + 4)
              // only claim the track for a recognized video format
              if (videoFormats(fmt) && st.codec.isEmpty) {
                st.codec = fmt
                st.width = readBe16(bytes, entry + 32)
                st.height = readBe16(bytes, entry + 34)
              }
            case "stsz" if pEnd - p >= 12 =>
              val uniform = readBe32(bytes, p + 4)
              val n = readBe32(bytes, p + 8).toInt
              if (n >= 0 && n < (1 << 22)) {
                if (uniform != 0L) st.sizes = Array.fill(n)(uniform.toInt)
                else if (p + 12 + 4L * n <= pEnd)
                  st.sizes = Array.tabulate(n)(i => readBe32(bytes, p + 12 + 4 * i).toInt)
              }
            case "stco" if pEnd - p >= 8 =>
              val n = readBe32(bytes, p + 4).toInt
              if (n >= 0 && n < (1 << 22) && p + 8 + 4L * n <= pEnd)
                st.chunkOffs = Array.tabulate(n)(i => readBe32(bytes, p + 8 + 4 * i))
            case "co64" if pEnd - p >= 8 => // 64-bit chunk offsets (§8.7.5)
              val n = readBe32(bytes, p + 4).toInt
              if (n >= 0 && n < (1 << 22) && p + 8 + 8L * n <= pEnd)
                st.chunkOffs = Array.tabulate(n) { i =>
                  (readBe32(bytes, p + 8 + 8 * i) << 32) |
                    readBe32(bytes, p + 12 + 8 * i)
                }
            case "stsc" if pEnd - p >= 8 =>
              val n = readBe32(bytes, p + 4).toInt
              if (n >= 0 && n < (1 << 20) && p + 8 + 12L * n <= pEnd)
                st.stscRuns = Array.tabulate(n)(i =>
                  (readBe32(bytes, p + 8 + 12 * i).toInt,
                    readBe32(bytes, p + 12 + 12 * i).toInt))
            case _ =>
          }
          o = pEnd
        }
      }
      walk(0, bytes.length, 0, new Trak)
      if (video == null || video.width <= 0 || video.height <= 0 ||
        video.sizes == null || video.chunkOffs == null ||
        video.stscRuns == null) return None
      val codec = video.codec
      val width = video.width; val height = video.height
      val timescale = video.timescale; val durTicks = video.durTicks
      val sizes = video.sizes
      val chunkOffs = video.chunkOffs
      val stscRuns = video.stscRuns
      // expand stsc: chunk index (1-based) → samples in that chunk
      val perChunk = Array.tabulate(chunkOffs.length) { ci =>
        val c1 = ci + 1
        stscRuns.reverseIterator.find(_._1 <= c1).map(_._2).getOrElse(0)
      }
      val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      var si = 0
      var ci = 0
      while (ci < chunkOffs.length && si < sizes.length) {
        var off = chunkOffs(ci)
        var k = 0
        while (k < perChunk(ci) && si < sizes.length) {
          val sz = sizes(si)
          if (sz < 0 || off < 0 || off + sz > bytes.length) return None
          frames += java.util.Arrays.copyOfRange(bytes, off.toInt,
            (off + sz).toInt)
          off += sz; si += 1; k += 1
        }
        ci += 1
      }
      if (si != sizes.length) return None // truncated sample tables
      val durMs =
        if (timescale > 0 && durTicks >= 0) Some(durTicks * 1000L / timescale)
        else None
      Some(Mov(width, height, codec, durMs, frames.toSeq, brand))
    }

    /** JPEG frame → BT.601 ×1000 integer luma plane (the AVI-MJPEG
      * decode leg, shared): None on undecodable bytes.
      */
    def jpegLumaMilli(frame: Array[Byte]): Option[Array[Int]] =
      try {
        Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(frame))).map { img =>
          val w = img.getWidth; val h = img.getHeight
          val out = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              out(y * w + x) = 299 * ((rgb >> 16) & 0xff) +
                587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          out
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL per-frame video statistics: parse the container — AVI
    * ([[AviCodec]]) or QuickTime/MOV ([[QtCodec]]) — decode every frame
    * (exact DIB pixel math, or MJPEG/photo-JPEG→imageio), and emit one
    * row per frame with integer luma-plane stats. Payloads that parse
    * as neither yield no rows (the caller's stub path owns those).
    * Batch shape identical to [[imageFeatures]] — binary payloads never
    * shuffle; only the narrow stat rows leave the scan.
    */
  def videoFrameStats(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_pixels", LongType),
      StructField("min_luma_milli", LongType),
      StructField("max_luma_milli", LongType),
      StructField("n_min_pixels", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    // positional access: upstream object-producing operators (e.g. the
    // synthetic-AVI builder) can feed schema-less GenericRows straight
    // into this fused mapPartitions chain, where name lookup throws
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        def statsRow(i: Int, w: Int, h: Int, lumas: Array[Int]): Row = {
          var mn = Int.MaxValue; var mx = Int.MinValue
          var j = 0
          while (j < lumas.length) {
            if (lumas(j) < mn) mn = lumas(j)
            if (lumas(j) > mx) mx = lumas(j)
            j += 1
          }
          var nMin = 0L
          j = 0
          while (j < lumas.length) {
            if (lumas(j) == mn) nMin += 1
            j += 1
          }
          Row(r.getLong(0), i, w, h, lumas.length.toLong, mn.toLong,
            mx.toLong, nMin)
        }
        AviCodec.parseAvi(bytes) match {
          case Some(avi) =>
            avi.frames.zipWithIndex.flatMap { case (f, i) =>
              AviCodec.frameLumaMilli(avi, f)
                .map(statsRow(i, avi.width, avi.height, _))
            }
          case None => QtCodec.parseMov(bytes).toSeq.flatMap { mov =>
            mov.frames.zipWithIndex.flatMap { case (f, i) =>
              QtCodec.jpegLumaMilli(f)
                .map(statsRow(i, mov.width, mov.height, _))
            }
          }
        }
      }
    }(enc)
  }

  /** QuickTime/MOV sample-table metadata per asset — EXACT integer
    * results from the container tables alone (no frame decode): codec,
    * declared track dims, sample count from stsz, duration from
    * mdhd timescale math. The oracle-checkable complement of
    * [[videoFrameStats]]'s MOV leg, same narrow-scan shape.
    */
  def movMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("codec", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", LongType),
      StructField("duration_ms", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        QtCodec.parseMov(bytes).map { mov =>
          Row(r.getLong(0), mov.codec, mov.width, mov.height,
            mov.frames.size.toLong, mov.durationMs.map(Long.box).orNull)
        }
      }
    }(enc)
  }

  /** Deterministic photo-JPEG MOVs synthesized from doc ids — real
    * container bytes with real sample tables: doc d gets (d % 3) + 1
    * JPEG frames (solid-color, imageio-encoded) at 16×8, 25 fps, so
    * n_frames and duration_ms = 40·n are closed-form for the oracle
    * (JPEG byte sizes stay out of it — lossy-codec convention, the
    * q293 MJPEG stance). Non-negative ids only.
    */
  def syntheticMovFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val frames = (0 to (d % 3).toInt).map { f =>
            val img = new java.awt.image.BufferedImage(16, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (((d * 5 + f * 7) % 200).toInt << 16) |
              (((d * 11 + f * 3) % 200).toInt << 8) |
              ((d * 17 + f * 13) % 200).toInt
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 16) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            bos.toByteArray
          }
          Row(d, QtCodec.buildMov(16, 8, 25, frames))
        }
      }(enc)
  }

  /** ISO-BMFF (MP4) container metadata per asset — the [[movMeta]]
    * walk widened to the single most common crawled-video format:
    * ftyp major-brand dispatch, ISO video codecs (avc1/mp4v/… —
    * metadata-only, no pure-JVM decoder exists), and 64-bit `co64`
    * chunk-offset tables. EXACT integer results from the container
    * tables alone; same narrow-scan shape (binary payloads never
    * shuffle — only the slim meta rows leave the scan).
    */
  def containerMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("brand", StringType),
      StructField("codec", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", LongType),
      StructField("duration_ms", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        QtCodec.parseMov(bytes).map { mov =>
          Row(r.getLong(0), mov.brand.orNull, mov.codec, mov.width,
            mov.height, mov.frames.size.toLong,
            mov.durationMs.map(Long.box).orNull)
        }
      }
    }(enc)
  }

  /** Deterministic ISO-BMFF MP4s synthesized from doc ids — real
    * container bytes with real sample tables, all layout knobs swept
    * closed-form so the oracle is pure doc_id arithmetic: doc d gets
    * brand (isom|mp41|mp42)[d%3], codec mp4v when d%5==0 else avc1,
    * 64-bit co64 offsets when d%2==0 (else stco), (d%2)+1 samples per
    * chunk, and (d%4)+1 opaque samples (sample i carries (d%7)+i+1
    * deterministic bytes — ISO codec payloads are not JVM-decodable,
    * so the bytes only exercise the offset/size arithmetic) at 25 fps
    * → duration_ms = 40·n_frames. Non-negative ids only.
    */
  def syntheticMp4FromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val brand = Seq("isom", "mp41", "mp42")((d % 3).toInt)
          val codec = if (d % 5 == 0) "mp4v" else "avc1"
          val frames = (0 to (d % 4).toInt).map { i =>
            Array.tabulate(((d % 7) + i + 1).toInt)(j =>
              ((d + i * 31 + j) % 251).toByte)
          }
          Row(d, QtCodec.buildMov(320, 240, 25, frames,
            samplesPerChunk = (d % 2).toInt + 1, brand = brand,
            useCo64 = d % 2 == 0, codec = codec))
        }
      }(enc)
  }

  /** Minimal ZIP archive codec (PKWARE APPNOTE, public spec) — pure
    * little-endian byte arithmetic, no compression library: the writer
    * emits STORED (method 0) entries with real local headers, central
    * directory and end-of-central-directory records; the parser finds
    * EOCD by scanning back for its signature (comments up to 64 KiB),
    * then walks the central directory — the authoritative index, per
    * spec — without touching entry payloads. Crawled corpora are full
    * of archives; "how much does this expand to, how many members,
    * what methods" is the pre-extraction planning question.
    */
  object ZipCodec {
    final case class ZipMeta(nEntries: Int, totalUncompressed: Long,
      totalCompressed: Long, nStored: Int, nDeflated: Int,
      firstName: Option[String])

    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def rdLe16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def rdLe32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

    /** Assemble a real ZIP of STORED entries (name → payload). */
    def buildZip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val centrals = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      entries.foreach { case (name, data) =>
        val offset = out.size()
        val crc = new java.util.zip.CRC32()
        crc.update(data)
        val nm = name.getBytes("US-ASCII")
        val common = le16(20) ++ le16(0) ++ le16(0) ++ le16(0) ++
          le16(0x5821) ++ le32(crc.getValue) ++ le32(data.length.toLong) ++
          le32(data.length.toLong) ++ le16(nm.length) ++ le16(0)
        out.write(le32(0x04034b50L) ++ common ++ nm)
        out.write(data)
        centrals += le32(0x02014b50L) ++ le16(20) ++ common ++
          le16(0) ++ le16(0) ++ le16(0) ++ le32(0) ++
          le32(offset.toLong) ++ nm
      }
      val cdOffset = out.size()
      centrals.foreach(out.write)
      val cdSize = out.size() - cdOffset
      out.write(le32(0x06054b50L) ++ le16(0) ++ le16(0) ++
        le16(entries.size) ++ le16(entries.size) ++
        le32(cdSize.toLong) ++ le32(cdOffset.toLong) ++ le16(0))
      out.toByteArray
    }

    /** Central-directory walk; None for anything that is not a ZIP
      * (no EOCD signature within the spec's 64 KiB comment window, or
      * a directory that doesn't parse cleanly).
      */
    def parseZip(b: Array[Byte]): Option[ZipMeta] = {
      if (b == null || b.length < 22) return None
      // EOCD scan: last 22..22+65535 bytes, nearest-to-end match wins
      var eocd = -1
      var o = b.length - 22
      val floor = math.max(0, b.length - 22 - 65535)
      while (eocd < 0 && o >= floor) {
        if (rdLe32(b, o) == 0x06054b50L &&
          o + 22 + rdLe16(b, o + 20) == b.length) eocd = o
        o -= 1
      }
      if (eocd < 0) return None
      val n = rdLe16(b, eocd + 10)
      val cdOff = rdLe32(b, eocd + 16)
      // ZIP64: 0xFFFF entries / 0xFFFFFFFF cd-offset are sentinels that
      // redirect to a ZIP64 EOCD we do not parse -- report "not parseable"
      // rather than silently-wrong counts on >4 GiB / >65535-entry archives
      if (n == 0xFFFF || cdOff == 0xFFFFFFFFL) return None
      if (cdOff > Int.MaxValue || cdOff > eocd) return None
      var p = cdOff.toInt
      var total = 0L; var totalC = 0L
      var stored = 0; var deflated = 0
      var first: Option[String] = None
      var i = 0
      while (i < n) {
        if (p + 46 > b.length || rdLe32(b, p) != 0x02014b50L) return None
        val method = rdLe16(b, p + 10)
        totalC += rdLe32(b, p + 20)
        total += rdLe32(b, p + 24)
        val nlen = rdLe16(b, p + 28)
        val xlen = rdLe16(b, p + 30)
        val clen = rdLe16(b, p + 32)
        if (p + 46 + nlen > b.length) return None
        if (first.isEmpty)
          first = Some(new String(b, p + 46, nlen,
            java.nio.charset.StandardCharsets.US_ASCII))
        if (method == 0) stored += 1
        else if (method == 8) deflated += 1
        p += 46 + nlen + xlen + clen
        i += 1
      }
      Some(ZipMeta(n, total, totalC, stored, deflated, first))
    }
  }

  /** ZIP central-directory metadata per asset — entry count, expansion
    * totals, method census, first member name: the pre-extraction
    * planning row. Narrow mapPartitions over the binary column; only
    * slim meta rows leave the scan (the [[movMeta]] shape).
    */
  def zipMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_entries", IntegerType),
      StructField("total_uncompressed", LongType),
      StructField("total_compressed", LongType),
      StructField("n_stored", IntegerType),
      StructField("n_deflated", IntegerType),
      StructField("first_name", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        ZipCodec.parseZip(bytes).map { z =>
          Row(r.getLong(0), z.nEntries, z.totalUncompressed,
            z.totalCompressed, z.nStored, z.nDeflated,
            z.firstName.orNull)
        }
      }
    }(enc)
  }

  /** Deterministic STORED ZIPs from doc ids — real local headers /
    * central directory / EOCD bytes: doc d gets (d % 3) + 1 members,
    * member i named "f{d}_{i}.txt" carrying (d % 7) + i + 1
    * deterministic bytes, so every [[zipMeta]] column is closed-form
    * doc_id arithmetic for the oracle. Non-negative ids only.
    */
  def syntheticZipFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val entries = (0 to (d % 3).toInt).map { i =>
            (s"f${d}_$i.txt",
              Array.tabulate(((d % 7) + i + 1).toInt)(j =>
                ((d + i * 13 + j) % 251).toByte))
          }
          Row(d, ZipCodec.buildZip(entries))
        }
      }(enc)
  }

  /** Minimal gzip member codec (RFC 1952, public) — header/trailer
    * byte arithmetic: magic 1f8b, CM=8 (deflate), FLG.FNAME
    * zero-terminated name, MTIME (LE seconds), and the trailer's
    * CRC32 + ISIZE (uncompressed size mod 2³²). The writer emits the
    * payload as deflate STORED blocks (BTYPE=00 — a real, valid
    * deflate stream with a deterministic closed-form length, unlike
    * compressor output which varies by zlib build); the parser reads
    * ONLY the framing — the "what's inside this .gz" row without
    * decompressing.
    */
  object GzipCodec {
    final case class GzMeta(method: Int, mtime: Long,
      fname: Option[String], isize: Long, compressedLen: Int)

    private def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def rdLe32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

    /** Real single-member gzip: FNAME header + stored-deflate payload. */
    def buildGzip(name: String, mtime: Long,
        data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x1f.toByte, 0x8b.toByte, 8.toByte, 8.toByte))
      out.write(le32(mtime)); out.write(0); out.write(255)
      out.write(name.getBytes("US-ASCII")); out.write(0)
      // one final stored deflate block: BFINAL=1 BTYPE=00, LEN, NLEN
      out.write(1)
      out.write(Array((data.length & 0xff).toByte,
        ((data.length >> 8) & 0xff).toByte,
        (~data.length & 0xff).toByte, ((~data.length >> 8) & 0xff).toByte))
      out.write(data)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      out.write(le32(crc.getValue)); out.write(le32(data.length.toLong))
      out.toByteArray
    }

    def parseGzip(b: Array[Byte]): Option[GzMeta] = {
      if (b == null || b.length < 18) return None
      if ((b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b) return None
      val method = b(2) & 0xff
      val flg = b(3) & 0xff
      val mtime = rdLe32(b, 4)
      var p = 10
      if ((flg & 4) != 0) { // FEXTRA
        if (p + 2 > b.length) return None
        p += 2 + ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))
      }
      var fname: Option[String] = None
      if ((flg & 8) != 0) { // FNAME
        val start = p
        while (p < b.length && b(p) != 0) p += 1
        if (p >= b.length) return None
        fname = Some(new String(b, start, p - start,
          java.nio.charset.StandardCharsets.US_ASCII))
        p += 1
      }
      if (p + 8 > b.length) return None
      Some(GzMeta(method, mtime, fname, rdLe32(b, b.length - 4), b.length))
    }
  }

  /** Minimal POSIX ustar codec (public tar format) — 512-byte header
    * blocks with octal size fields and the spaces-substituted header
    * checksum; entries pad to 512, two zero blocks terminate. The
    * parser validates each header checksum and walks the archive
    * without reading member contents.
    */
  object TarCodec {
    final case class TarMeta(nEntries: Int, totalSize: Long,
      nFiles: Int, nDirs: Int, firstName: Option[String])

    private def octal(v: Long, len: Int): Array[Byte] = {
      val s = java.lang.Long.toOctalString(v)
      val padded = ("0" * (len - 1 - s.length)) + s
      (padded + "\u0000").getBytes("US-ASCII")
    }

    private def header(name: String, size: Long, typeflag: Char): Array[Byte] = {
      val h = new Array[Byte](512)
      val nm = name.getBytes("US-ASCII")
      System.arraycopy(nm, 0, h, 0, nm.length)
      System.arraycopy(octal(420, 8), 0, h, 100, 8)       // mode 0644
      System.arraycopy(octal(0, 8), 0, h, 108, 8)          // uid
      System.arraycopy(octal(0, 8), 0, h, 116, 8)          // gid
      System.arraycopy(octal(size, 12), 0, h, 124, 12)
      System.arraycopy(octal(0, 12), 0, h, 136, 12)        // mtime
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)       // chksum spaces
      h(156) = typeflag.toByte
      System.arraycopy(("ustar" + "\u0000" + "00").getBytes("US-ASCII"), 0, h, 257, 8)
      var sum = 0L
      var i = 0
      while (i < 512) { sum += h(i) & 0xff; i += 1 }
      val cs = octal(sum, 7) // 6 digits + NUL, then a space
      System.arraycopy(cs, 0, h, 148, 7)
      h(155) = ' '.toByte
      h
    }

    def buildTar(entries: Seq[(String, Array[Byte])],
        dirs: Seq[String] = Nil): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      dirs.foreach(d => out.write(header(d, 0L, '5')))
      entries.foreach { case (name, data) =>
        out.write(header(name, data.length.toLong, '0'))
        out.write(data)
        val pad = (512 - data.length % 512) % 512
        out.write(new Array[Byte](pad))
      }
      out.write(new Array[Byte](1024))
      out.toByteArray
    }

    def parseTar(b: Array[Byte]): Option[TarMeta] = {
      if (b == null || b.length < 1024 || b.length % 512 != 0) return None
      var p = 0
      var n = 0; var total = 0L; var files = 0; var dirs = 0
      var first: Option[String] = None
      def zeroBlock(o: Int): Boolean = {
        var i = o; while (i < o + 512) { if (b(i) != 0) return false; i += 1 }
        true
      }
      def octalAt(o: Int, len: Int): Long = {
        var v = 0L; var i = o
        while (i < o + len && b(i) != 0 && b(i) != ' ') {
          if (b(i) < '0' || b(i) > '7') return -1L
          v = v * 8 + (b(i) - '0'); i += 1
        }
        v
      }
      while (p + 512 <= b.length && !zeroBlock(p)) {
        if (new String(b, p + 257, 5,
          java.nio.charset.StandardCharsets.US_ASCII) != "ustar") return None
        // checksum: header bytes with the chksum field read as spaces
        var sum = 0L
        var i = 0
        while (i < 512) {
          sum += (if (i >= 148 && i < 156) ' '.toInt else b(p + i) & 0xff)
          i += 1
        }
        if (octalAt(p + 148, 8) != sum) return None
        val size = octalAt(p + 124, 12)
        if (size < 0) return None
        var end = p
        while (end < b.length && b(end) != 0 && end < p + 100) end += 1
        if (first.isEmpty) first = Some(new String(b, p, end - p,
          java.nio.charset.StandardCharsets.US_ASCII))
        if (b(p + 156) == '5') dirs += 1 else { files += 1; total += size }
        n += 1
        // advance in Long: a checksum-valid header with a 12-digit octal
        // size >= 2^31 would wrap an Int skip (negative index into
        // zeroBlock, or a cycle) -- the totality contract for untrusted
        // bytes; past-the-end just ends the walk like any truncation
        val next = p + 512L + (size + 511L) / 512L * 512L
        p = if (next > b.length) b.length else next.toInt
      }
      if (n == 0) None else Some(TarMeta(n, total, files, dirs, first))
    }
  }

  /** gzip framing metadata per asset (no decompression): method,
    * mtime, embedded member name, ISIZE expansion, compressed length.
    * Narrow scan — the [[zipMeta]] family.
    */
  def gzipMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("method", IntegerType),
      StructField("mtime", LongType),
      StructField("fname", StringType),
      StructField("isize", LongType),
      StructField("compressed_len", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        GzipCodec.parseGzip(bytes).map { g =>
          Row(r.getLong(0), g.method, g.mtime, g.fname.orNull, g.isize,
            g.compressedLen)
        }
      }
    }(enc)
  }

  /** tar walk metadata per asset: entry/file/dir counts, total member
    * bytes, first member name — checksum-validated headers only.
    */
  def tarMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_entries", IntegerType),
      StructField("total_size", LongType),
      StructField("n_files", IntegerType),
      StructField("n_dirs", IntegerType),
      StructField("first_name", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        TarCodec.parseTar(bytes).map { t =>
          Row(r.getLong(0), t.nEntries, t.totalSize, t.nFiles, t.nDirs,
            t.firstName.orNull)
        }
      }
    }(enc)
  }

  /** Deterministic single-member gzips from doc ids: member name
    * "d{id}.txt", mtime = id, payload (id % 9) + 1 bytes through real
    * stored-deflate framing → every column closed-form. Non-negative
    * ids only.
    */
  def syntheticGzipFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          Row(d, GzipCodec.buildGzip(s"d$d.txt", d,
            Array.tabulate(((d % 9) + 1).toInt)(j => ((d + j) % 251).toByte)))
        }
      }(enc)
  }

  /** Deterministic ustar archives from doc ids: one directory when
    * id % 2 == 0, (id % 3) + 1 files of (id % 5) + i + 1 bytes —
    * closed-form counts/sizes for the oracle. Non-negative ids only.
    */
  def syntheticTarFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val files = (0 to (d % 3).toInt).map { i =>
            (s"t${d}_$i.dat",
              Array.tabulate(((d % 5) + i + 1).toInt)(j =>
                ((d + i * 7 + j) % 251).toByte))
          }
          val dirs = if (d % 2 == 0) Seq(s"dir$d/") else Nil
          Row(d, TarCodec.buildTar(files, dirs))
        }
      }(enc)
  }

  /** Minimal PDF codec (ISO 32000 subset, public) — the document
    * sibling of the archive probes: crawled corpora are full of PDFs,
    * and the pre-extraction planning row ("how many pages, is the
    * cross-reference table intact") comes from the file's own framing,
    * not a renderer. The builder emits a REAL minimal document —
    * header, catalog, page tree, page objects, a byte-exact xref table
    * and a trailer whose `startxref` points at it — and the parser
    * walks that framing back: version from the `%PDF-x.y` header, the
    * object count from the trailer's `/Size`, the page count from
    * `/Type /Page` occurrences (not matching `/Pages`), and an
    * `xref_ok` flag that FOLLOWS the startxref pointer and checks the
    * `xref` keyword actually sits at that byte offset — a parse error
    * in either the builder's offset bookkeeping or the parser's walk
    * flips it. Anything that is not a PDF (wrong magic, no trailer)
    * returns None.
    */
  object PdfCodec {
    final case class PdfMeta(version: String, nObjs: Int, nPages: Int,
      xrefOk: Boolean)

    /** Real minimal PDF: catalog + page tree + nPages empty pages,
      * exact xref offsets, trailer + startxref. `comment` lands as a
      * `%`-comment line after the header (PDFs carry them; it varies
      * the layout byte offsets per document). `corruptXref` writes a
      * startxref pointing one byte past the real table — a damaged
      * document whose objects are intact but whose xref is not.
      */
    def buildPdf(nPages: Int, comment: String,
        corruptXref: Boolean = false): Array[Byte] = {
      require(nPages >= 1 && nPages <= 9, s"nPages out of range: $nPages")
      val sb = new StringBuilder
      val offsets = scala.collection.mutable.ArrayBuffer[Int]()
      sb.append("%PDF-1.4\n")
      sb.append(s"% $comment\n")
      def obj(body: String): Unit = {
        offsets += sb.length
        sb.append(body)
      }
      obj("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      val kids = (0 until nPages).map(i => s"${i + 3} 0 R").mkString(" ")
      obj(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n")
      (0 until nPages).foreach { i =>
        obj(s"${i + 3} 0 obj\n<< /Type /Page /Parent 2 0 R " +
          "/MediaBox [0 0 612 792] >>\nendobj\n")
      }
      val xrefOff = sb.length
      val m = nPages + 3
      sb.append(s"xref\n0 $m\n")
      sb.append("0000000000 65535 f \n")
      offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
      sb.append(s"trailer\n<< /Size $m /Root 1 0 R >>\nstartxref\n")
      sb.append(if (corruptXref) xrefOff + 1 else xrefOff)
      sb.append("\n%%EOF\n")
      sb.toString.getBytes("US-ASCII")
    }

    private def lastIndexOf(b: Array[Byte], pat: String): Int = {
      val p = pat.getBytes("US-ASCII")
      var i = b.length - p.length
      while (i >= 0) {
        var j = 0
        while (j < p.length && b(i + j) == p(j)) j += 1
        if (j == p.length) return i
        i -= 1
      }
      -1
    }

    private def digitsAt(b: Array[Byte], from: Int): Option[Long] = {
      var i = from
      while (i < b.length && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r'))
        i += 1
      var v = -1L
      var overflow = false
      // consume the WHOLE digit run, but a value past Int.MaxValue is
      // invalid, not truncated: every consumer is an int quantity
      // (object count, in-array offset), and silently wrapping a wild
      // /Size into a small or negative int would mislabel a malformed
      // PDF as parsed (fuzz-facing parser — junk must become None)
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        if (!overflow) {
          v = (if (v < 0) 0L else v) * 10 + (b(i) - '0')
          if (v > Int.MaxValue) overflow = true
        }
        i += 1
      }
      if (v < 0 || overflow) None else Some(v)
    }

    def parsePdf(b: Array[Byte]): Option[PdfMeta] = {
      if (b == null || b.length < 16) return None
      val magic = "%PDF-".getBytes("US-ASCII")
      if (!magic.indices.forall(i => b(i) == magic(i))) return None
      // version: digits '.' digits right after the magic
      var i = 5; val vs = new StringBuilder
      while (i < b.length && ((b(i) >= '0' && b(i) <= '9') || b(i) == '.')) {
        vs.append(b(i).toChar); i += 1
      }
      if (!vs.toString.matches("[0-9]+\\.[0-9]+")) return None
      val sx = lastIndexOf(b, "startxref")
      if (sx < 0) return None
      val xrefOff = digitsAt(b, sx + 9).getOrElse(return None)
      val xrefOk = xrefOff + 4 <= b.length &&
        "xref".getBytes("US-ASCII").zipWithIndex.forall { case (c, j) =>
          b(xrefOff.toInt + j) == c
        }
      val tr = lastIndexOf(b, "/Size")
      if (tr < 0) return None
      val nObjs = digitsAt(b, tr + 5).getOrElse(return None)
      // count "/Type /Page" NOT followed by 's' (which would be /Pages)
      val pagePat = "/Type /Page".getBytes("US-ASCII")
      var pages = 0; var p = 0
      while (p + pagePat.length <= b.length) {
        var j = 0
        while (j < pagePat.length && b(p + j) == pagePat(j)) j += 1
        if (j == pagePat.length &&
          (p + pagePat.length == b.length ||
            b(p + pagePat.length) != 's')) pages += 1
        p += 1
      }
      Some(PdfMeta(vs.toString, nObjs.toInt, pages, xrefOk))
    }
  }

  /** PDF framing metadata per asset — spec version, trailer object
    * count, page count, xref-intact flag. Narrow mapPartitions over
    * the binary column; only the slim meta row leaves the scan (the
    * [[zipMeta]] shape). Non-PDF bytes drop out (None).
    */
  def pdfMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("version", StringType),
      StructField("n_objs", IntegerType),
      StructField("n_pages", IntegerType),
      StructField("xref_ok", BooleanType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        PdfCodec.parsePdf(bytes).map { m =>
          Row(r.getLong(0), m.version, m.nObjs, m.nPages, m.xrefOk)
        }
      }
    }(enc)
  }

  /** Deterministic PDFs from doc ids: doc d carries (d % 4) + 1 pages
    * and a doc-tagged comment line (so byte offsets vary per doc and
    * the xref bookkeeping is exercised at every layout), every 9th doc
    * is plain text (not a PDF — parser yields no row), every 11th
    * NON-ninth doc gets a corrupted startxref (objects intact, crossed
    * xref → xref_ok = false). Closed-form for the oracle. Non-negative
    * ids only.
    */
  def syntheticPdfFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val bytes =
            if (d % 9 == 0) s"plain text payload $d".getBytes("US-ASCII")
            else PdfCodec.buildPdf(((d % 4) + 1).toInt, s"doc $d",
              corruptXref = d % 11 == 0)
          Row(d, bytes)
        }
      }(enc)
  }

  /** Minimal WARC/1.0 codec (ISO 28500, public; the web-crawl container
    * behind Common-Crawl-style corpora) — text header blocks with a
    * Content-Length-framed payload per record:
    *
    *   WARC/1.0␍␊ (headers: WARC-Type, WARC-Target-URI,
    *   Content-Length, …)␍␊ ␍␊ payload ␍␊␍␊ — records concatenated.
    *
    * The parser walks records by Content-Length framing (never
    * scanning payload bytes for delimiters — payloads may contain
    * anything), censusing types and target URIs. "How many responses,
    * how many payload bytes" is the crawl-ingest planning row.
    */
  object WarcCodec {
    final case class WarcMeta(nRecords: Int, nResponse: Int,
      nRequest: Int, totalPayload: Long, firstUri: Option[String])

    def buildWarc(records: Seq[(String, String, Array[Byte])]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      records.foreach { case (wtype, uri, payload) =>
        val hdr = s"WARC/1.0\r\nWARC-Type: $wtype\r\n" +
          s"WARC-Target-URI: $uri\r\n" +
          s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n"
        out.write(hdr.getBytes("US-ASCII"))
        out.write(payload)
        out.write("\r\n\r\n".getBytes("US-ASCII"))
      }
      out.toByteArray
    }

    /** ONE record walk for every WARC consumer: streams
      * (warc-type, target-uri, content-length, payloadStart) per record
      * to `onRecord`; returns false on ANY framing violation (version
      * line, header grammar, Content-Length bounds) — callers then
      * treat the whole payload as non-WARC. A framing fix here reaches
      * [[parseWarc]] and [[responsePayloads]] identically; the two used
      * to carry verbatim copies of this loop.
      */
    private def walkRecords(b: Array[Byte])(
        onRecord: (String, Option[String], Long, Int) => Unit): Boolean = {
      if (b == null || b.length < 10) return false
      def lineEnd(o: Int): Int = {
        var i = o
        while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
        if (i + 1 < b.length) i else -1
      }
      var p = 0
      var any = false
      while (p < b.length) {
        val ve = lineEnd(p)
        if (ve < 0) return false
        val version = new String(b, p, ve - p,
          java.nio.charset.StandardCharsets.US_ASCII)
        if (!version.startsWith("WARC/")) return false
        var q = ve + 2
        var clen = -1L
        var wtype = ""
        var uri: Option[String] = None
        var open = true
        while (open) {
          val he = lineEnd(q)
          if (he < 0) return false
          if (he == q) { open = false; q += 2 } // empty line: headers end
          else {
            val line = new String(b, q, he - q,
              java.nio.charset.StandardCharsets.US_ASCII)
            val ci = line.indexOf(':')
            if (ci < 0) return false
            val key = line.substring(0, ci).trim.toLowerCase
            val v = line.substring(ci + 1).trim
            if (key == "content-length") clen = v.toLongOption.getOrElse(-1L)
            else if (key == "warc-type") wtype = v.toLowerCase
            else if (key == "warc-target-uri") uri = Some(v)
            q = he + 2
          }
        }
        if (clen < 0 || q + clen + 4 > b.length) return false
        onRecord(wtype, uri, clen, q)
        any = true
        p = (q + clen + 4).toInt // payload + the record-ending CRLF CRLF
      }
      any
    }

    def parseWarc(b: Array[Byte]): Option[WarcMeta] = {
      var n = 0; var resp = 0; var req = 0; var total = 0L
      var first: Option[String] = None
      val ok = walkRecords(b) { (wtype, uri, clen, _) =>
        n += 1
        total += clen
        if (wtype == "response") resp += 1
        else if (wtype == "request") req += 1
        if (first.isEmpty) first = uri
      }
      if (!ok || n == 0) None else Some(WarcMeta(n, resp, req, total, first))
    }

    /** Payload byte slices of the RESPONSE records, in file order —
      * empty for anything that doesn't parse as WARC.
      */
    def responsePayloads(b: Array[Byte]): Seq[Array[Byte]] = {
      val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      val ok = walkRecords(b) { (wtype, _, clen, q) =>
        if (wtype == "response")
          out += java.util.Arrays.copyOfRange(b, q, (q + clen).toInt)
      }
      if (!ok) Nil else out.toSeq
    }
  }

  /** HTTP response head parsed out of WARC response payloads — the
    * next crawl-stack layer (WARC → HTTP → content): status code from
    * the RFC 9112 status line, Content-Type and Content-Length from
    * the header block, body bytes by framing. One row per WARC
    * response record; non-HTTP payloads and non-response records emit
    * nothing.
    */
  object HttpCodec {
    final case class HttpHead(status: Int, contentType: Option[String],
      bodyLen: Long)

    def parseResponseHead(b: Array[Byte]): Option[HttpHead] = {
      if (b == null || b.length < 12) return None
      def lineEnd(o: Int): Int = {
        var i = o
        while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
        if (i + 1 < b.length) i else -1
      }
      val se = lineEnd(0)
      if (se < 0) return None
      val status = new String(b, 0, se,
        java.nio.charset.StandardCharsets.US_ASCII)
      if (!status.startsWith("HTTP/")) return None
      val parts = status.split(" ", 3)
      if (parts.length < 2) return None
      val code = parts(1).toIntOption.getOrElse(return None)
      var q = se + 2
      var ct: Option[String] = None
      var open = true
      while (open) {
        val he = lineEnd(q)
        if (he < 0) return None
        if (he == q) { open = false; q += 2 }
        else {
          val line = new String(b, q, he - q,
            java.nio.charset.StandardCharsets.US_ASCII)
          val ci = line.indexOf(':')
          if (ci >= 0 &&
            line.substring(0, ci).trim.equalsIgnoreCase("content-type"))
            ct = Some(line.substring(ci + 1).trim)
          q = he + 2
        }
      }
      Some(HttpHead(code, ct, (b.length - q).toLong))
    }

    /** Charset actually used to decode a body, resolved from the
      * Content-Type header's `charset=` parameter (case-insensitive,
      * optionally quoted). Absent, unknown, or JVM-unsupported
      * charsets fall back to windows-1252 — the WHATWG HTML default
      * for legacy content (UTF-8-declared pages decode as declared).
      * Returns the canonical lowercase name reported downstream.
      */
    def resolveCharset(contentType: Option[String]): String = {
      val declared = contentType.flatMap { ct =>
        ct.split(';').iterator.drop(1).map(_.trim).collectFirst {
          case p if p.length > 8 &&
            p.substring(0, 8).equalsIgnoreCase("charset=") =>
            p.substring(8).trim.stripPrefix("\"").stripSuffix("\"")
              .toLowerCase(java.util.Locale.ROOT)
        }
      }
      declared.filter { name =>
        try java.nio.charset.Charset.isSupported(name)
        catch { case _: java.nio.charset.IllegalCharsetNameException => false }
      }.getOrElse("windows-1252")
    }

    /** Decode body bytes with the resolved charset, replacing (never
      * throwing on) malformed sequences and unmappable bytes — the
      * totality stance: a mis-declared page yields U+FFFD runs, not a
      * task failure.
      */
    def decodeBody(b: Array[Byte], offset: Int, charsetName: String): String = {
      val cs = java.nio.charset.Charset.forName(charsetName)
      val dec = cs.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
      dec.decode(java.nio.ByteBuffer.wrap(b, offset, b.length - offset))
        .toString
    }
  }

  /** One row per HTTP response inside each WARC asset: status code,
    * content type, body bytes — the fetch-outcome census a crawl
    * pipeline reads before content extraction. Narrow scan; WARC
    * record framing by Content-Length, HTTP head parse per response
    * payload.
    */
  def warcHttpMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("record_idx", IntegerType),
      StructField("status", IntegerType),
      StructField("content_type", StringType),
      StructField("body_len", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        WarcCodec.responsePayloads(bytes).zipWithIndex.flatMap {
          case (payload, i) =>
            HttpCodec.parseResponseHead(payload).map { h =>
              Row(r.getLong(0), i, h.status, h.contentType.orNull, h.bodyLen)
            }
        }
      }
    }(enc)
  }

  /** Charset-aware bytes→text: the layer that CLOSES the crawl stack
    * (WARC → HTTP → charset decode → HTML string). For every text/html
    * response inside each WARC asset, resolves the charset from the
    * Content-Type header ([[HttpCodec.resolveCharset]]: declared
    * parameter, else the windows-1252 legacy default), decodes the
    * body bytes with malformed/unmappable REPLACE semantics, and emits
    * (media_id, record_idx, status, charset, html) — the decoded
    * string [[TextAnalysis.htmlExtract]] consumes. Same concern one
    * layer up from the reference's latin-1 CSV read
    * (etl_meteo.py:156 `encoding="latin-1"`).
    *
    * Narrow mapPartitions over the binary column (the JDK charset
    * machinery is not expressible as a Catalyst expression — the
    * [[imageFeatures]] batch shape); only decoded text leaves the
    * scan, payload bytes never shuffle.
    */
  def warcHtmlText(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("record_idx", IntegerType),
      StructField("status", IntegerType),
      StructField("charset", StringType),
      StructField("html", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        WarcCodec.responsePayloads(bytes).zipWithIndex.flatMap {
          case (payload, i) =>
            HttpCodec.parseResponseHead(payload).withFilter { h =>
              h.contentType.exists(
                _.split(';')(0).trim.equalsIgnoreCase("text/html"))
            }.map { h =>
              val cs = HttpCodec.resolveCharset(h.contentType)
              val bodyOff = payload.length - h.bodyLen.toInt
              Row(r.getLong(0), i, h.status, cs,
                HttpCodec.decodeBody(payload, bodyOff, cs))
            }
        }
      }
    }(enc)
  }

  /** WARC census per asset: record/response/request counts, total
    * payload bytes (Content-Length framing — payload bytes never
    * inspected), first target URI. Narrow scan, [[zipMeta]] family.
    */
  def warcMeta(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_records", IntegerType),
      StructField("n_response", IntegerType),
      StructField("n_request", IntegerType),
      StructField("total_payload", LongType),
      StructField("first_uri", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        WarcCodec.parseWarc(bytes).map { w =>
          Row(r.getLong(0), w.nRecords, w.nResponse, w.nRequest,
            w.totalPayload, w.firstUri.orNull)
        }
      }
    }(enc)
  }

  /** Deterministic WARCs from doc ids: (d % 3) + 1 records alternating
    * response/request, record i targeting http://ex.org/d/{id}/{i}
    * with (d % 6) + i + 1 payload bytes — closed-form census for the
    * oracle. Non-negative ids only.
    */
  def syntheticWarcFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val recs = (0 to (d % 3).toInt).map { i =>
            (if (i % 2 == 0) "response" else "request",
              s"http://ex.org/d/$d/$i",
              Array.tabulate(((d % 6) + i + 1).toInt)(j =>
                ((d + i * 3 + j) % 251).toByte))
          }
          Row(d, WarcCodec.buildWarc(recs))
        }
      }(enc)
  }

  /** Deterministic WARC-wrapped HTTP responses from doc ids: one
    * response record per doc, status 404 on id%5==0 else 200,
    * Content-Type text/html on even ids else application/json, body
    * (id % 4) + 1 bytes — closed-form for the oracle.
    */
  def syntheticWarcHttpFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val code = if (d % 5 == 0) "404 Not Found" else "200 OK"
          val ct = if (d % 2 == 0) "text/html" else "application/json"
          val body = Array.tabulate(((d % 4) + 1).toInt)(j =>
            ((d + j) % 251).toByte)
          val head = s"HTTP/1.1 $code\r\nContent-Type: $ct\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n"
          val payload = head.getBytes("US-ASCII") ++ body
          Row(d, WarcCodec.buildWarc(
            Seq(("response", s"http://ex.org/p/$d", payload))))
        }
      }(enc)
  }

  /** Deterministic charset-exercising WARCs from the corpus: doc d
    * gets one HTTP 200 text/html response whose body wraps the first
    * 40 chars of its text in markup with a charset-revealing marker
    * char, ENCODED in a per-doc charset —
    *   d % 7 == 0 → windows-1252, charset param OMITTED (the legacy-
    *                default leg), marker € (0x80, cp1252-only)
    *   else d % 3 == 0 → utf-8 declared, marker π (non-Latin)
    *        d % 3 == 1 → ISO-8859-1 declared (mixed-case header,
    *                     proving normalization), marker é (0xE9)
    *        d % 3 == 2 → windows-1252 declared, marker €
    * Every marker is losslessly round-trippable in ITS charset and
    * byte-distinct across them, so a wrong decode changes the output
    * — the oracle rebuilds the expected strings from the documents
    * table. Non-negative ids, non-null text only.
    */
  def syntheticWarcHtmlFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id") >= 0 && col("text").isNotNull)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val text = r.getString(1)
          val slice = text.substring(0, math.min(40, text.length))
          val (csName, headerCs, marker) =
            if (d % 7 == 0) ("windows-1252", None, "€")
            else (d % 3) match {
              case 0 => ("utf-8", Some("utf-8"), "π")
              case 1 => ("iso-8859-1", Some("ISO-8859-1"), "é")
              case _ => ("windows-1252", Some("windows-1252"), "€")
            }
          val html = s"<html><head><title>Doc $d $marker</title></head>" +
            s"<body><p>$slice café $marker</p>" +
            (s"""<a href="http://ex.org/x/$d">x</a>""" * (d % 4).toInt) +
            "</body></html>"
          val body = html.getBytes(csName)
          val ct = "text/html" + headerCs.map("; charset=" + _).getOrElse("")
          val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n"
          Row(d, WarcCodec.buildWarc(
            Seq(("response", s"http://ex.org/p/$d",
              head.getBytes("US-ASCII") ++ body))))
        }
      }(enc)
  }

  /** Deterministic RGB-AVI media synthesized from doc ids — real
    * container bytes, real frames, closed-form pixel values, so the
    * decode chain ([[videoFrameStats]]) is oracle-checkable end to end:
    * doc d gets (d % 3) + 1 frames of a 17×6 checkerboard (odd width
    * exercises DIB row padding) whose two colors derive from (d, frame)
    * arithmetic the SQL oracle replays. Non-negative ids only (the %
    * sign convention).
    */
  def syntheticAviFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val frames = (0 to (d % 3).toInt).map { f =>
            val rA = ((d * 5 + f * 7) % 200).toInt
            val gA = ((d * 11 + f * 3) % 200).toInt
            val bA = ((d * 17 + f * 13) % 200).toInt
            AviCodec.rgbFrameBytes(17, 6, (x, y) =>
              if ((x + y) % 2 == 0) (rA, gA, bA)
              else (rA + 55, gA + 55, bA + 55))
          }
          Row(d, AviCodec.buildAvi(17, 6, "RGB", frames))
        }
      }(enc)
  }

  /** EXIF metadata extraction over a binary media column — a
    * declarative narrow map through the codegen'd `exifProbe`
    * kernel (JPEG APP1 TIFF walk, [[graft.functions.ExifMeta]]):
    * orientation / declared dims / make / capture time per asset.
    * Payloads without a parseable Exif segment yield no row. Nothing
    * shuffles; only the typed metadata leaves the scan.
    */
  def exifMeta(media: DataFrame): DataFrame =
    media.select(col("media_id"),
        graft.functions.HashFunctions.exifProbe(col("content")).as("__x"))
      .filter(col("__x").isNotNull)
      .select(col("media_id"),
        col("__x.byte_order").as("byte_order"),
        col("__x.orientation").as("orientation"),
        col("__x.width").as("width"),
        col("__x.height").as("height"),
        col("__x.make").as("make"),
        col("__x.datetime").as("datetime"))

  /** Deterministic EXIF-JPEG media synthesized from doc ids (closed-form
    * tag values; byte order alternates by parity so BOTH TIFF parse
    * paths run) — the oracle-checkable fixture for [[exifMeta]].
    */
  def syntheticExifFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          Row(d, graft.functions.ExifMeta.build(
            littleEndian = d % 2 == 0,
            orientation = (d % 8).toInt + 1,
            width = 640 + (d % 7).toInt * 16,
            height = 480 + (d % 5).toInt * 16,
            make = s"CAM-${d % 10}",
            datetime = s"2024:01:0${d % 9 + 1} 12:00:00"))
        }
      }(enc)
  }

  /** WAV container metadata over a binary media column — the audio leg
    * of the metadata trio (video [[probeMeta]], image [[exifMeta]]): a
    * declarative narrow map through the codegen'd `wavProbe` kernel
    * ([[graft.functions.AudioMeta]] RIFF chunk walk — no decode).
    * Non-WAVE payloads yield no row; nothing shuffles.
    */
  def audioMeta(media: DataFrame): DataFrame =
    media.select(col("media_id"),
        graft.functions.HashFunctions.wavProbe(col("content")).as("__w"))
      .filter(col("__w").isNotNull)
      .select(col("media_id"),
        col("__w.channels").as("channels"),
        col("__w.sample_rate").as("sample_rate"),
        col("__w.bits_per_sample").as("bits_per_sample"),
        col("__w.data_bytes").as("data_bytes"),
        col("__w.duration_ms").as("duration_ms"))

  /** Deterministic PCM WAVs synthesized from doc ids (closed-form
    * header fields; whole-millisecond durations so the duration
    * arithmetic is exact) — the oracle-checkable fixture for
    * [[audioMeta]].
    */
  def syntheticWavFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val rate = 8000 + (d % 4).toInt * 4000 // all divisible by 1000
          Row(d, graft.functions.AudioMeta.build(
            channels = (d % 2).toInt + 1,
            sampleRate = rate,
            bitsPerSample = 16,
            frames = ((d % 50).toInt + 1) * rate / 1000)) // (d%50+1) ms
        }
      }(enc)
  }

  /** PNG metadata over a binary media column — the lossless-image leg
    * of the byte-probe family ([[exifMeta]] JPEG, [[audioMeta]] WAV,
    * [[movMeta]] QuickTime): a declarative narrow map through the
    * codegen'd `pngProbe` kernel ([[graft.functions.PngMeta]] chunk
    * walk with IHDR CRC verification). Non-PNG payloads yield no row;
    * nothing shuffles.
    */
  def pngMeta(media: DataFrame): DataFrame =
    media.select(col("media_id"),
        graft.functions.HashFunctions.pngProbe(col("content")).as("__p"))
      .filter(col("__p").isNotNull)
      .select(col("media_id"),
        col("__p.width").as("width"),
        col("__p.height").as("height"),
        col("__p.bit_depth").as("bit_depth"),
        col("__p.color_type").as("color_type"),
        col("__p.interlace").as("interlace"),
        col("__p.n_chunks").as("n_chunks"),
        col("__p.text_keyword").as("text_keyword"),
        col("__p.text_value").as("text_value"))

  /** Deterministic decoder-valid PNGs synthesized from doc ids (real
    * chunk CRCs and zlib IDAT; dimensions/color type/annotation are
    * closed forms of the id) — the oracle-checkable fixture for
    * [[pngMeta]].
    */
  def syntheticPngFromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          Row(d, graft.functions.PngMeta.build(
            width = 16 + (d % 8).toInt,
            height = 8 + (d % 5).toInt,
            colorType = if (d % 2 == 0) 0 else 2,
            text = Some(("Source", s"doc-$d"))))
        }
      }(enc)
  }

  /** MP3 metadata over a binary media column — ID3v2 envelope plus the
    * first MPEG-1 Layer III frame header via the codegen'd `mp3Probe`
    * kernel ([[graft.functions.Mp3Meta]]). Non-MP3 payloads yield
    * no row; nothing shuffles.
    */
  def mp3Meta(media: DataFrame): DataFrame =
    media.select(col("media_id"),
        graft.functions.HashFunctions.mp3Probe(col("content")).as("__m"))
      .filter(col("__m").isNotNull)
      .select(col("media_id"),
        col("__m.id3_version").as("id3_version"),
        col("__m.id3_size").as("id3_size"),
        col("__m.bitrate_kbps").as("bitrate_kbps"),
        col("__m.sample_rate").as("sample_rate"),
        col("__m.channel_mode").as("channel_mode"),
        col("__m.frame_bytes").as("frame_bytes"))

  /** Deterministic single-frame MP3s with ID3v2.3 envelopes synthesized
    * from doc ids (closed-form header fields over the public bitrate /
    * sample-rate tables) — the oracle-checkable fixture for [[mp3Meta]].
    */
  def syntheticMp3FromDocs(documents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("content", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select(col("doc_id")).filter(col("doc_id") >= 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          Row(d, graft.functions.Mp3Meta.build(
            id3TagBytes = 10 + (d % 100).toInt,
            bitrateIdx = 1 + (d % 14).toInt,
            rateIdx = (d % 3).toInt,
            padding = (d % 2).toInt,
            modeIdx = (d % 4).toInt))
        }
      }(enc)
  }

  /** Content sniffing by magic bytes — the crawl-side "is the payload
    * what the server SAID it is" primitive (MIME confusion is both a
    * pipeline-routing bug and a security class; browsers sniff for the
    * same reason). Pure Column program over `hex(substring(...))`
    * prefix tests — whole-stage codegen, no UDF, payload bytes never
    * leave the scan:
    *
    *  - `warc`  "WARC/" at 0            - `png`  89 50 4E 47
    *  - `gzip`  1F 8B                   - `pdf`  "%PDF"
    *  - `zip`   "PK" (or the empty-archive EOCD "PK")
    *  - `mp3`   "ID3" envelope or a bare FFFx frame-sync prefix
    *  - `mp4`   "ftyp" at byte 4        - `tar`  "ustar" at byte 257
    *  - `wav`/`avi`  "RIFF" + form type at byte 8
    *  - `html`  leading-whitespace-trimmed `<!doctype` / `<html`
    *  - anything else → `unknown`
    *
    * Order matters and is fixed: container magics are disjoint, html
    * is tested last among the texty shapes. Truncated payloads fail
    * their prefix test and fall through (substring past the end is
    * short, never an error).
    */
  def sniffMime(content: Column): Column = {
    def hexAt(pos: Int, n: Int): Column = hex(substring(content, pos, n))
    val riffForm = hexAt(9, 4)
    // ltrim() strips only ' ' — servers pad with newlines/tabs too.
    // ISO-8859-1, NOT UTF-8: every byte sequence is valid Latin-1, so
    // arbitrary binary that falls through the magic tests can never
    // throw (Spark 4's StringDecode REPORTs malformed UTF-8 — a JPEG
    // or a multi-byte char straddling the 64-byte cut would fail the
    // task); the "<html"/"<!doctype" probes are pure ASCII, which
    // Latin-1 maps identically.
    val head = lower(regexp_replace(
      decode(substring(content, 1, 64), "ISO-8859-1"), "^\\s+", ""))
    when(hexAt(1, 5) === "574152432F", "warc") // "WARC/"
      .when(hexAt(1, 4) === "89504E47", "png")
      .when(hexAt(1, 2) === "1F8B", "gzip")
      .when(hexAt(1, 4).isin("504B0304", "504B0506"), "zip")
      .when(hexAt(1, 4) === "25504446", "pdf") // "%PDF"
      .when(hexAt(1, 3) === "494433" ||
        hexAt(1, 2).startsWith("FFF"), "mp3") // ID3 | frame sync
      .when(hexAt(5, 4) === "66747970", "mp4") // "ftyp"
      .when(hexAt(1, 4) === "52494646" && riffForm === "57415645", "wav")
      .when(hexAt(1, 4) === "52494646" && riffForm === "41564920", "avi")
      .when(hexAt(258, 5) === "7573746172", "tar") // "ustar" @257
      .when(head.startsWith("<!doctype") || head.startsWith("<html"), "html")
      .otherwise("unknown")
  }

  /** Synthesize a media table from the documents table (text bytes stand
    * in for image payloads) — lets the multimodal plumbing run against the
    * driver's testdata deterministically.
    */
  def mediaFromDocuments(spark: SparkSession, documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        lit("application/x-stub").as("mime"),
        lit(64).cast("int").as("width"),
        lit(64).cast("int").as("height"),
        (length(col("text")).cast("long") * 10).as("duration_ms"),
        lit(16000).cast("int").as("sample_rate")).as("meta"))
}
