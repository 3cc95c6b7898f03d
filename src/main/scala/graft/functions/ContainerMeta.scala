package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Video container metadata from PURE BYTE PARSING — no codec needed.
  * Frame *pixels* require codecs the JDK doesn't ship, but the container
  * headers are plain big-endian arithmetic:
  *
  *  - MP4 / ISO BMFF (ISO 14496-12, public spec): boxes are
  *    `[u32 size][4cc type]` (size 1 → u64 largesize follows); `moov/mvhd`
  *    carries timescale + duration, `moov/trak/tkhd` carries 16.16
  *    fixed-point presentation width/height.
  *  - Matroska / WebM (EBML, public spec at matroska.org): varint-tagged
  *    elements; `Segment/Info` carries TimestampScale + float Duration,
  *    `Segment/Tracks/TrackEntry/Video` carries PixelWidth/PixelHeight.
  *
  * Returns null (not an exception) for anything that doesn't parse — the
  * prober must be safe to run over arbitrary binary corpora.
  */
object ContainerMeta {

  final case class VideoMeta(container: String, width: Option[Int],
      height: Option[Int], durationMs: Option[Long])

  def probe(bytes: Array[Byte]): Option[VideoMeta] =
    if (bytes == null) None
    else parseMp4(bytes).orElse(parseMkv(bytes))

  /** Null-or-InternalRow form behind `HashFunctions.videoProbe` (codegen
    * calls this static method directly).
    */
  def probeRow(bytes: Array[Byte]): InternalRow =
    probe(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.container),
        m.width.map(Int.box).orNull,
        m.height.map(Int.box).orNull,
        m.durationMs.map(Long.box).orNull))
      case None => null
    }

  // ------------------------------------------------------------ MP4/BMFF

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)

  private def fourcc(b: Array[Byte], o: Int): String =
    new String(Array(b(o), b(o + 1), b(o + 2), b(o + 3)),
      java.nio.charset.StandardCharsets.ISO_8859_1)

  private def parseMp4(b: Array[Byte]): Option[VideoMeta] = {
    if (b.length < 12 || fourcc(b, 4) != "ftyp") return None
    var durationMs: Option[Long] = None
    var width: Option[Int] = None
    var height: Option[Int] = None

    def mvhd(p: Int, end: Int): Unit = {
      val v = b(p) & 0xff
      val (tsOff, durLen) = if (v == 1) (p + 20, 8) else (p + 12, 4)
      if (tsOff + 4 + durLen > end) return
      val timescale = be32(b, tsOff)
      val dur = if (durLen == 8) be64(b, tsOff + 4) else be32(b, tsOff + 4)
      // all-ones duration = "unknown" per spec
      val unknown = if (durLen == 8) dur == -1L else dur == 0xffffffffL
      if (timescale > 0 && !unknown)
        durationMs = Some(dur * 1000L / timescale)
    }

    def tkhd(p: Int, end: Int): Unit = {
      val v = b(p) & 0xff
      val wOff = if (v == 1) p + 88 else p + 76
      if (wOff + 8 > end) return
      val w = (be32(b, wOff) >>> 16).toInt // 16.16 fixed point
      val h = (be32(b, wOff + 4) >>> 16).toInt
      // the video trak has nonzero presentation dims; audio traks are 0×0
      if (w > 0 && h > 0 && width.isEmpty) { width = Some(w); height = Some(h) }
    }

    def walk(start: Int, end: Int, depth: Int): Unit = {
      if (depth > 8) return
      var o = start
      while (o + 8 <= end) {
        var size = be32(b, o)
        var hdr = 8
        if (size == 1) {
          if (o + 16 > end) return
          size = be64(b, o + 8); hdr = 16
        } else if (size == 0) size = end - o // box extends to EOF
        if (size < hdr || o + size > end) return
        val typ = fourcc(b, o + 4)
        typ match {
          case "moov" | "trak" | "mdia" => walk(o + hdr, (o + size).toInt, depth + 1)
          case "mvhd" => mvhd(o + hdr, (o + size).toInt)
          case "tkhd" => tkhd(o + hdr, (o + size).toInt)
          case _ =>
        }
        o += size.toInt
      }
    }

    walk(0, b.length, 0)
    if (durationMs.isEmpty && width.isEmpty) None
    else Some(VideoMeta("mp4", width, height, durationMs))
  }

  // ---------------------------------------------------------- MKV/EBML

  /** EBML varint: length = leading zero bits of the first byte + 1. IDs
    * keep the marker bit (matching how the spec writes them); sizes strip
    * it. Returns (value, byteLen) or null on truncation.
    */
  private def readVint(b: Array[Byte], o: Int, max: Int,
      stripMarker: Boolean): (Long, Int) = {
    if (o >= b.length) return null
    val first = b(o) & 0xff
    if (first == 0) return null
    val len = Integer.numberOfLeadingZeros(first) - 23 // 1..8
    if (len > max || o + len > b.length) return null
    var v = if (stripMarker) (first & (0xff >>> len)).toLong else first.toLong
    var i = 1
    while (i < len) { v = (v << 8) | (b(o + i) & 0xffL); i += 1 }
    (v, len)
  }

  private def parseMkv(b: Array[Byte]): Option[VideoMeta] = {
    if (b.length < 4 || be32(b, 0) != 0x1a45dfa3L) return None
    var tsScaleNs = 1000000L // EBML default: 1 ms
    var durationTicks: Option[Double] = None
    var width: Option[Int] = None
    var height: Option[Int] = None

    def uint(o: Int, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (b(o + i) & 0xffL); i += 1 }
      v
    }

    def float(o: Int, n: Int): Option[Double] = n match {
      case 4 => Some(java.lang.Float.intBitsToFloat(uint(o, 4).toInt).toDouble)
      case 8 => Some(java.lang.Double.longBitsToDouble(uint(o, 8)))
      case _ => None
    }

    def walk(start: Int, end: Int, depth: Int): Unit = {
      if (depth > 8) return
      var o = start
      while (o < end) {
        val id = readVint(b, o, 4, stripMarker = false)
        if (id == null) return
        val sz = readVint(b, o + id._2, 8, stripMarker = true)
        if (sz == null) return
        val p = o + id._2 + sz._2
        // all-ones size = "unknown, extends to parent end" (streamed files)
        val allOnes = sz._1 == (1L << (7 * sz._2)) - 1
        // reject declared sizes past the buffer BEFORE any Int cast: a
        // 2^31..2^56 size would truncate and wrap to a small positive
        // offset, silently misparsing a malformed container into wrong
        // (not null) values. p <= end holds, so sz fits in Int after this.
        if (p > end) return
        if (!allOnes && sz._1 > end - p) return
        val pEnd = if (allOnes) end else p + sz._1.toInt
        val n = pEnd - p
        id._1 match {
          case 0x18538067L | 0x1549a966L | 0x1654ae6bL | 0xaeL | 0xe0L =>
            walk(p, pEnd, depth + 1) // Segment/Info/Tracks/TrackEntry/Video
          // EBML uints are 0-8 bytes; an oversized element is malformed —
          // skip it rather than read a prefix of it as the value
          case 0x2ad7b1L => if (n <= 8) tsScaleNs = uint(p, n)
          case 0x4489L => durationTicks = float(p, n)
          case 0xb0L =>
            if (n <= 8 && uint(p, n) <= Int.MaxValue) width = Some(uint(p, n).toInt)
          case 0xbaL =>
            if (n <= 8 && uint(p, n) <= Int.MaxValue) height = Some(uint(p, n).toInt)
          case _ =>
        }
        o = pEnd
      }
    }

    walk(0, b.length, 0)
    val durationMs = durationTicks.map(d => math.round(d * tsScaleNs / 1e6))
    if (durationMs.isEmpty && width.isEmpty) None
    else Some(VideoMeta("matroska", width, height, durationMs))
  }
}
