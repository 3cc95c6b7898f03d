package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** MP3 metadata from PURE BYTE PARSING — the compressed-audio leg of
  * the byte-probe family ([[AudioMeta]] WAV, [[ExifMeta]] JPEG,
  * [[PngMeta]] PNG, [[ContainerMeta]] AVI/MOV): ID3v2 tag envelope and
  * the first MPEG-1 Layer III frame header, decoded off the published
  * bit layout (ISO/IEC 11172-3 + the id3.org ID3v2 spec), no audio
  * decode.
  *
  * Structure walked: optional `ID3` v2 header (major/revision bytes,
  * SYNCSAFE u28 tag size — 4×7 bits, the classic off-by-8× trap),
  * skipped to the first frame; frame sync `11111111 111` then version
  * (11 = MPEG-1), layer (01 = Layer III), bitrate index (public
  * kbps table), sample-rate index (44100/48000/32000), padding bit and
  * channel mode. frame_bytes = 144·bitrate/sample_rate + padding —
  * integer arithmetic per the spec. Null (never an exception) for
  * anything that doesn't parse.
  */
object Mp3Meta {

  final case class Mp3Info(id3Version: Option[String], id3Size: Option[Long],
    bitrateKbps: Int, sampleRate: Int, channelMode: String, frameBytes: Int)

  /** MPEG-1 Layer III bitrate table, kbps, index 1..14 (0 = free, 15 =
    * bad — both rejected).
    */
  private val BitrateKbps =
    Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  private val SampleRate = Array(44100, 48000, 32000) // index 3 reserved

  private val Modes = Array("stereo", "joint_stereo", "dual_channel", "mono")

  def probe(bytes: Array[Byte]): Option[Mp3Info] = {
    if (bytes == null || bytes.length < 4) return None
    var pos = 0
    var id3v: Option[String] = None
    var id3s: Option[Long] = None
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
      bytes(2) == '3') {
      val major = bytes(3) & 0xff
      val rev = bytes(4) & 0xff
      // syncsafe: high bit of every size byte must be 0
      var size = 0L
      var i = 6
      while (i < 10) {
        if ((bytes(i) & 0x80) != 0) return None
        size = (size << 7) | (bytes(i) & 0x7fL)
        i += 1
      }
      // v2.4 footer flag (0x10 in the flags byte): a 10-byte footer
      // follows the tag body, so the first frame starts 10 bytes later
      // — ignoring it made probe() reject spec-valid footered files
      val footer = if ((bytes(5) & 0x10) != 0) 10 else 0
      if (10 + size + footer + 4 > bytes.length) return None
      id3v = Some(s"2.$major.$rev")
      id3s = Some(size)
      pos = 10 + size.toInt + footer
    }
    if (pos + 4 > bytes.length) return None
    val b1 = bytes(pos) & 0xff
    val b2 = bytes(pos + 1) & 0xff
    val b3 = bytes(pos + 2) & 0xff
    val b4 = bytes(pos + 3) & 0xff
    if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
    val version = (b2 >> 3) & 0x3
    val layer = (b2 >> 1) & 0x3
    if (version != 3 || layer != 1) return None // MPEG-1 Layer III only
    val brIdx = (b3 >> 4) & 0xf
    val srIdx = (b3 >> 2) & 0x3
    val padding = (b3 >> 1) & 0x1
    val mode = (b4 >> 6) & 0x3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
    val kbps = BitrateKbps(brIdx)
    val rate = SampleRate(srIdx)
    val frameBytes = 144 * kbps * 1000 / rate + padding
    if (pos + frameBytes > bytes.length) return None
    Some(Mp3Info(id3v, id3s, kbps, rate, Modes(mode), frameBytes))
  }

  /** Null-or-InternalRow form behind `HashFunctions.mp3Probe`. */
  def probeRow(bytes: Array[Byte]): InternalRow =
    probe(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        m.id3Version.map(UTF8String.fromString).orNull,
        m.id3Size.map(Long.box).orNull,
        m.bitrateKbps, m.sampleRate,
        UTF8String.fromString(m.channelMode), m.frameBytes))
      case None => null
    }

  /** Build a header-complete single-frame MP3 (silent payload) with an
    * ID3v2.3 envelope for fixtures and deterministic in-query synthesis.
    */
  def build(id3TagBytes: Int, bitrateIdx: Int, rateIdx: Int,
      padding: Int, modeIdx: Int): Array[Byte] = {
    require(bitrateIdx >= 1 && bitrateIdx <= 14, "bitrate index 1..14")
    require(rateIdx >= 0 && rateIdx <= 2, "sample-rate index 0..2")
    val out = new java.io.ByteArrayOutputStream()
    out.write("ID3".getBytes("US-ASCII"))
    out.write(3); out.write(0); out.write(0) // v2.3.0, no flags
    out.write((id3TagBytes >> 21) & 0x7f); out.write((id3TagBytes >> 14) & 0x7f)
    out.write((id3TagBytes >> 7) & 0x7f); out.write(id3TagBytes & 0x7f)
    out.write(new Array[Byte](id3TagBytes))
    out.write(0xff)
    out.write(0xe0 | (3 << 3) | (1 << 1) | 1) // MPEG-1, Layer III, no CRC
    out.write((bitrateIdx << 4) | (rateIdx << 2) | (padding << 1))
    out.write(modeIdx << 6)
    val frameBytes =
      144 * BitrateKbps(bitrateIdx) * 1000 / SampleRate(rateIdx) + padding
    out.write(new Array[Byte](frameBytes - 4))
    out.toByteArray
  }
}
