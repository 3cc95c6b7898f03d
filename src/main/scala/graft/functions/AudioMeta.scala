package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** Audio container metadata from PURE BYTE PARSING of a RIFF/WAVE
  * payload — the audio leg of the metadata trio ([[ContainerMeta]]
  * video, [[ExifMeta]] image): channels, sample rate, bit depth and
  * exact duration off the `fmt ` and `data` chunk headers, no decode.
  * Null (never an exception) for non-WAVE payloads.
  *
  * Layout (all little-endian, Microsoft RIFF spec): `RIFF <u32 size>
  * WAVE`, then chunks `[4cc][u32 size][payload]` with even-byte
  * padding; `fmt ` carries format/channels/rate/bits, `data`'s size is
  * the PCM byte count, so duration_ms = dataBytes·1000 / byteRate with
  * byteRate = rate·channels·bits/8 (integer arithmetic — exact when
  * the caller synthesized whole-millisecond audio).
  */
object AudioMeta {

  final case class WavMeta(channels: Int, sampleRate: Int, bitsPerSample: Int,
    dataBytes: Long, durationMs: Option[Long])

  private def le32(b: Array[Byte], o: Int): Long =
    if (o + 4 > b.length) -1L
    else (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def le16(b: Array[Byte], o: Int): Int =
    if (o + 2 > b.length) -1
    else (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def fourcc(b: Array[Byte], o: Int): String =
    if (o + 4 > b.length) ""
    else new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  def probe(bytes: Array[Byte]): Option[WavMeta] = {
    if (bytes == null || bytes.length < 12) return None
    if (fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "WAVE") return None
    var pos = 12
    var channels = -1; var rate = -1; var bits = -1; var dataBytes = -1L
    var formatTag = -1; var declaredByteRate = -1L
    while (pos + 8 <= bytes.length) {
      val id = fourcc(bytes, pos)
      val size = le32(bytes, pos + 4)
      if (size < 0 || pos + 8 + size > bytes.length) return None
      if (id == "fmt " && size >= 16) {
        formatTag = le16(bytes, pos + 8)
        channels = le16(bytes, pos + 10)
        rate = le32(bytes, pos + 12).toInt
        declaredByteRate = le32(bytes, pos + 16)
        bits = le16(bytes, pos + 22)
      } else if (id == "data") {
        dataBytes = size
      }
      pos += 8 + size.toInt + (size.toInt & 1)
    }
    if (channels <= 0 || rate <= 0 || bits <= 0 || dataBytes < 0) None
    else {
      // the fmt chunk DECLARES its average byte rate — the spec-correct
      // duration basis for ANY codec; rate·ch·bits/8 is only valid for
      // PCM (formatTag 1), and using it for e.g. ADPCM silently
      // mis-measures the duration
      val byteRate =
        if (declaredByteRate > 0) declaredByteRate
        else if (formatTag == 1) rate.toLong * channels * bits / 8
        else 0L
      val dur = if (byteRate > 0) Some(dataBytes * 1000L / byteRate) else None
      Some(WavMeta(channels, rate, bits, dataBytes, dur))
    }
  }

  /** Null-or-InternalRow form behind `HashFunctions.wavProbe`. */
  def probeRow(bytes: Array[Byte]): InternalRow =
    probe(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        m.channels, m.sampleRate, m.bitsPerSample, m.dataBytes,
        m.durationMs.map(Long.box).orNull))
      case None => null
    }

  /** Build a header-complete PCM WAV (silent samples) for fixtures and
    * deterministic in-query synthesis.
    */
  def build(channels: Int, sampleRate: Int, bitsPerSample: Int,
      frames: Int): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataBytes = frames * blockAlign
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    tag("RIFF"); w32(36 + dataBytes); tag("WAVE")
    tag("fmt "); w32(16)
    w16(1) // PCM
    w16(channels); w32(sampleRate)
    w32(sampleRate * blockAlign) // byte rate
    w16(blockAlign); w16(bitsPerSample)
    tag("data"); w32(dataBytes)
    out.write(new Array[Byte](dataBytes))
    out.toByteArray
  }
}
