package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** PNG metadata from PURE BYTE PARSING of the chunk stream (RFC 2083 /
  * W3C PNG spec, public) — the lossless-image leg of the byte-probe
  * family ([[ExifMeta]] JPEG, [[AudioMeta]] WAV, [[ContainerMeta]]
  * AVI/MOV): declared dimensions, bit depth, color type and interlace
  * off IHDR, the first `tEXt` annotation, and the chunk census, no
  * pixel decode.
  *
  * Structure walked: 8-byte signature `89 50 4E 47 0D 0A 1A 0A`, then
  * chunks `[u32 BE length][4cc type][data][u32 BE CRC]` ending at
  * `IEND`. IHDR must be the FIRST chunk (per spec) and its CRC32 (over
  * type+data, ISO 3309 polynomial via `java.util.zip.CRC32`) is
  * VERIFIED — a corrupted header returns null rather than garbage
  * dimensions. Null (never an exception) for anything that doesn't
  * parse — safe over arbitrary binary corpora.
  */
object PngMeta {

  final case class PngInfo(width: Int, height: Int, bitDepth: Int,
    colorType: Int, interlace: Int, nChunks: Int,
    textKeyword: Option[String], textValue: Option[String])

  private def be32(b: Array[Byte], o: Int): Long =
    if (o + 4 > b.length) -1L
    else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def fourcc(b: Array[Byte], o: Int): String =
    if (o + 4 > b.length) ""
    else new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  private val Signature =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  def probe(bytes: Array[Byte]): Option[PngInfo] = {
    if (bytes == null || bytes.length < 8 + 25) return None
    var i = 0
    while (i < 8) { if (bytes(i) != Signature(i)) return None; i += 1 }
    var pos = 8
    var first = true
    var w = -1; var h = -1; var depth = -1; var color = -1; var inter = -1
    var nChunks = 0
    var textKey: Option[String] = None
    var textVal: Option[String] = None
    var done = false
    while (!done && pos + 12 <= bytes.length) {
      val len = be32(bytes, pos)
      val typ = fourcc(bytes, pos + 4)
      if (len < 0 || pos + 12 + len > bytes.length) return None
      if (first && typ != "IHDR") return None
      if (typ == "IHDR") {
        if (!first || len != 13) return None
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, pos + 4, 4 + 13)
        if (crc.getValue != be32(bytes, pos + 8 + 13)) return None
        w = be32(bytes, pos + 8).toInt
        h = be32(bytes, pos + 12).toInt
        depth = bytes(pos + 16) & 0xff
        color = bytes(pos + 17) & 0xff
        inter = bytes(pos + 20) & 0xff
      } else if (typ == "tEXt" && textKey.isEmpty) {
        // keyword NUL text, both Latin-1 (keywords are ASCII in practice)
        val data = pos + 8
        var nul = data
        val end = data + len.toInt
        while (nul < end && bytes(nul) != 0) nul += 1
        if (nul < end) {
          textKey = Some(new String(bytes, data, nul - data, "ISO-8859-1"))
          textVal = Some(new String(bytes, nul + 1, end - nul - 1,
            "ISO-8859-1"))
        }
      }
      first = false
      nChunks += 1
      if (typ == "IEND") done = true
      pos += 12 + len.toInt
    }
    if (!done || w <= 0 || h <= 0) None
    else Some(PngInfo(w, h, depth, color, inter, nChunks, textKey, textVal))
  }

  /** Null-or-InternalRow form behind `HashFunctions.pngProbe`. */
  def probeRow(bytes: Array[Byte]): InternalRow =
    probe(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        m.width, m.height, m.bitDepth, m.colorType, m.interlace, m.nChunks,
        m.textKeyword.map(UTF8String.fromString).orNull,
        m.textValue.map(UTF8String.fromString).orNull))
      case None => null
    }

  /** Build a REAL, decoder-valid PNG (all-zero pixels, spec CRCs, real
    * zlib IDAT) for fixtures and deterministic in-query synthesis.
    * colorType 0 = 8-bit grayscale, 2 = 8-bit RGB.
    */
  def build(width: Int, height: Int, colorType: Int,
      text: Option[(String, String)]): Array[Byte] = {
    require(colorType == 0 || colorType == 2, "grayscale or RGB only")
    val bpp = if (colorType == 0) 1 else 3
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def w32(v: Long): Unit = {
        out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
      }
      w32(data.length.toLong)
      val t = typ.getBytes("US-ASCII")
      out.write(t)
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      w32(crc.getValue)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(width).putInt(height)
    ihdr.put(8.toByte).put(colorType.toByte)
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte)
    chunk("IHDR", ihdr.array())
    text.foreach { case (k, v) =>
      chunk("tEXt", (k + "\u0000" + v).getBytes("ISO-8859-1"))
    }
    val raw = new Array[Byte]((1 + width * bpp) * height) // filter 0 rows
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val idat = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) idat.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    chunk("IDAT", idat.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
