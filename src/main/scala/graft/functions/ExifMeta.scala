package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** EXIF metadata from PURE BYTE PARSING of a JPEG payload — the image
  * analog of [[ContainerMeta]]: orientation (the rotate-before-decode
  * flag every image pipeline must honor), declared dimensions, camera
  * make and capture time, straight off the APP1 TIFF structure (CIPA
  * DC-008 / TIFF 6.0, both public specs).
  *
  * Structure walked: JPEG segment stream (`FFD8`, then `FF`-marker
  * segments with big-endian u16 lengths) → APP1 (`FFE1`) with an
  * `Exif\0\0` preamble → TIFF header (`II`/`MM` byte order, magic 42,
  * IFD0 offset) → IFD0 entries (tag, type, count, inline-or-offset
  * value, LEFT-justified inline values per the spec). Both byte orders
  * supported. Null (never an exception) for anything that doesn't
  * parse — safe over arbitrary binary corpora.
  */
object ExifMeta {

  final case class ExifInfo(byteOrder: String, orientation: Option[Int],
    width: Option[Int], height: Option[Int], make: Option[String],
    datetime: Option[String])

  def probe(bytes: Array[Byte]): Option[ExifInfo] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    var pos = 2
    while (pos + 4 <= bytes.length) {
      if ((bytes(pos) & 0xff) != 0xff) return None
      val marker = bytes(pos + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS: no APP1
      val len = ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      if (len < 2 || pos + 2 + len > bytes.length) return None
      if (marker == 0xe1 && len >= 8 &&
        bytes(pos + 4) == 'E' && bytes(pos + 5) == 'x' &&
        bytes(pos + 6) == 'i' && bytes(pos + 7) == 'f' &&
        bytes(pos + 8) == 0 && bytes(pos + 9) == 0) {
        return parseTiff(bytes, pos + 10, pos + 2 + len)
      }
      pos += 2 + len
    }
    None
  }

  private def parseTiff(b: Array[Byte], tiff: Int, end: Int): Option[ExifInfo] = {
    if (tiff + 8 > end) return None
    val little = b(tiff) == 'I' && b(tiff + 1) == 'I'
    val big = b(tiff) == 'M' && b(tiff + 1) == 'M'
    if (!little && !big) return None
    def u16(o: Int): Int =
      if (o + 2 > end) -1
      else if (little) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def u32(o: Int): Long =
      if (o + 4 > end) -1L
      else if (little) (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    if (u16(tiff + 2) != 42) return None
    val ifd0 = u32(tiff + 4)
    if (ifd0 < 0 || tiff + ifd0 + 2 > end) return None
    val base = tiff + ifd0.toInt
    val n = u16(base)
    if (n < 0 || base + 2 + n * 12 > end) return None
    var orientation: Option[Int] = None
    var width: Option[Int] = None
    var height: Option[Int] = None
    var make: Option[String] = None
    var datetime: Option[String] = None
    def shortOrLong(entry: Int, typ: Int): Option[Int] = typ match {
      case 3 => Some(u16(entry + 8)).filter(_ >= 0) // SHORT, left-justified
      // LONG: also reject [2^31, 2^32) — the toInt would wrap negative
      // and surface as a nonsense negative dimension instead of None
      case 4 => Some(u32(entry + 8))
        .filter(v => v >= 0 && v <= Int.MaxValue).map(_.toInt)
      case _ => None
    }
    def ascii(entry: Int): Option[String] = {
      val count = u32(entry + 4)
      if (count <= 0) None
      else {
        // bound the raw u32 offset BEFORE adding tiff: the -1
        // truncation sentinel AND any value ≥ 2^31 (off.toInt wraps
        // negative — at = tiff-2 passes the at<0 guard and returns
        // garbage bytes from an unrelated segment instead of None)
        val off = if (count <= 4) 0L else u32(entry + 8)
        if (off < 0 || off > Int.MaxValue) return None
        val at = if (count <= 4) entry + 8 else tiff + off.toInt
        if (at < 0 || at + count > end) None
        else Some(new String(b, at, count.toInt,
          java.nio.charset.StandardCharsets.US_ASCII)
          .takeWhile(_ != '\u0000'))
      }
    }
    var i = 0
    while (i < n) {
      val e = base + 2 + i * 12
      val tag = u16(e); val typ = u16(e + 2)
      tag match {
        case 0x0100 => width = shortOrLong(e, typ)
        case 0x0101 => height = shortOrLong(e, typ)
        case 0x0112 => orientation = shortOrLong(e, typ)
        case 0x010f if typ == 2 => make = ascii(e)
        case 0x0132 if typ == 2 => datetime = ascii(e)
        case _ => ()
      }
      i += 1
    }
    Some(ExifInfo(if (little) "II" else "MM", orientation, width, height,
      make, datetime))
  }

  /** Null-or-InternalRow form behind `HashFunctions.exifProbe`. */
  def probeRow(bytes: Array[Byte]): InternalRow =
    probe(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.byteOrder),
        m.orientation.map(Int.box).orNull,
        m.width.map(Int.box).orNull,
        m.height.map(Int.box).orNull,
        m.make.map(s => UTF8String.fromString(s)).orNull,
        m.datetime.map(s => UTF8String.fromString(s)).orNull))
      case None => null
    }

  /** Build a minimal EXIF JPEG (header-only: FFD8 + APP1 TIFF + FFD9 —
    * no scan data) for fixtures and deterministic in-query synthesis.
    * Supports both byte orders so tests exercise both parse paths.
    */
  def build(littleEndian: Boolean, orientation: Int, width: Int,
      height: Int, make: String, datetime: String): Array[Byte] = {
    val makeB = (make + "\u0000").getBytes("US-ASCII")
    val dtB = (datetime + "\u0000").getBytes("US-ASCII")
    // TIFF region: header(8) + count(2) + 5*12 entries + next(4) = 74,
    // then the two ASCII blocks
    val dataOff = 74
    val tiff = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (littleEndian) { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff) }
      else { tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
    def w32(v: Int): Unit =
      if (littleEndian) { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff)
        tiff.write((v >> 16) & 0xff); tiff.write((v >> 24) & 0xff) }
      else { tiff.write((v >> 24) & 0xff); tiff.write((v >> 16) & 0xff)
        tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
    def entryShort(tag: Int, v: Int): Unit = {
      w16(tag); w16(3); w32(1)
      // inline value LEFT-justified in the 4-byte field
      w16(v); w16(0)
    }
    def entryAscii(tag: Int, len: Int, off: Int): Unit = {
      w16(tag); w16(2); w32(len); w32(off)
    }
    tiff.write(if (littleEndian) 'I' else 'M')
    tiff.write(if (littleEndian) 'I' else 'M')
    w16(42); w32(8)
    w16(5)
    entryShort(0x0100, width)
    entryShort(0x0101, height)
    entryAscii(0x010f, makeB.length, dataOff)
    entryShort(0x0112, orientation)
    entryAscii(0x0132, dtB.length, dataOff + makeB.length)
    w32(0)
    tiff.write(makeB); tiff.write(dtB)
    val t = tiff.toByteArray
    val payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ t
    val segLen = payload.length + 2
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    out.write(0xff); out.write(0xe1)
    out.write((segLen >> 8) & 0xff); out.write(segLen & 0xff)
    out.write(payload)
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }
}
