package graft.multimodal

import java.nio.ByteBuffer

/** Parsed EXIF IFD0 subset: the curation-relevant tags (camera make/model,
  * orientation, capture timestamp) a real pipeline filters on BEFORE
  * paying for pixel decode.
  */
case class ExifMeta(make: String, model: String, orientation: Int,
    dateTime: String)

/** Parsed pre-decode JPEG metadata: frame dimensions (SOF), JFIF density
  * (APP0) and the EXIF IFD0 subset (APP1). Absent/invalid segments leave
  * their half None — a structurally broken APP1 rejects the METADATA, it
  * never throws and never blocks pixel decode.
  */
case class JpegMeta(width: Int, height: Int,
    jfif: Option[(Int, Int, Int)], // (density units, x density, y density)
    exif: Option[ExifMeta])

/** JFIF APP0 + EXIF APP1 segment codec — pure byte work against the
  * PUBLIC specs (JFIF 1.02 segment layout; EXIF = JEITA CP-3451's TIFF 6.0
  * structure: byte-order mark II/MM, magic 42, IFD0 as count + 12-byte
  * tag entries + next-offset, ASCII values > 4 bytes via data-area
  * offsets). The builder emits BOTH byte orders so the parser's
  * endian-aware field readers are what the gate proves; the parser reads
  * IFD0 through [[Ifd]], the reader TIFF decoding uses too, and does what a
  * production metadata sniffer does — bounds-check every offset in Long
  * arithmetic and REJECT (None) any structural violation rather than
  * mis-read or throw out of an executor task.
  */
object ExifCodec {

  private val TagMake = 0x010f
  private val TagModel = 0x0110
  private val TagOrientation = 0x0112
  private val TagDateTime = 0x0132

  /** JFIF APP0 segment (version 1.02, no thumbnail) with explicit
    * density fields.
    */
  def jfifApp0(units: Int, xDensity: Int, yDensity: Int): Array[Byte] =
    JpegWriter.seg(0xe0, jfif(units, xDensity, yDensity))

  /** The JFIF APP0 payload; [[MediaCodec.jpegHeader]] writes it too. */
  private[multimodal] def jfif(units: Int, xDensity: Int, yDensity: Int): Array[Byte] = {
    require(units >= 0 && units <= 2)
    require(xDensity > 0 && xDensity <= 0xffff && yDensity > 0 && yDensity <= 0xffff)
    val p = ByteBuffer.allocate(14)
    p.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    p.put(1.toByte).put(2.toByte)
    p.put(units.toByte)
    p.putShort(xDensity.toShort).putShort(yDensity.toShort)
    p.put(0.toByte).put(0.toByte) // no thumbnail
    p.array()
  }

  /** EXIF APP1 segment carrying an IFD0 with Make/Model/Orientation/
    * DateTime, in the requested TIFF byte order. `dateTime` must be the
    * spec's 19-char "YYYY:MM:DD HH:MM:SS".
    */
  def exifApp1(make: String, model: String, orientation: Int,
      dateTime: String, littleEndian: Boolean): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8)
    require(dateTime.length == 19)
    val mk = make.getBytes("US-ASCII"); val md = model.getBytes("US-ASCII")
    val dt = dateTime.getBytes("US-ASCII")
    val order = if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
    else java.nio.ByteOrder.BIG_ENDIAN
    // TIFF layout: header(8) + count(2) + 4 entries(48) + next(4) = 62,
    // then the ASCII data area (each value NUL-terminated).
    val dataStart = 62
    val tiffLen = dataStart + mk.length + 1 + md.length + 1 + dt.length + 1
    val t = ByteBuffer.allocate(tiffLen).order(order)
    t.put((if (littleEndian) "II" else "MM").getBytes("US-ASCII"))
    t.putShort(42).putInt(8)
    t.putShort(4) // entry count
    var off = dataStart
    def asciiEntry(tag: Int, bytes: Array[Byte]): Unit = {
      t.putShort(tag.toShort).putShort(2).putInt(bytes.length + 1).putInt(off)
      off += bytes.length + 1
    }
    asciiEntry(TagMake, mk)
    asciiEntry(TagModel, md)
    // SHORT values are left-justified inside the 4-byte value field
    // (TIFF 6.0 §2): the u16 sits in the field's FIRST two bytes in
    // either byte order.
    t.putShort(TagOrientation.toShort).putShort(3).putInt(1)
    t.putShort(orientation.toShort).putShort(0)
    asciiEntry(TagDateTime, dt)
    t.putInt(0) // next IFD
    t.put(mk).put(0.toByte).put(md).put(0.toByte).put(dt).put(0.toByte)
    JpegWriter.seg(0xe1, "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ t.array())
  }

  /** Parse an APP1 payload (past the 2-byte length field): "Exif\0\0"
    * identifier, then the TIFF structure read by [[Ifd]], from whose IFD0
    * the four curation tags are taken. None on ANY structural violation —
    * wrong byte-order mark, magic ≠ 42, any offset/count leaving the
    * segment, a non-ASCII type on an ASCII tag, a missing tag. Unlike a
    * TIFF file, EXIF IFD0 need not list its tags in ascending order.
    */
  private[multimodal] def parseExifPayload(b: Array[Byte], from: Int, to: Int): Option[ExifMeta] = {
    if (to - from < 6 || b(from) != 'E' || b(from + 1) != 'x' || b(from + 2) != 'i' ||
      b(from + 3) != 'f' || b(from + 4) != 0 || b(from + 5) != 0) return None
    val ifd = Ifd.first(b, from + 6, to).getOrElse(return None)
    var make: String = null; var model: String = null; var dt: String = null
    var orient = -1L
    var i = 0
    while (i < ifd.size) {
      ifd.tag(i) match {
        case TagMake => make = ifd.ascii(i).getOrElse(return None)
        case TagModel => model = ifd.ascii(i).getOrElse(return None)
        case TagDateTime => dt = ifd.ascii(i).getOrElse(return None)
        case TagOrientation =>
          orient = if (ifd.typ(i) == Ifd.TypeShort) ifd.scalar(i) else -1
          if (orient < 1 || orient > 8) return None
        case _ => () // other tags skipped
      }
      i += 1
    }
    if (make == null || model == null || dt == null || orient < 0) None
    else Some(ExifMeta(make, model, orient.toInt, dt))
  }

  /** Pre-decode metadata sniff over a complete JPEG: walk marker segments
    * to SOS, collecting JFIF density (APP0), the EXIF IFD0 subset (APP1)
    * and frame dimensions (SOFn). Returns None when the marker stream
    * itself is broken or carries no frame header; an absent or invalid
    * APP0/APP1 only leaves that Option empty.
    */
  def parseJpegMeta(b: Array[Byte]): Option[JpegMeta] = {
    val walk = new JpegCodec.JpegWalker(b)
    var jfif: Option[(Int, Int, Int)] = None
    var exif: Option[ExifMeta] = None
    walk.frameSize { marker =>
      val seg0 = walk.seg0
      if (marker == 0xe0 && walk.segEnd - seg0 >= 14 &&
        b(seg0) == 'J' && b(seg0 + 1) == 'F' && b(seg0 + 2) == 'I' &&
        b(seg0 + 3) == 'F' && b(seg0 + 4) == 0) {
        val units = b(seg0 + 7) & 0xff
        val xd = walk.be16(seg0 + 8); val yd = walk.be16(seg0 + 10)
        if (units <= 2 && xd > 0 && yd > 0) jfif = Some((units, xd, yd))
      }
      if (marker == 0xe1 && exif.isEmpty)
        exif = parseExifPayload(b, seg0, walk.segEnd)
    }.map { case (w, h) => JpegMeta(w, h, jfif, exif) }
  }
}
