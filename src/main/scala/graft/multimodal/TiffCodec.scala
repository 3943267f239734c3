package graft.multimodal

import java.io.ByteArrayOutputStream

/** Baseline TIFF 6.0 codec (Adobe TIFF specification, public) — pure JVM,
  * no codec libraries. TIFF is the scanned-document/scientific-capture
  * format of real crawl corpora; with PNG/JPEG/GIF it completes the
  * common-image-format decode set. Supported subset: grayscale, 8 bits
  * per sample, SamplesPerPixel 1, BOTH byte orders (II little-endian /
  * MM big-endian), BOTH baseline grayscale photometric interpretations
  * (0 = WhiteIsZero — stored values are INVERTED intensities — and
  * 1 = BlackIsZero), multi-strip layouts (RowsPerStrip < height),
  * Compression 1 (none), 5 (LZW, TIFF §13 variant: MSB-first codes,
  * 9→12-bit early-change widths, per-strip Clear/EOI, through the [[Lzw]]
  * coder shared with GIF) with Predictor (tag 317) 1 or 2 (horizontal
  * differencing), and 32773 (PackBits). Anything else — other bit depths,
  * palette/RGB, JPEG-in-TIFF, CCITT, tiled layouts — REJECTS (None) rather
  * than mis-decodes; malformed bytes never throw out of an executor task.
  * The IFD is read by [[Ifd]], shared with EXIF, which bounds-checks every
  * offset in Long arithmetic (TIFF offsets are untrusted 32-bit values
  * into the file); the decoder adds TIFF's rule that tags ascend.
  */
object TiffCodec {

  /** Decoded 8-bit grayscale image, normalized to BlackIsZero intensity. */
  case class TiffImage(width: Int, height: Int, pixels: Array[Byte])

  // Required baseline tags.
  private val TagWidth = 256
  private val TagHeight = 257
  private val TagBits = 258
  private val TagCompression = 259
  private val TagPhotometric = 262
  private val TagStripOffsets = 273
  private val TagSamplesPerPixel = 277
  private val TagRowsPerStrip = 278
  private val TagStripByteCounts = 279
  private val TagPredictor = 317

  // ---------------------------------------------------------------- encode

  /** PackBits compression (TIFF §9): replicate runs of 2+ as
    * (257−n, byte); literal runs of ≤128 as (n−1, bytes). The encoder
    * breaks literals at replicate boundaries the way the spec recommends
    * (a 2-byte run inside literals is left literal only when flanked).
    */
  private[graft] def packBits(row: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var i = 0
    while (i < row.length) {
      // Measure the replicate run at i.
      var run = 1
      while (i + run < row.length && row(i + run) == row(i) && run < 128) run += 1
      if (run >= 2) {
        out.write(257 - run); out.write(row(i))
        i += run
      } else {
        // Literal run: until the next 3+ replicate (2-byte runs are
        // cheaper left literal) or 128 bytes.
        val start = i
        var j = i + 1
        var rep = 1
        while (j < row.length && j - start < 128 && rep < 3) {
          if (row(j) == row(j - 1)) rep += 1 else rep = 1
          j += 1
        }
        val end = if (rep >= 3) j - rep else j
        out.write(end - start - 1)
        out.write(row, start, end - start)
        i = end
      }
    }
    out.toByteArray
  }

  /** PackBits decompression into exactly `expected` bytes; None on any
    * structural violation (overrun, truncation, surplus).
    */
  private def unpackBits(b: Array[Byte], from: Int, len: Int,
      expected: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expected)
    var i = from; val end = from.toLong + len
    var o = 0
    while (i < end) {
      val n = b(i); i += 1
      if (n >= 0) { // literal: n+1 bytes
        val cnt = n + 1
        if (i + cnt > end || o + cnt > expected) return None
        System.arraycopy(b, i, out, o, cnt)
        i += cnt; o += cnt
      } else if (n != -128) { // replicate: 1−n copies of next byte
        val cnt = 1 - n
        if (i >= end || o + cnt > expected) return None
        java.util.Arrays.fill(out, o, o + cnt, b(i))
        i += 1; o += cnt
      } // −128: no-op per spec
    }
    if (o != expected) None else Some(out)
  }

  /** Encode a complete single-page grayscale TIFF. `photometric` 1 stores
    * intensities directly (BlackIsZero); 0 stores INVERTED values
    * (WhiteIsZero) so a decoder that ignored the tag shows a negated
    * image — the gate catches it. `compression` is the TIFF tag value:
    * 1 none, 5 LZW, 32773 PackBits. `predictor` 2 applies horizontal
    * differencing per row BEFORE compression (TIFF §14 — the form
    * scanned-document LZW files ship with). Layout: 8-byte header, strip
    * data, offset/count arrays, IFD (tags ascending as the spec requires).
    */
  def tiffEncode(w: Int, h: Int, pixels: Array[Byte], littleEndian: Boolean,
      rowsPerStrip: Int, compression: Int, photometric: Int = 1,
      predictor: Int = 1): Array[Byte] = {
    require(w > 0 && h > 0 && pixels.length == w * h)
    require(rowsPerStrip >= 1)
    require(photometric == 0 || photometric == 1)
    require(compression == 1 || compression == 5 || compression == 32773)
    // TIFF 6.0 §14 defines the predictor FOR LZW; readers diverge on other
    // pairings (the JDK ignores it for uncompressed data), so both codec
    // directions restrict it to LZW.
    require(predictor == 1 || (predictor == 2 && compression == 5))
    val stored =
      if (photometric == 1) pixels
      else pixels.map(p => (255 - (p & 0xff)).toByte)
    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    val strips = (0 until nStrips).map { si =>
      val r0 = si * rowsPerStrip
      val rows = math.min(rowsPerStrip, h - r0)
      val raw = java.util.Arrays.copyOfRange(stored, r0 * w, (r0 + rows) * w)
      if (predictor == 2) { // horizontal differencing, per row, right-to-left
        var r = 0
        while (r < rows) {
          var x = w - 1
          while (x >= 1) {
            raw(r * w + x) = (raw(r * w + x) - raw(r * w + x - 1)).toByte
            x -= 1
          }
          r += 1
        }
      }
      compression match {
        case 5 => Lzw.encode(Lzw.Tiff, raw)
        case 32773 => packBits(raw)
        case _ => raw
      }
    }

    val dataStart = 8L
    val stripOffsets = strips.scanLeft(dataStart)((o, s) => o + s.length).init
    val afterStrips = dataStart + strips.map(_.length.toLong).sum
    // Offset/count arrays live in a data area when count > 1 (> 4 bytes).
    val offArrayAt = afterStrips
    val cntArrayAt = offArrayAt + (if (nStrips > 1) 4L * nStrips else 0L)
    val ifdAt = cntArrayAt + (if (nStrips > 1) 4L * nStrips else 0L)
    val nEntries = if (predictor == 2) 10 else 9
    val out = java.nio.ByteBuffer.allocate((ifdAt + 2 + 12 * nEntries + 4).toInt)
      .order(if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    def u16(v: Int): Unit = out.putShort(v.toShort)
    def u32(v: Long): Unit = out.putInt(v.toInt)

    // Header.
    out.put((if (littleEndian) "II" else "MM").getBytes("US-ASCII"))
    u16(42)
    u32(ifdAt) // IFD offset in header
    strips.foreach(s => out.put(s))
    if (nStrips > 1) {
      stripOffsets.foreach(u32)
      strips.foreach(s => u32(s.length.toLong))
    }
    // IFD: 9 entries (10 with an explicit predictor), ascending tag order.
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      u16(tag); u16(typ); u32(count)
      // A value shorter than 4 bytes sits LEFT-JUSTIFIED in the value
      // field (TIFF 6.0 §2): a SHORT occupies the first two bytes in the
      // file's byte order, the rest is padding.
      if (typ == Ifd.TypeShort && count == 1) { u16(value.toInt); u16(0) }
      else u32(value)
    }
    u16(nEntries)
    entry(TagWidth, Ifd.TypeLong, 1, w.toLong)
    entry(TagHeight, Ifd.TypeLong, 1, h.toLong)
    entry(TagBits, Ifd.TypeShort, 1, 8)
    entry(TagCompression, Ifd.TypeShort, 1, compression.toLong)
    entry(TagPhotometric, Ifd.TypeShort, 1, photometric.toLong)
    if (nStrips > 1) entry(TagStripOffsets, Ifd.TypeLong, nStrips.toLong, offArrayAt)
    else entry(TagStripOffsets, Ifd.TypeLong, 1, stripOffsets.head)
    entry(TagSamplesPerPixel, Ifd.TypeShort, 1, 1)
    entry(TagRowsPerStrip, Ifd.TypeLong, 1, rowsPerStrip.toLong)
    if (nStrips > 1) entry(TagStripByteCounts, Ifd.TypeLong, nStrips.toLong, cntArrayAt)
    else entry(TagStripByteCounts, Ifd.TypeLong, 1, strips.head.length.toLong)
    if (predictor == 2) entry(TagPredictor, Ifd.TypeShort, 1, 2)
    u32(0) // no next IFD
    out.array()
  }

  // ---------------------------------------------------------------- decode

  /** Full grayscale TIFF decode, normalized to BlackIsZero intensity.
    * None for any structural violation or unsupported feature.
    */
  def tiffDecodePixels(b: Array[Byte]): Option[TiffImage] = {
    val ifd = Ifd.first(b, 0, b.length).getOrElse(return None)
    var w = -1L; var h = -1L
    var bits = 8L; var compression = 1L; var photometric = -1L
    var samples = 1L; var rowsPerStrip = Long.MaxValue
    var predictor = 1L
    var stripOffsets: Array[Long] = null
    var stripCounts: Array[Long] = null
    var e = 0
    var prevTag = -1
    while (e < ifd.size) {
      val tag = ifd.tag(e)
      if (tag <= prevTag) return None // IFD entries must ascend (TIFF 6.0 §2)
      prevTag = tag
      tag match {
        case TagWidth => w = ifd.scalar(e)
        case TagHeight => h = ifd.scalar(e)
        case TagBits => bits = ifd.scalar(e)
        case TagCompression => compression = ifd.scalar(e)
        case TagPhotometric => photometric = ifd.scalar(e)
        case TagSamplesPerPixel => samples = ifd.scalar(e)
        case TagRowsPerStrip => rowsPerStrip = ifd.scalar(e)
        case TagPredictor => predictor = ifd.scalar(e)
        case TagStripOffsets => stripOffsets = ifd.values(e).getOrElse(return None)
        case TagStripByteCounts => stripCounts = ifd.values(e).getOrElse(return None)
        case _ => () // unknown tags are legal and skipped
      }
      e += 1
    }

    // Bound each untrusted u32 dimension BEFORE multiplying: two factors
    // each <= 2^26 cannot overflow a Long product, so the w*h gate is sound.
    // (Unbounded, w=0xFFFFFFFF × h=0x7FFFFFFF wraps past 2^63 negative and
    // would slip the gate into a NegativeArraySizeException downstream.)
    if (w <= 0 || h <= 0 || w > MaxPixels || h > MaxPixels || w * h > MaxPixels) return None
    if (bits != 8 || samples != 1) return None
    if (photometric != 0 && photometric != 1) return None
    if (compression != 1 && compression != 5 && compression != 32773) return None
    if (predictor != 1 && !(predictor == 2 && compression == 5)) return None
    if (stripOffsets == null || stripCounts == null) return None
    if (rowsPerStrip <= 0) return None
    val rps = math.min(rowsPerStrip, h)
    val nStrips = ((h + rps - 1) / rps).toInt
    if (stripOffsets.length != nStrips || stripCounts.length != nStrips) return None

    val wi = w.toInt; val hi = h.toInt
    val out = new Array[Byte](wi * hi)
    lazy val dict = new Lzw.Dictionary(Lzw.Tiff) // one per image, shared by its LZW strips
    var si = 0
    while (si < nStrips) {
      val r0 = si * rps.toInt
      val rows = math.min(rps, h - r0).toInt
      val expected = rows * wi
      val off = stripOffsets(si); val len = stripCounts(si)
      if (off < 0 || len < 0 || off + len > b.length) return None
      if (compression == 1) {
        if (len != expected) return None
        System.arraycopy(b, off.toInt, out, r0 * wi, expected)
      } else {
        val dec =
          if (compression == 5) Lzw.decode(dict, b, off.toInt, len.toInt, expected)
          else unpackBits(b, off.toInt, len.toInt, expected)
        dec match {
          case Some(strip) => System.arraycopy(strip, 0, out, r0 * wi, expected)
          case None => return None
        }
      }
      if (predictor == 2) { // undo horizontal differencing, per row
        var r = 0
        while (r < rows) {
          val base = (r0 + r) * wi
          var x = 1
          while (x < wi) {
            out(base + x) = (out(base + x) + out(base + x - 1)).toByte
            x += 1
          }
          r += 1
        }
      }
      si += 1
    }
    if (photometric == 0) { // WhiteIsZero: normalize to intensity
      var i = 0
      while (i < out.length) { out(i) = (255 - (out(i) & 0xff)).toByte; i += 1 }
    }
    Some(TiffImage(wi, hi, out))
  }
}
