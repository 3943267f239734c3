package graft.multimodal

import java.nio.ByteBuffer
import java.util.zip.CRC32

/** Parsed container header: image dimensions plus how many leading bytes
  * the container occupies (the payload fingerprint starts there).
  */
case class ImageHeader(width: Int, height: Int, headerLen: Int)

/** Parsed RIFF/WAVE container header: PCM stream parameters plus how many
  * leading bytes the container occupies (payload = sample data starts there).
  */
case class WavHeader(sampleRate: Int, channels: Int, bitsPerSample: Int,
    dataBytes: Int, headerLen: Int, formatTag: Int = 1)

/** Integer statistics over a decoded 16-bit PCM sample stream — the
  * sample-domain quantities a quality/silence filter reads. All-integer so
  * an oracle can replay the identical math from the source bytes.
  */
case class PcmStats(nSamples: Long, sumAbs: Long, sumSq: Long,
    peakAbs: Int, zeroCrossings: Long)

/** Decoded MJPEG-in-AVI video: container dimensions/timing plus every
  * frame's decoded grayscale pixels, in stream order.
  */
case class AviVideo(width: Int, height: Int, microSecPerFrame: Int,
    frames: Vector[JpegCodec.JpegImage])

/** PNG / JPEG / WAV container-header arithmetic — pure byte work against
  * the PUBLIC format specs (PNG: ISO/IEC 15948 §5.2/§11.2.2 signature +
  * IHDR; JPEG: ITU-T T.81 §B.2 marker segments, JFIF APP0; WAV: RIFF
  * chunks per the Microsoft/IBM Multimedia Programming Interface spec —
  * little-endian chunk sizes, PCM `fmt ` layout), no codec dependencies.
  * Builders emit spec-valid headers (PNG IHDR carries its real CRC-32, WAV
  * carries a consistent byte-rate/block-align); parsers do what a
  * production header sniffer does — verify magic, walk segments in the
  * format's endianness, extract stream parameters. Full payload decode
  * lives alongside: PNG here (zlib inflate + bpp-stride scanline filters
  * across all five color types at every legal bit depth incl. the
  * bit-packed 1/2/4), baseline grayscale JPEG in [[JpegCodec]]
  * (Huffman + IDCT), 16-bit PCM in [[pcmStats]].
  */
object MediaCodec {

  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** 33-byte PNG prefix: 8-byte signature + IHDR chunk (len, type, 13-byte
    * data: width/height 4BE, bit depth 8, color type 6 RGBA, compression/
    * filter/interlace 0, CRC-32 over type+data).
    */
  def pngHeader(w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0)
    val typeAndData = ByteBuffer.allocate(17)
    typeAndData.put("IHDR".getBytes("US-ASCII"))
    typeAndData.putInt(w).putInt(h)
    typeAndData.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val crc = new CRC32()
    crc.update(typeAndData.array())
    ByteBuffer.allocate(33)
      .put(PngSig).putInt(13).put(typeAndData.array()).putInt(crc.getValue.toInt)
      .array()
  }

  // ---- REAL PNG codec (all five color types, ALL legal bit depths) ----
  // zlib lives in the JVM (java.util.zip), so PNG needs no external codec
  // library: a full encode/decode pair is signature + chunk framing +
  // DEFLATE + per-scanline filter arithmetic (ISO/IEC 15948 §9: None /
  // Sub / Up / Average / Paeth, at the color type's byte stride bpp).
  // Implemented combinations per pngComboOk — the COMPLETE §11.2.2 set:
  // gray 1/2/4/8/16 and palette 1/2/4/8 (bit-packed scanlines),
  // truecolor / gray+alpha / RGBA at 8/16. Spec-invalid combos REJECT.

  private def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
    val td = ctype.getBytes("US-ASCII") ++ data
    val crc = new CRC32(); crc.update(td)
    ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put(td).putInt(crc.getValue.toInt).array()
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Adam7 pass grid (ISO/IEC 15948 §8.2): (xStart, yStart, xStep, yStep)
    * per pass. A pass whose sub-image is empty for the given dimensions
    * contributes no scanline bytes at all (not even filter bytes).
    */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Sub-image dimensions of Adam7 pass `i` for a w×h image. */
  private def adam7Dims(w: Int, h: Int, i: Int): (Int, Int) = {
    val (x0, y0, dx, dy) = Adam7(i)
    (if (w > x0) (w - x0 + dx - 1) / dx else 0,
      if (h > y0) (h - y0 + dy - 1) / dy else 0)
  }

  /** Filter one sub-image of `ph` rows × `rowBytes` bytes into `raw` at
    * `off` (one filter byte + rowBytes filtered bytes per row, ISO/IEC
    * 15948 §9). `bpp` is the filter's pixel stride in BYTES (the spec's
    * "bpp": filter neighbor `a` is the byte bpp positions earlier in the
    * row — 1 for gray8, 3 for RGB8, 8 for RGBA16, …). Returns the offset
    * after the last written byte. Shared by the sequential encode (the
    * whole image is "one pass") and each Adam7 pass.
    */
  private def filterInto(raw: Array[Byte], off: Int, rowBytes: Int, ph: Int,
      sub: Array[Byte], bpp: Int, filterFor: Int => Int): Int = {
    var o = off
    for (y <- 0 until ph) {
      val f = filterFor(y); require(f >= 0 && f <= 4)
      raw(o) = f.toByte; o += 1
      for (x <- 0 until rowBytes) {
        val cur = sub(y * rowBytes + x) & 0xff
        val a = if (x >= bpp) sub(y * rowBytes + x - bpp) & 0xff else 0
        val b = if (y > 0) sub((y - 1) * rowBytes + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) sub((y - 1) * rowBytes + x - bpp) & 0xff else 0
        val filt = f match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case 4 => cur - paeth(a, b, c)
        }
        raw(o) = (filt & 0xff).toByte; o += 1
      }
    }
    o
  }

  /** Channel count per PNG color type (ISO/IEC 15948 §6.1); type 3's one
    * channel is the palette INDEX.
    */
  private def pngChannels(colorType: Int): Int = colorType match {
    case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
  }

  /** (colorType, bitDepth) combinations this codec implements — the
    * COMPLETE legal set of ISO/IEC 15948 §11.2.2: gray at 1/2/4/8/16,
    * palette at 1/2/4/8 (bit-packed scanlines MSB-first, §7.2),
    * truecolor / gray+alpha / RGBA at 8/16. Anything else is
    * spec-invalid and REJECTS.
    */
  private def pngComboOk(colorType: Int, depth: Int): Boolean =
    (colorType, depth) match {
      case (0, 1) | (0, 2) | (0, 4) | (0, 8) | (0, 16) => true
      case (2, 8) | (2, 16)                            => true
      case (3, 1) | (3, 2) | (3, 4) | (3, 8)           => true
      case (4, 8) | (4, 16)                            => true
      case (6, 8) | (6, 16)                            => true
      case _                                           => false
    }

  /** Encode an 8-bit grayscale image as a complete, spec-valid PNG.
    * `filterFor(row)` picks the scanline filter (0..4) — varying it
    * exercises every reconstruction branch a decoder must implement.
    * With `interlaced = true` the image is written with Adam7 interlacing
    * (interlace method 1): seven passes, each filtered as an independent
    * sub-image — the old-web-crawl layout the decoder must also handle.
    */
  def pngEncode(w: Int, h: Int, pixels: Array[Byte],
      filterFor: Int => Int = _ => 0, interlaced: Boolean = false): Array[Byte] =
    pngEncodeImage(w, h, colorType = 0, bitDepth = 8,
      samples = pixels.map(_ & 0xff), palette = Array.emptyIntArray,
      filterFor = filterFor, interlaced = interlaced)

  /** Encode a complete, spec-valid PNG of any implemented (colorType,
    * bitDepth) combination — see [[pngComboOk]]. `samples` holds
    * channel-interleaved values row-major (w·h·channels entries, each
    * 0..2^depth−1; for palette type 3 one INDEX per pixel); `palette` is
    * the PLTE as packed 0xRRGGBB ints (required non-empty for type 3,
    * ignored otherwise). Fixture-side generalization of the gray-8
    * encoder: same chunk framing, DEFLATE, per-scanline filters and
    * Adam7 pass split, with the filter stride at `bpp` bytes.
    */
  def pngEncodeImage(w: Int, h: Int, colorType: Int, bitDepth: Int,
      samples: Array[Int], palette: Array[Int],
      filterFor: Int => Int = _ => 0, interlaced: Boolean = false,
      trns: Array[Int] = Array.emptyIntArray): Array[Byte] = {
    require(w > 0 && h > 0 && pngComboOk(colorType, bitDepth))
    require(trns.isEmpty || (colorType == 3 && trns.length <= palette.length))
    val ch = pngChannels(colorType)
    require(samples.length == w * h * ch,
      s"expected ${w * h * ch} samples, got ${samples.length}")
    require(colorType != 3 || (palette.nonEmpty && palette.length <= 256))
    val subByte = bitDepth < 8
    val bps = if (subByte) 0 else bitDepth / 8
    // Filter stride per §9: ceil(bitsPerPixel / 8) — 1 byte for every
    // sub-byte depth (filters always operate on packed BYTES).
    val bpp = if (subByte) 1 else ch * bps
    def rowBytesOf(pw: Int): Int =
      if (subByte) (pw * bitDepth + 7) / 8 else pw * bpp
    // Pack one sub-image row of `pw` pixels (source pixel index from
    // `pick`) into `dst` at `dstOff`: 16-bit samples big-endian (§7.1),
    // sub-byte samples MSB-first within each byte (§7.2), trailing pad
    // bits zero.
    def packRow(dst: Array[Byte], dstOff: Int, pw: Int, pick: Int => Int): Unit = {
      var xx = 0
      while (xx < pw) {
        val px = pick(xx)
        if (subByte) {
          val v = samples(px) & ((1 << bitDepth) - 1)
          val bitPos = xx * bitDepth
          val bo = dstOff + (bitPos >> 3)
          dst(bo) = ((dst(bo) & 0xff) | (v << (8 - bitDepth - (bitPos & 7)))).toByte
        } else {
          var c = 0
          while (c < ch) {
            val v = samples(px * ch + c)
            if (bps == 1) dst(dstOff + xx * bpp + c) = (v & 0xff).toByte
            else {
              dst(dstOff + xx * bpp + 2 * c) = ((v >> 8) & 0xff).toByte
              dst(dstOff + xx * bpp + 2 * c + 1) = (v & 0xff).toByte
            }
            c += 1
          }
        }
        xx += 1
      }
    }
    val raw: Array[Byte] =
      if (!interlaced) {
        val rowBytes = rowBytesOf(w)
        val img = new Array[Byte](rowBytes * h)
        for (y <- 0 until h) packRow(img, y * rowBytes, w, xx => y * w + xx)
        val r = new Array[Byte]((rowBytes + 1) * h)
        filterInto(r, 0, rowBytes, h, img, bpp, filterFor)
        r
      } else {
        val sizes = (0 until 7).map { i =>
          val (pw, ph) = adam7Dims(w, h, i)
          if (pw > 0 && ph > 0) (rowBytesOf(pw) + 1) * ph else 0
        }
        val r = new Array[Byte](sizes.sum)
        var off = 0
        for (i <- 0 until 7) {
          val (pw, ph) = adam7Dims(w, h, i)
          if (pw > 0 && ph > 0) {
            val (x0, y0, dx, dy) = Adam7(i)
            val rowBytes = rowBytesOf(pw)
            val sub = new Array[Byte](rowBytes * ph)
            for (yy <- 0 until ph)
              packRow(sub, yy * rowBytes, pw,
                xx => (y0 + yy * dy) * w + (x0 + xx * dx))
            off = filterInto(r, off, rowBytes, ph, sub, bpp, filterFor)
          }
        }
        r
      }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val ihdr = ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(bitDepth.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
      .put((if (interlaced) 1 else 0).toByte)
      .array()
    val plte =
      if (colorType == 3)
        chunk("PLTE", palette.flatMap(p => Array(((p >> 16) & 0xff).toByte,
          ((p >> 8) & 0xff).toByte, (p & 0xff).toByte)))
      else Array.emptyByteArray
    val trnsChunk =
      if (trns.nonEmpty) chunk("tRNS", trns.map(a => (a & 0xff).toByte))
      else Array.emptyByteArray
    PngSig ++ chunk("IHDR", ihdr) ++ plte ++ trnsChunk ++
      chunk("IDAT", out.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Decoded grayscale-8 image. */
  case class PngPixels(width: Int, height: Int, pixels: Array[Byte])

  /** Decoded PNG of any implemented (colorType, bitDepth) — see
    * [[pngComboOk]]. `bitDepth` records the IHDR's declared depth;
    * samples are channel-interleaved row-major. Palette images (type 3)
    * arrive EXPANDED through their PLTE to 8-bit RGB (`channels` = 3
    * regardless of the packed index depth) — downstream consumers see
    * pixels, not indices; `colorType`/`bitDepth` still record the
    * container's 3 / index depth so a gated query can prove WHICH path
    * decoded the row.
    */
  case class PngImage(width: Int, height: Int, colorType: Int, bitDepth: Int,
      channels: Int, samples: Array[Int])

  /** Gray-8 view of the historical decode surface: delegates to
    * [[pngDecodeImage]] and keeps the original contract — Some only for
    * 8-bit grayscale (either interlace layout), None for every other
    * color type or depth.
    */
  def pngDecodePixels(b: Array[Byte]): Option[PngPixels] =
    pngDecodeImage(b) match {
      case Some(img) if img.colorType == 0 && img.bitDepth == 8 =>
        Some(PngPixels(img.width, img.height,
          img.samples.map(v => (v & 0xff).toByte)))
      case _ => None
    }

  /** Integer luma view of any decoded PNG — the single-channel image the
    * resize/quality pipeline consumes. Rec. 601 integer weights with
    * floor division ((299·R + 587·G + 114·B) / 1000 — bit-exact
    * replayable by a SQL oracle); 16-bit samples take their HIGH byte
    * first (the spec's sample-depth scaling to 8 bits); gray and
    * gray+alpha images pass the gray channel through; alpha never
    * contributes (luma is a color measure, not a coverage one).
    */
  def pngToGray8(img: PngImage): PngPixels = {
    val n = img.width * img.height
    val out = new Array[Byte](n)
    val shift = if (img.bitDepth == 16) 8 else 0
    // Sub-byte gray scales by bit replication to full 8-bit range
    // (§12.5): v · 255/(2^d−1) — exactly 255/85/17 for d = 1/2/4. Only
    // gray can be sub-byte here (palette arrives PLTE-expanded at 8).
    val scale = img.bitDepth match {
      case 1 => 255; case 2 => 85; case 4 => 17; case _ => 1
    }
    var i = 0
    while (i < n) {
      val base = i * img.channels
      val l = img.channels match {
        case 1 | 2 => (img.samples(base) >> shift) * scale
        case _ =>
          val r = img.samples(base) >> shift
          val g = img.samples(base + 1) >> shift
          val bl = img.samples(base + 2) >> shift
          (299 * r + 587 * g + 114 * bl) / 1000
      }
      out(i) = (l & 0xff).toByte
      i += 1
    }
    PngPixels(img.width, img.height, out)
  }

  /** Full PNG pixel decode: verify signature and per-chunk CRCs, parse
    * IHDR, enforce the chunk grammar (one leading IHDR, PLTE placement,
    * terminal IEND), concatenate IDAT streams, INFLATE, reverse the
    * per-scanline filter (all five types, at the color type's byte
    * stride `bpp`), and de-interlace Adam7 passes. Implemented
    * (colorType, bitDepth) combinations per [[pngComboOk]] — the COMPLETE
    * legal ISO/IEC 15948 §11.2.2 set: gray at 1/2/4/8/16, palette at
    * 1/2/4/8 (sub-byte depths implemented as MSB-first bit-packed rows),
    * truecolor / gray+alpha / RGBA at 8/16. Returns None on any
    * structural, CRC, filter, palette, or length violation — malformed
    * bytes must never crash an executor task.
    */
  def pngDecodeImage(b: Array[Byte]): Option[PngImage] = {
    if (b.length < 8 + 25 || !b.take(8).sameElements(PngSig)) return None
    var p = 8
    var w = -1; var h = -1
    var depth = 0; var colorType = 0
    var interlace = 0
    var plte: Array[Int] = null
    var trns: Array[Int] = null
    var sawIdat = false
    val idat = new java.io.ByteArrayOutputStream()
    var ended = false
    while (!ended && p + 12 <= b.length) {
      val len = be32(b, p)
      if (len < 0 || p.toLong + 12L + len > b.length) return None
      val ctype = new String(b, p + 4, 4, "US-ASCII")
      val crc = new CRC32(); crc.update(b, p + 4, 4 + len)
      if (crc.getValue.toInt != be32(b, p + 8 + len)) return None
      ctype match {
        case "IHDR" =>
          // Exactly one IHDR, and it must come first (ISO/IEC 15948 §5.6
          // chunk ordering): a duplicate would silently overwrite the
          // dimensions already used for sizing decisions.
          if (len != 13 || w != -1) return None
          w = be32(b, p + 8); h = be32(b, p + 12)
          depth = b(p + 16) & 0xff; colorType = b(p + 17) & 0xff
          // zlib compression 0, filter method 0, interlace 0 (sequential)
          // or 1 (Adam7) — anything else must REJECT, never mis-decode.
          // Dimension bound in LONG arithmetic: a crafted CRC-valid IHDR
          // like 46341×46341 would overflow (w·bpp+1)·h negative
          // (NegativeArraySizeException out of the task) or pre-allocate
          // GBs before any IDAT sanity check — same corrupt-header class
          // parseWav guards against.
          if (w <= 0 || h <= 0 || !pngComboOk(colorType, depth) ||
            b(p + 18) != 0 || b(p + 19) != 0 ||
            (b(p + 20) != 0 && b(p + 20) != 1)) return None
          interlace = b(p + 20)
          val rb = if (depth < 8) (w.toLong * depth + 7) / 8
                   else w.toLong * pngChannels(colorType) * (depth / 8)
          if ((rb + 1L) * h.toLong > MaxPixels) return None
        case "PLTE" =>
          // §5.6: after IHDR, before IDAT, at most one; §11.2.3: length a
          // multiple of 3 with 1..256 entries, and FORBIDDEN for the
          // grayscale color types.
          if (w == -1 || sawIdat || plte != null) return None
          if (colorType == 0 || colorType == 4) return None
          if (len == 0 || len % 3 != 0 || len / 3 > 256) return None
          // §11.2.3: a palette image's entry count must fit its bit depth
          // (≤ 2^d for the sub-byte depths).
          if (colorType == 3 && depth < 8 && len / 3 > (1 << depth)) return None
          plte = Array.tabulate(len / 3)(i =>
            ((b(p + 8 + 3 * i) & 0xff) << 16) |
              ((b(p + 8 + 3 * i + 1) & 0xff) << 8) |
              (b(p + 8 + 3 * i + 2) & 0xff))
        case "tRNS" =>
          // §11.3.2: palette alpha — one byte per palette entry, entries
          // beyond the chunk default to 255 (opaque); must follow PLTE
          // and precede IDAT (§5.6), never exceed the palette, and is
          // PROHIBITED for the alpha-bearing color types 4/6. The
          // gray/truecolor transparent-color-key forms (2/6 bytes) are
          // recorded nowhere — they select a KEY, not per-pixel alpha,
          // and this decoder's consumers read channel samples; skipping
          // an ancillary chunk is spec-legal there.
          if (w == -1 || sawIdat || trns != null) return None
          if (colorType == 4 || colorType == 6) return None
          if (colorType == 3) {
            if (plte == null || len > plte.length) return None
            trns = Array.tabulate(len)(i => b(p + 8 + i) & 0xff)
          }
        case "IDAT" =>
          if (w == -1) return None // IDAT before IHDR: malformed ordering
          // For palette images the PLTE must already have appeared (§5.6).
          if (colorType == 3 && plte == null) return None
          sawIdat = true
          idat.write(b, p + 8, len)
        case "IEND" =>
          if (len != 0) return None
          ended = true
        case _ => () // ancillary chunks skipped
      }
      p += 12 + len
    }
    // IEND must be present AND terminal: trailing bytes (or whole chunks)
    // after it are a structural violation, not ignorable slack.
    if (!ended || w < 0 || p != b.length) return None
    if (colorType == 3 && plte == null) return None
    val ch = pngChannels(colorType)
    val subByte = depth < 8
    val bps = if (subByte) 0 else depth / 8
    // Filter stride per §9: ceil(bitsPerPixel / 8) — 1 byte for every
    // sub-byte depth (filters always operate on packed BYTES).
    val bpp = if (subByte) 1 else ch * bps
    def rowBytesOf(pw: Int): Int =
      if (subByte) (pw * depth + 7) / 8 else pw * bpp
    // Interlace 1 (Adam7) stores each pass as an independent sub-image
    // with its own filter bytes; the zlib stream length is the exact sum
    // of per-pass (rowBytes+1)·ph (≤ (rowBytes(w)+1)·h + 6·h extra filter
    // bytes, still inside the MaxPixels bound checked above with slack).
    val passSizes: Seq[Int] =
      if (interlace == 0) Seq((rowBytesOf(w) + 1) * h)
      else (0 until 7).map { i =>
        val (pw, ph) = adam7Dims(w, h, i)
        if (pw > 0 && ph > 0) (rowBytesOf(pw) + 1) * ph else 0
      }
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val raw = new Array[Byte](passSizes.sum)
    try {
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        // Any zero-progress state is a malformed stream: truncated input
        // (needsInput), a preset-dictionary demand (FDICT zlib header —
        // valid zlib, never valid PNG; without this check the loop spins
        // forever: not finished, input present, nothing inflates), or
        // any other stall.
        if (n == 0) return None
        off += n
      }
      if (off != raw.length) return None
      // The stream must END exactly here: a well-formed PNG's zlib stream
      // encodes precisely the scanline bytes, so surplus compressed
      // output (extra pixels) or unconsumed input after the zlib trailer
      // (junk appended inside IDAT) means the declared dimensions and the
      // payload disagree — reject rather than silently truncate. One
      // zero-length drain lets the inflater swallow the adler32 trailer
      // when the final data block ended exactly at raw.length.
      if (!inflater.finished()) {
        val drain = new Array[Byte](1)
        if (inflater.inflate(drain) != 0 || !inflater.finished()) return None
      }
      if (inflater.getRemaining > 0) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inflater.end()
    // Reconstruct one filtered sub-image of ph rows × rowBytes bytes
    // starting at raw(off) — the whole image for interlace 0, one Adam7
    // pass for interlace 1 (each pass filters against ITS OWN previous
    // scanline, per spec). Filter neighbors stride at bpp BYTES (§9).
    def reconstructSub(off: Int, rowBytes: Int, ph: Int): Option[Array[Byte]] = {
      val sub = new Array[Byte](rowBytes * ph)
      for (y <- 0 until ph) {
        val f = raw(off + y * (rowBytes + 1)) & 0xff
        if (f > 4) return None
        for (x <- 0 until rowBytes) {
          val filt = raw(off + y * (rowBytes + 1) + 1 + x) & 0xff
          val a = if (x >= bpp) sub(y * rowBytes + x - bpp) & 0xff else 0
          val bb = if (y > 0) sub((y - 1) * rowBytes + x) & 0xff else 0
          val c = if (x >= bpp && y > 0) sub((y - 1) * rowBytes + x - bpp) & 0xff else 0
          val cur = f match {
            case 0 => filt
            case 1 => filt + a
            case 2 => filt + bb
            case 3 => filt + (a + bb) / 2
            case 4 => filt + paeth(a, bb, c)
          }
          sub(y * rowBytes + x) = (cur & 0xff).toByte
        }
      }
      Some(sub)
    }
    // Palette expands to RGB, or RGBA when a tRNS chunk supplies
    // per-entry alpha (entries past the chunk are opaque 255).
    val hasTrns = colorType == 3 && trns != null
    val outCh = if (colorType == 3) { if (hasTrns) 4 else 3 } else ch
    val samples = new Array[Int](w * h * outCh)
    // Emit the pixel at column `x` of the reconstructed sub-image row
    // starting at byte offset `rowOff` into the samples array at pixel
    // index `px`: 16-bit samples are big-endian (§7.1), sub-byte samples
    // unpack MSB-first (§7.2); palette indices expand through the PLTE,
    // and an index past the palette is a structural violation (§11.2.3),
    // not a clamp.
    def emit(sub: Array[Byte], rowOff: Int, x: Int, px: Int): Boolean = {
      def rawSample: Int =
        if (subByte) {
          val bitPos = x * depth
          ((sub(rowOff + (bitPos >> 3)) & 0xff) >> (8 - depth - (bitPos & 7))) &
            ((1 << depth) - 1)
        } else sub(rowOff + x * bpp) & 0xff
      if (colorType == 3) {
        val idx = rawSample
        if (idx >= plte.length) return false
        val e = plte(idx)
        samples(px * outCh) = (e >> 16) & 0xff
        samples(px * outCh + 1) = (e >> 8) & 0xff
        samples(px * outCh + 2) = e & 0xff
        if (hasTrns)
          samples(px * outCh + 3) = if (idx < trns.length) trns(idx) else 255
      } else if (subByte) {
        samples(px) = rawSample
      } else {
        val so = rowOff + x * bpp
        var c = 0
        while (c < ch) {
          samples(px * ch + c) =
            if (bps == 1) sub(so + c) & 0xff
            else ((sub(so + 2 * c) & 0xff) << 8) | (sub(so + 2 * c + 1) & 0xff)
          c += 1
        }
      }
      true
    }
    // bitDepth records the CONTAINER's declared depth (a gated query
    // proves the parse with it); palette samples are nonetheless emitted
    // PLTE-expanded to 8-bit RGB, which pngToGray8's 3-channel branch
    // consumes without depth scaling.
    val outDepth = depth
    if (interlace == 0) {
      val rowBytes = rowBytesOf(w)
      reconstructSub(0, rowBytes, h) match {
        case None => None
        case Some(sub) =>
          var i = 0
          while (i < w * h) {
            if (!emit(sub, (i / w) * rowBytes, i % w, i)) return None
            i += 1
          }
          Some(PngImage(w, h, colorType, outDepth, outCh, samples))
      }
    } else {
      var off = 0
      for (i <- 0 until 7) {
        val (pw, ph) = adam7Dims(w, h, i)
        if (pw > 0 && ph > 0) {
          val (x0, y0, dx, dy) = Adam7(i)
          val rowBytes = rowBytesOf(pw)
          reconstructSub(off, rowBytes, ph) match {
            case None => return None
            case Some(sub) =>
              for (yy <- 0 until ph; xx <- 0 until pw)
                if (!emit(sub, yy * rowBytes, xx,
                  (y0 + yy * dy) * w + (x0 + xx * dx))) return None
          }
          off += (rowBytes + 1) * ph
        }
      }
      Some(PngImage(w, h, colorType, outDepth, outCh, samples))
    }
  }

  /** Box-filter downsample by an integer factor `f`: each output pixel is
    * the FLOOR mean of its f×f source block (pure integer arithmetic —
    * bit-exact replayable by a SQL oracle, unlike float-weighted
    * resamplers), and edge rows/columns that don't fill a whole block are
    * cropped (output dims = floor(w/f) × floor(h/f)). The f×f mean is the
    * exact area-average for integer-ratio downscale — what a thumbnail /
    * training-resolution pipeline runs after decode. Returns None when a
    * dimension is smaller than the factor (no complete block).
    */
  def boxDownsample(img: PngPixels, f: Int): Option[PngPixels] = {
    require(f > 0)
    val ow = img.width / f
    val oh = img.height / f
    if (ow == 0 || oh == 0) return None
    val out = new Array[Byte](ow * oh)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        var s = 0
        var dy = 0
        while (dy < f) {
          val base = (oy * f + dy) * img.width + ox * f
          var dx = 0
          while (dx < f) { s += img.pixels(base + dx) & 0xff; dx += 1 }
          dy += 1
        }
        out(oy * ow + ox) = (s / (f * f)).toByte
        ox += 1
      }
      oy += 1
    }
    Some(PngPixels(ow, oh, out))
  }

  /** 39-byte JPEG prefix: SOI + JFIF APP0 (16-byte segment, version
    * 1.02, no density units, 1:1) + baseline SOF0 (8-bit precision, 3
    * components: Y 2×2 with Tq 0, Cb and Cr 1×1 with Tq 1).
    */
  def jpegHeader(w: Int, h: Int): Array[Byte] = {
    import JpegWriter.Component
    new JpegWriter().segment(0xe0, ExifCodec.jfif(0, 1, 1))
      .sof(0xc0, 8, w, h, Component(1, 2, 2, 0, 0, 0), Component(2, 1, 1, 1, 1, 1),
        Component(3, 1, 1, 1, 1, 1)).bytes
  }

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** Sniff + parse: PNG first (unambiguous 8-byte magic), then JPEG. */
  def parseImageHeader(b: Array[Byte]): Option[ImageHeader] =
    parsePng(b).orElse(parseJpeg(b))

  /** PNG: verify signature, require the spec-mandated first chunk (IHDR,
    * length 13), check its CRC, read width/height as 4-byte big-endian.
    */
  def parsePng(b: Array[Byte]): Option[ImageHeader] = {
    if (b.length < 33) return None
    var i = 0
    while (i < 8) { if (b(i) != PngSig(i)) return None; i += 1 }
    if (be32(b, 8) != 13) return None
    if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R') return None
    val crc = new CRC32()
    crc.update(b, 12, 17)
    if (crc.getValue.toInt != be32(b, 29)) return None
    val (w, h) = (be32(b, 16), be32(b, 20))
    if (w <= 0 || h <= 0) None else Some(ImageHeader(w, h, 33))
  }

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Canonical WAV prefix (44 bytes; 56 with `padChunk` — an extra
    * LIST/INFO chunk between `fmt ` and `data` so parsers must genuinely
    * WALK chunks rather than assume fixed offsets). `formatTag` 1 = PCM,
    * 3 = IEEE float (bits 32 or 64). The sample data of `dataBytes`
    * bytes is expected to follow immediately after.
    */
  def wavHeader(sampleRate: Int, channels: Int, bitsPerSample: Int,
      dataBytes: Int, padChunk: Boolean = false,
      formatTag: Int = 1): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && bitsPerSample % 8 == 0 && dataBytes >= 0)
    require(formatTag == 1 ||
      (formatTag == 3 && (bitsPerSample == 32 || bitsPerSample == 64)))
    val blockAlign = channels * bitsPerSample / 8
    val padLen = if (padChunk) 12 else 0
    val riffSize = 4 + 24 + padLen + 8 + dataBytes
    val b = ByteBuffer.allocate(44 + padLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(formatTag.toShort)                  // 1 = PCM, 3 = IEEE float
    b.putShort(channels.toShort)
    b.putInt(sampleRate)
    b.putInt(sampleRate * blockAlign)              // byte rate
    b.putShort(blockAlign.toShort)
    b.putShort(bitsPerSample.toShort)
    if (padChunk) {
      b.put("LIST".getBytes("US-ASCII")).putInt(4)
      b.put("INFO".getBytes("US-ASCII"))
    }
    b.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    b.array()
  }

  /** WAV: verify RIFF/WAVE magic and the RIFF size against the actual
    * byte count, then walk chunks little-endian (word-aligned per spec)
    * collecting PCM `fmt ` parameters and the `data` offset/size. Rejects
    * non-PCM streams, inconsistent byte-rate/block-align (corrupt or
    * malicious headers), and truncated data chunks.
    */
  def parseWav(b: Array[Byte]): Option[WavHeader] = {
    if (b.length < 44) return None
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F') return None
    if (b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    if (le32(b, 4) != b.length - 8) return None
    var p = 12
    var rate, ch, bits = -1
    var tag = 1
    while (p + 8 <= b.length) {
      val size = le32(b, p + 4)
      // Long arithmetic: a crafted size near Int.MaxValue would wrap
      // `p + 8 + size` negative and slip past an int-typed bounds check
      // (then either AIOOBE out of the task or accept a truncated data
      // chunk) — exactly the corrupt-header class this parser rejects.
      if (size < 0 || p.toLong + 8L + size > b.length) return None
      val id = new String(b, p, 4, "US-ASCII")
      if (id == "fmt ") {
        if (size < 16) return None
        // Format tag 1 = integer PCM (any byte-aligned width); 3 = IEEE
        // float at the spec's 32/64 bits; every other tag (ADPCM, a-law,
        // extensible…) REJECTS, never mis-decodes.
        tag = le16(b, p + 8)
        if (tag != 1 && tag != 3) return None
        ch = le16(b, p + 10); rate = le32(b, p + 12); bits = le16(b, p + 22)
        val blockAlign = le16(b, p + 20)
        if (ch <= 0 || rate <= 0 || bits <= 0 || bits % 8 != 0) return None
        if (tag == 3 && bits != 32 && bits != 64) return None
        if (blockAlign != ch * bits / 8) return None
        if (le32(b, p + 16) != rate * blockAlign) return None
      } else if (id == "data") {
        if (rate <= 0) return None // fmt must precede data
        return Some(WavHeader(rate, ch, bits, size, p + 8, tag))
      }
      p += 8 + size + (size & 1) // chunks are word-aligned
    }
    None
  }

  /** REAL sample decode: the WAV data chunk as 16-bit little-endian PCM
    * (channel-interleaved; stats run over the raw interleaved stream).
    * PCM needs NO codec — this is pure byte arithmetic, which is why the
    * audio branch of the multimodal decode is not stubbed, unlike
    * image/video pixel decode (compression libraries absent from this
    * container). A trailing odd byte is ignored (not a full sample);
    * non-16-bit streams return None (the fixture is always 16-bit; a
    * production decoder adds 8/24/32-bit branches with the same shape).
    */
  def pcmStats(b: Array[Byte], h: WavHeader): Option[PcmStats] = {
    if (h.bitsPerSample != 16) return None
    val n = math.min(h.dataBytes, b.length - h.headerLen) / 2
    var i = 0
    var sumAbs = 0L; var sumSq = 0L; var peak = 0; var zc = 0L
    var prevNeg = false
    while (i < n) {
      val off = h.headerLen + 2 * i
      val v = ((b(off) & 0xff) | (b(off + 1) << 8)).toShort.toInt
      val a = math.abs(v)
      sumAbs += a
      sumSq += v.toLong * v
      if (a > peak) peak = a
      val neg = v < 0
      if (i > 0 && neg != prevNeg) zc += 1
      prevNeg = neg
      i += 1
    }
    Some(PcmStats(n.toLong, sumAbs, sumSq, peak, zc))
  }

  /** Multi-format sample decode with channel-mean mono downmix (mm22):
    * integer PCM at 8-bit (stored UNSIGNED per the WAV convention,
    * centered as v−128), 16-bit and 24-bit (signed little-endian), plus
    * IEEE float32 (format tag 3), any channel count.
    *
    * FLOAT QUANTIZATION CONVENTION (documented like the floor-mean): a
    * float sample f maps to the 16-bit PCM domain as
    * `floor(f · 32768)` clamped to [−32768, 32767] — floor (not
    * round-half-up) so every engine replays one exact rule, and any
    * fixture value m/32768 with |m| < 2^24 survives the float32
    * round-trip EXACTLY (the mantissa holds it), making the quantized
    * stream integer-closed-form for the oracle.
    *
    * Each frame downmixes to `floorDiv(Σ_c v_c, channels)` over the
    * quantized values — floor (not truncate-toward-zero) so the rounding
    * is a single exact integer rule a SQL oracle replays with
    * floor(sum/ch). A trailing PARTIAL frame (data bytes not a multiple
    * of block align — the truncated-chunk shape real lakes contain) is
    * ignored, never mis-read. Every other (tag, width) — PCM-32,
    * ADPCM… — returns None: reject, never mis-decode. Float covers both
    * spec widths (32 and 64, same quantization rule).
    */
  def pcmMonoMix(b: Array[Byte], h: WavHeader): Option[Array[Int]] = {
    val intPcm = h.formatTag == 1 &&
      (h.bitsPerSample == 8 || h.bitsPerSample == 16 || h.bitsPerSample == 24)
    val floatPcm = h.formatTag == 3 &&
      (h.bitsPerSample == 32 || h.bitsPerSample == 64)
    if (!intPcm && !floatPcm) return None
    val bps = h.bitsPerSample / 8
    val block = bps * h.channels
    val avail = math.min(h.dataBytes, b.length - h.headerLen)
    val n = avail / block
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      var sum = 0L
      var c = 0
      while (c < h.channels) {
        val off = h.headerLen + i * block + c * bps
        val v =
          if (floatPcm) {
            val f: Double =
              if (h.bitsPerSample == 32)
                java.lang.Float.intBitsToFloat(le32(b, off)).toDouble
              else java.lang.Double.longBitsToDouble(
                (le32(b, off) & 0xffffffffL) | (le32(b, off + 4).toLong << 32))
            // NaN/Inf are corrupt-sample values, not structure: clamp the
            // quantization (NaN → 0) rather than reject the whole row.
            val q = math.floor(f * 32768.0)
            if (q.isNaN) 0
            else if (q < -32768.0) -32768
            else if (q > 32767.0) 32767
            else q.toInt
          } else h.bitsPerSample match {
            case 8 => (b(off) & 0xff) - 128
            case 16 => ((b(off) & 0xff) | (b(off + 1) << 8)).toShort.toInt
            case _ => // 24-bit signed LE: assemble then sign-extend via << 8 >> 8
              (((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
                ((b(off + 2) & 0xff) << 16)) << 8) >> 8
          }
        sum += v
        c += 1
      }
      out(i) = Math.floorDiv(sum, h.channels).toInt
      i += 1
    }
    Some(out)
  }

  // ---- REAL MJPEG-in-AVI video codec ---------------------------------
  // AVI is RIFF (same container family as WAV, little-endian chunk walk
  // per the Microsoft Multimedia Programming Interface spec): a 'hdrl'
  // LIST carrying the main header (avih) and one stream list (strl:
  // strh + strf), then a 'movi' LIST whose '00dc'/'00db' chunks each hold
  // one complete compressed frame. With the MJPG fourcc every frame is a
  // standalone baseline/progressive JPEG, so the one video format that is
  // pure-JVM decodable end-to-end is MJPEG-in-AVI via [[JpegCodec]] —
  // every OTHER codec fourcc REJECTS rather than mis-decodes (the honest
  // residue stays: real inter-frame codecs need external libraries).

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  private def leChunk(id: String, data: Array[Byte]): Array[Byte] = {
    // RIFF chunks are word-aligned: odd payloads carry one zero pad byte
    // that is NOT counted in the stored size.
    val pad = data.length & 1
    ByteBuffer.allocate(8 + data.length + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(id.getBytes("US-ASCII")).putInt(data.length).put(data)
      .array()
  }

  private def leList(listType: String, payload: Array[Byte]): Array[Byte] =
    leChunk("LIST", listType.getBytes("US-ASCII") ++ payload)

  /** Encode a complete, spec-valid MJPEG AVI: RIFF('AVI ') → LIST hdrl
    * (avih main header + one LIST strl with a 'vids'/'MJPG' strh and a
    * BITMAPINFOHEADER strf) → LIST movi with one '00dc' chunk per frame.
    * Each `frames(i)` must be a complete JPEG bitstream of w×h (the
    * caller owns frame content; this function owns all container
    * framing, so fuzz/interop tests can manipulate the two layers
    * independently).
    */
  def aviEncodeMjpeg(w: Int, h: Int, microSecPerFrame: Int,
      frames: Array[Array[Byte]]): Array[Byte] = {
    require(w > 0 && h > 0 && microSecPerFrame > 0 && frames.nonEmpty)
    val maxFrame = frames.map(_.length).max
    val avih = ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(microSecPerFrame).putInt(0).putInt(0).putInt(0) // us/frame, maxBps, pad, flags
      .putInt(frames.length).putInt(0).putInt(1).putInt(maxFrame) // total, initial, streams, bufsize
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0) // dims + reserved[4]
      .array()
    val strh = ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("vids".getBytes("US-ASCII")).put("MJPG".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(0)                  // flags, prio/lang, initialFrames
      .putInt(microSecPerFrame).putInt(1000000)       // scale, rate (rate/scale = fps)
      .putInt(0).putInt(frames.length).putInt(maxFrame) // start, length, bufsize
      .putInt(-1).putInt(0)                           // quality (default), sampleSize (0 = varies)
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
      .array()
    val strf = ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40).putInt(w).putInt(h)                 // biSize, biWidth, biHeight
      .putShort(1).putShort(24)                       // biPlanes, biBitCount
      .put("MJPG".getBytes("US-ASCII"))               // biCompression fourcc
      .putInt(w * h * 3).putInt(0).putInt(0).putInt(0).putInt(0)
      .array()
    val hdrl = leList("hdrl",
      leChunk("avih", avih) ++
        leList("strl", leChunk("strh", strh) ++ leChunk("strf", strf)))
    val movi = leList("movi",
      frames.flatMap(f => leChunk("00dc", f)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    ByteBuffer.allocate(8 + body.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(body.length).put(body)
      .array()
  }

  /** Decode an MJPEG AVI to per-frame grayscale pixels: verify the
    * RIFF('AVI ') framing (size must match the byte count exactly, same
    * strictness as [[parseWav]]), walk the header list (exactly ONE
    * stream, fccType 'vids', handler AND biCompression 'MJPG' — any other
    * codec fourcc rejects), then decode every '00dc'/'00db' movi chunk
    * through [[JpegCodec.jpegDecodePixels]]. Rejects on: frame-count
    * mismatch against BOTH declared counts (avih.dwTotalFrames and
    * strh.dwLength), per-frame dimensions disagreeing with the container,
    * non-frame chunks inside movi, undecodable frame bytes, or truncation
    * anywhere — malformed bytes never throw from an executor task.
    */
  def aviDecodeMjpegFrames(b: Array[Byte]): Option[AviVideo] = {
    if (b.length < 12) return None
    if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return None
    if (le32(b, 4) != b.length - 8) return None
    var w = -1; var h = -1; var usPerFrame = -1; var totalFrames = -1
    var strhLength = -1; var strfOk = false; var sawStrl = false
    val frames = Vector.newBuilder[JpegCodec.JpegImage]
    var nFrames = 0
    var sawMovi = false

    // Walk one chunk run [from, to); `depth` names which list we're in.
    // Returns false on any structural violation.
    def walk(from: Int, to: Int, ctx: String): Boolean = {
      var p = from
      while (p < to) {
        if (p + 8 > to) return false
        val id = fourcc(b, p)
        val size = le32(b, p + 4)
        if (size < 0 || p.toLong + 8L + size > to) return false
        val d0 = p + 8
        (ctx, id) match {
          case (_, "LIST") =>
            if (size < 4) return false
            val ltype = fourcc(b, d0)
            ltype match {
              case "hdrl" if ctx == "top" =>
                if (!walk(d0 + 4, d0 + size, "hdrl")) return false
              case "strl" if ctx == "hdrl" =>
                if (sawStrl) return false // dwStreams==1: a second strl lies
                sawStrl = true
                if (!walk(d0 + 4, d0 + size, "strl")) return false
              case "movi" if ctx == "top" =>
                // Header must fully precede movi so frame dims can check.
                if (w < 0 || !strfOk) return false
                sawMovi = true
                if (!walk(d0 + 4, d0 + size, "movi")) return false
              case _ => () // odml, INFO, rec -less lists: skipped
            }
          case ("hdrl", "avih") =>
            if (size < 56 || w != -1) return false
            usPerFrame = le32(b, d0)
            totalFrames = le32(b, d0 + 16)
            if (le32(b, d0 + 24) != 1) return false // exactly one stream
            w = le32(b, d0 + 32); h = le32(b, d0 + 36)
            if (w <= 0 || h <= 0 || usPerFrame <= 0 || totalFrames <= 0) return false
          case ("strl", "strh") =>
            if (size < 56 || strhLength != -1) return false
            if (fourcc(b, d0) != "vids") return false
            if (fourcc(b, d0 + 4) != "MJPG") return false // other codecs reject
            strhLength = le32(b, d0 + 32)
          case ("strl", "strf") =>
            // BITMAPINFOHEADER: dims must agree with avih, compression MJPG.
            if (size < 40 || strfOk || w < 0 || strhLength < 0) return false
            if (le32(b, d0) < 40) return false
            if (le32(b, d0 + 4) != w || le32(b, d0 + 8) != h) return false
            if (fourcc(b, d0 + 16) != "MJPG") return false
            strfOk = true
          case ("movi", "00dc") | ("movi", "00db") =>
            val frame = java.util.Arrays.copyOfRange(b, d0, d0 + size)
            JpegCodec.jpegDecodePixels(frame) match {
              case Some(img) if img.width == w && img.height == h =>
                frames += img; nFrames += 1
              case _ => return false // undecodable or dims disagree
            }
          case ("movi", _) => return false // only frame chunks of stream 00
          case _ => () // JUNK, idx1, unknown top/hdrl chunks: skipped
        }
        p += 8 + size + (size & 1)
      }
      true
    }

    if (!walk(12, b.length, "top")) return None
    if (!sawMovi || nFrames == 0) return None
    if (nFrames != totalFrames || nFrames != strhLength) return None
    Some(AviVideo(w, h, usPerFrame, frames.result()))
  }

  /** JPEG: walk marker segments ([[JpegCodec.JpegWalker]]) to the first
    * frame header SOFn; dimensions are its lines and samples per line.
    * The header length ends at that segment.
    */
  def parseJpeg(b: Array[Byte]): Option[ImageHeader] = {
    val walk = new JpegCodec.JpegWalker(b)
    walk.frameSize(_ => ()).map { case (w, h) => ImageHeader(w, h, walk.segEnd) }
  }
}
