package graft.multimodal

import java.io.ByteArrayOutputStream

/** Variable-width LZW, the one coder behind GIF89a image data and TIFF 6.0
  * §13 strips. Both formats run the same algorithm: codes start one bit
  * wider than the literal alphabet, Clear (`1 << minCodeSize`) and End
  * (Clear + 1) precede the first dictionary entry, widths grow to 12 bits
  * and the dictionary holds 4096 codes. A [[Lzw.Format]] carries the only
  * four differences:
  *
  *   - the minimum code size: 2 to 8 for GIF, 8 for TIFF;
  *   - the bit order: GIF packs codes LSB-first, TIFF MSB-first;
  *   - the early change `e`: TIFF's encoder widens one entry early (0 for
  *     GIF, 1 for TIFF). The encoder widens when `next` reaches
  *     `(1 << width) + 1 - e` and resets at `4096 - e`; the decoder, whose
  *     table lags the encoder's by one entry, widens at `(1 << width) - e`;
  *   - a leading Clear: a TIFF strip must open with one, a GIF stream need
  *     not.
  *
  * The coder branches on these constants only, never on the format that
  * calls it. The decoder rejects (None) rather than throws on a code beyond
  * the dictionary, a first code after Clear that is not a literal, a
  * missing leading Clear where one is required, bits that end before End,
  * and output that over- or underflows the expected length. Interop with
  * the JDK's GIF and TIFF codecs is pinned in MultimodalSpec.
  */
private[graft] object Lzw {

  /** The constants that tell GIF's LZW from TIFF's; see [[Lzw]]. */
  final case class Format(minCodeSize: Int, msbFirst: Boolean,
      earlyChange: Int, leadingClear: Boolean)

  /** TIFF 6.0 §13: 8-bit literals, MSB-first, early change, leading Clear. */
  val Tiff: Format = Format(8, msbFirst = true, earlyChange = 1, leadingClear = true)

  /** GIF89a image data with the given LZW minimum code size. */
  def gif(minCodeSize: Int): Format =
    Format(minCodeSize, msbFirst = false, earlyChange = 0, leadingClear = false)

  private val MaxWidth = 12
  private val MaxCodes = 1 << MaxWidth

  /** Encodes `data`: Clear first, a Clear again whenever the dictionary
    * fills, End last. The dictionary maps (prefix code << 8 | byte) to a
    * code.
    */
  def encode(f: Format, data: Array[Byte]): Array[Byte] = {
    val clear = 1 << f.minCodeSize
    val end = clear + 1
    val out = new ByteArrayOutputStream()
    var acc = 0L; var nbits = 0
    var width = f.minCodeSize + 1
    def emit(code: Int): Unit = {
      if (f.msbFirst) acc = (acc << width) | code else acc |= code.toLong << nbits
      nbits += width
      while (nbits >= 8) {
        nbits -= 8
        if (f.msbFirst) out.write((acc >>> nbits).toInt & 0xff)
        else { out.write(acc.toInt & 0xff); acc >>>= 8 }
      }
    }
    val dict = new java.util.HashMap[Int, Int]()
    var next = end + 1
    emit(clear)
    if (data.nonEmpty) {
      var cur = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val k = data(i) & 0xff
        val key = (cur << 8) | k
        if (dict.containsKey(key)) cur = dict.get(key)
        else {
          emit(cur)
          dict.put(key, next); next += 1
          if (next == (1 << width) + 1 - f.earlyChange && width < MaxWidth) width += 1
          if (next == MaxCodes - f.earlyChange) {
            emit(clear)
            dict.clear(); width = f.minCodeSize + 1; next = end + 1
          }
          cur = k
        }
        i += 1
      }
      emit(cur)
    }
    emit(end)
    if (nbits > 0) out.write((if (f.msbFirst) acc << (8 - nbits) else acc).toInt & 0xff)
    out.toByteArray
  }

  /** A decoder dictionary for format `f`, owned by its caller: one
    * image's strips reuse one, where a dictionary per strip would make its
    * allocation a large share of a small strip's decode. Each entry is
    * (prefix code, last byte, length); the literal entries are set once
    * here, and a decode writes only the entries after End, each before it
    * reads it. Codes and lengths stay under 4096, so Shorts hold them.
    */
  final class Dictionary(val f: Format) {
    private[Lzw] val prefix = new Array[Short](MaxCodes)
    private[Lzw] val last = new Array[Byte](MaxCodes)
    private[Lzw] val length = new Array[Short](MaxCodes)
    locally {
      var c = 0
      while (c < (1 << f.minCodeSize)) { prefix(c) = -1; last(c) = c.toByte; length(c) = 1; c += 1 }
    }
  }

  /** [[decode]] with a dictionary of its own. */
  def decode(f: Format, b: Array[Byte], from: Int, len: Int,
      expected: Int): Option[Array[Byte]] = decode(new Dictionary(f), b, from, len, expected)

  /** Decodes `b(from until from + len)` in `d`'s format into exactly
    * `expected` bytes, or None on any structural violation (see [[Lzw]]).
    * A string is written back to front in one pass, and an entry's first
    * byte is read from where its string already sits in the output.
    */
  def decode(d: Dictionary, b: Array[Byte], from: Int, len: Int,
      expected: Int): Option[Array[Byte]] = {
    val f = d.f
    val clear = 1 << f.minCodeSize
    val end = clear + 1
    val out = new Array[Byte](expected)
    var o = 0
    val prefix = d.prefix; val last = d.last; val length = d.length
    var next = end + 1
    var width = f.minCodeSize + 1
    val stop = from + len
    var pos = from
    var acc = 0L; var nbits = 0
    def read(): Int = {
      while (nbits < width) {
        if (pos >= stop) return -1
        if (f.msbFirst) acc = (acc << 8) | (b(pos) & 0xff)
        else acc |= (b(pos) & 0xffL) << nbits
        nbits += 8; pos += 1
      }
      nbits -= width
      if (f.msbFirst) (acc >>> nbits).toInt & ((1 << width) - 1)
      else { val c = acc.toInt & ((1 << width) - 1); acc >>>= width; c }
    }
    def write(code: Int): Boolean = {
      val n = length(code)
      if (o + n > expected) return false
      var c = code; var i = o + n - 1
      while (c >= 0) { out(i) = last(c); c = prefix(c); i -= 1 }
      o += n
      true
    }
    def add(first: Byte, prev: Int): Unit = {
      prefix(next) = prev.toShort; last(next) = first; length(next) = (length(prev) + 1).toShort
      next += 1
    }
    var prev = -1; var prevAt = 0
    var sawClear = false
    var done = false
    while (!done) {
      val code = read()
      val at = o
      if (code < 0) return None
      if (code == end) done = true
      else if (code == clear) {
        next = end + 1; width = f.minCodeSize + 1; prev = -1; sawClear = true
      } else if (f.leadingClear && !sawClear) return None
      else {
        if (prev < 0) {
          if (code >= clear || !write(code)) return None
        } else if (code < next) {
          if (!write(code)) return None
          if (next < MaxCodes) add(out(at), prev)
        } else if (code == next && next < MaxCodes) {
          // KwKwK: the code names the entry being defined, prev's string
          // plus prev's own first byte.
          add(out(prevAt), prev)
          if (!write(code)) return None
        } else return None
        if (next == (1 << width) - f.earlyChange && width < MaxWidth) width += 1
        prev = code; prevAt = at
      }
    }
    if (o != expected) None else Some(out)
  }
}
