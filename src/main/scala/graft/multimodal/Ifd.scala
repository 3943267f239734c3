package graft.multimodal

import java.nio.charset.StandardCharsets

/** The first image file directory (IFD, TIFF 6.0 §2) of a TIFF structure
  * held in `b`'s window `[origin, limit)`: a whole TIFF file, or the TIFF
  * header inside an EXIF APP1 segment. Every offset is relative to
  * `origin`, is an untrusted 32-bit value, and is bounds-checked against
  * the window in Long arithmetic; no read leaves the window and none
  * throws.
  *
  * [[Ifd.first]] checks the II/MM byte-order mark, magic 42, the IFD offset
  * and the entry count. The entry readers check type, count and where the
  * value lies: inline in the entry's 4-byte field when it fits (left-
  * justified, so a SHORT is the field's first two bytes in either byte
  * order), else at the field's offset. Tag order is the caller's rule.
  */
private[multimodal] final class Ifd private (b: Array[Byte], origin: Int,
    limit: Int, le: Boolean, at: Long, val size: Int) {
  import Ifd._

  private def u16(p: Long): Int =
    if (p < origin || p + 2 > limit) -1
    else {
      val i = p.toInt
      if (le) (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      else ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    }

  private def u32(p: Long): Long =
    if (p < origin || p + 4 > limit) -1L
    else if (le) (u16(p + 2).toLong << 16) | u16(p)
    else (u16(p).toLong << 16) | u16(p + 2)

  private def entry(i: Int): Long = at + 2 + 12L * i

  def tag(i: Int): Int = u16(entry(i))
  def typ(i: Int): Int = u16(entry(i) + 2)
  def count(i: Int): Long = u32(entry(i) + 4)

  /** Where entry `i`'s `bytes` value bytes start, or -1 when they leave
    * the window.
    */
  private def valueAt(i: Int, bytes: Long): Long = {
    val field = entry(i) + 8
    val p = if (bytes <= 4) field else origin + u32(field)
    if (p + bytes > limit) -1 else p
  }

  /** Entry `i`'s single SHORT or LONG value, or -1. */
  def scalar(i: Int): Long =
    if (count(i) != 1) -1
    else typ(i) match {
      case TypeShort => u16(entry(i) + 8).toLong
      case TypeLong => u32(entry(i) + 8)
      case _ => -1
    }

  /** Entry `i`'s SHORT or LONG values, 1 to 2^20 of them. */
  def values(i: Int): Option[Array[Long]] = {
    val n = count(i)
    val unit = typ(i) match {
      case TypeShort => 2
      case TypeLong => 4
      case _ => return None
    }
    if (n < 1 || n > MaxValues) return None
    val p = valueAt(i, n * unit)
    if (p < 0) None
    else Some(Array.tabulate(n.toInt)(k =>
      if (unit == 2) u16(p + 2L * k).toLong else u32(p + 4L * k)))
  }

  /** Entry `i`'s NUL-terminated ASCII value, without the NUL. */
  def ascii(i: Int): Option[String] = {
    val n = count(i)
    if (typ(i) != TypeAscii || n < 1 || n > limit - origin) return None
    val p = valueAt(i, n)
    if (p < 0 || b((p + n - 1).toInt) != 0) None
    else Some(new String(b, p.toInt, n.toInt - 1, StandardCharsets.US_ASCII))
  }
}

private[multimodal] object Ifd {
  // Entry types (TIFF 6.0 §2).
  val TypeAscii = 2
  val TypeShort = 3
  val TypeLong = 4

  private val MaxValues = 1L << 20

  /** The first IFD of the TIFF structure at `b(origin until limit)`, or
    * None when its header or entry table is malformed or leaves the
    * window, or it has no entries.
    */
  def first(b: Array[Byte], origin: Int, limit: Int): Option[Ifd] = {
    if (limit - origin < 8) return None
    val le =
      if (b(origin) == 'I' && b(origin + 1) == 'I') true
      else if (b(origin) == 'M' && b(origin + 1) == 'M') false
      else return None
    val header = new Ifd(b, origin, limit, le, origin, 0)
    if (header.u16(origin + 2) != 42) return None
    val off = header.u32(origin + 4)
    if (off < 8 || origin + off + 2 > limit) return None
    val at = origin + off
    val n = header.u16(at)
    if (n <= 0 || at + 2 + 12L * n + 4 > limit) None
    else Some(new Ifd(b, origin, limit, le, at, n))
  }
}
