package graft.multimodal

/** Animated GIF codec (GIF89a, public spec: W3C/CompuServe GIF89a
  * specification) — pure JVM, no codec libraries. Encoder and decoder
  * implement the real format end-to-end: logical screen descriptor,
  * global/local color tables, graphic control extensions (delay,
  * disposal, transparency), image descriptors with interlacing, and the
  * LSB-first LZW data streams, through the [[Lzw]] coder it shares with
  * TIFF (minimum code size 2 to 8, no leading Clear required). The decoder
  * COMPOSES frames the way a viewer does — each frame's rect drawn over
  * the running canvas through its active palette, transparency skipping
  * pixels, disposal none/keep and restore-to-background supported — and
  * returns one full composed RGB canvas per frame, which is what a
  * frame-sampling curation pipeline consumes. Interop is pinned in
  * MultimodalSpec against the JDK's independent ImageIO GIF codec in
  * both directions, so LZW code-width alignment cannot be
  * "self-consistently wrong". Malformed bytes REJECT (None), never
  * throw out of an executor task.
  */
object GifCodec {

  /** Composed animation: per-frame full-canvas interleaved RGB. */
  case class GifImage(width: Int, height: Int, delaysCs: Vector[Int],
      frames: Vector[Array[Byte]])

  /** One frame for the encoder: palette indices over a rect placed on the
    * canvas. `transparent` = palette index drawn as a hole (or -1).
    */
  case class GifFrame(left: Int, top: Int, w: Int, h: Int,
      indices: Array[Byte], delayCs: Int = 0, interlace: Boolean = false,
      transparent: Int = -1, disposal: Int = 1)

  /** Frames are capped, with `MaxPixels` on the composed output. */
  private val MaxFrames = 1024

  // Interlace passes (spec appendix E): row origin and increment.
  private val InterlacePasses = Array((0, 8), (4, 8), (2, 4), (1, 2))

  private def interlacedRowOrder(h: Int): Array[Int] = {
    val rows = new Array[Int](h)
    var i = 0
    for ((start, step) <- InterlacePasses; y <- start until h by step) {
      rows(i) = y; i += 1
    }
    rows
  }

  // ---------------------------------------------------------- encode

  /** Encode a complete GIF89a: logical screen with a 256-entry global
    * color table (`palette` = 768 RGB bytes), one graphic control
    * extension + image descriptor + LZW data stream per frame, trailer.
    * Frame rects must sit inside the canvas; indices are row-major over
    * the rect (the encoder writes interlaced row order when asked).
    */
  def gifEncode(w: Int, h: Int, palette: Array[Byte],
      frames: Seq[GifFrame]): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff)
    require(palette.length == 768)
    require(frames.nonEmpty)
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(w); u16(h)
    u8(0xf7) // GCT present, 8-bit color resolution, 256 entries
    u8(0)    // background color index
    u8(0)    // pixel aspect
    out.write(palette)
    frames.foreach { f =>
      require(f.left >= 0 && f.top >= 0 && f.w > 0 && f.h > 0 &&
        f.left + f.w <= w && f.top + f.h <= h)
      require(f.indices.length == f.w * f.h)
      require(f.disposal >= 0 && f.disposal <= 2)
      // Graphic control extension.
      u8(0x21); u8(0xf9); u8(4)
      u8((f.disposal << 2) | (if (f.transparent >= 0) 1 else 0))
      u16(f.delayCs)
      u8(math.max(f.transparent, 0))
      u8(0)
      // Image descriptor (no local color table).
      u8(0x2c)
      u16(f.left); u16(f.top); u16(f.w); u16(f.h)
      u8(if (f.interlace) 0x40 else 0x00)
      val rowOrder =
        if (f.interlace) interlacedRowOrder(f.h) else Array.range(0, f.h)
      val seq = new Array[Byte](f.w * f.h)
      var i = 0
      rowOrder.foreach { y =>
        System.arraycopy(f.indices, y * f.w, seq, i, f.w); i += f.w
      }
      u8(8) // LZW minimum code size (256-entry palette)
      val lzw = Lzw.encode(Lzw.gif(8), seq)
      var p = 0
      while (p < lzw.length) {
        val n = math.min(255, lzw.length - p)
        u8(n); out.write(lzw, p, n); p += n
      }
      u8(0) // sub-block terminator
    }
    u8(0x3b) // trailer
    out.toByteArray
  }

  // ---------------------------------------------------------- decode

  /** Decode + COMPOSE a complete GIF (87a or 89a): returns one full
    * composed RGB canvas per frame. Strictness, house style: the trailer
    * must exist and be TERMINAL; every sub-block chain, color-table size,
    * frame rect and LZW stream is bounds/consistency-checked; unsupported
    * disposal 3 (restore-previous) and any structural violation REJECT
    * rather than mis-compose. Transparency holes keep the running canvas
    * (first-frame holes show the background color).
    */
  def gifDecodeFrames(b: Array[Byte]): Option[GifImage] = {
    if (b.length < 13) return None
    val sig = new String(b, 0, 6, "US-ASCII")
    if (sig != "GIF89a" && sig != "GIF87a") return None
    def u16(off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    val w = u16(6); val h = u16(8)
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
    val packed = b(10) & 0xff
    val bg = b(11) & 0xff
    var p = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (p + 3 * n > b.length) return None
      gct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    // Background color: global-table entry `bg`, black when there is none.
    val bgRgb =
      if (gct != null && 3 * bg + 2 < gct.length) gct.slice(3 * bg, 3 * bg + 3)
      else new Array[Byte](3)
    val canvas = new Array[Byte](w * h * 3)
    def clearRect(x0: Int, y0: Int, rw: Int, rh: Int): Unit = {
      var y = y0
      while (y < y0 + rh) {
        var o = (y * w + x0) * 3
        while (o < (y * w + x0 + rw) * 3) {
          canvas(o) = bgRgb(0); canvas(o + 1) = bgRgb(1); canvas(o + 2) = bgRgb(2)
          o += 3
        }
        y += 1
      }
    }
    clearRect(0, 0, w, h)
    // Walks the sub-block chain at `from` into `sink` (null: skips it);
    // returns the position after its terminator, or -1 past the end.
    def subBlocks(from: Int, sink: java.io.ByteArrayOutputStream): Int = {
      var q = from; var n = -1
      while (n != 0) {
        if (q >= b.length) return -1
        n = b(q) & 0xff
        if (q + 1 + n > b.length) return -1
        if (sink != null) sink.write(b, q + 1, n)
        q += 1 + n
      }
      q
    }
    val frames = Vector.newBuilder[Array[Byte]]
    val delays = Vector.newBuilder[Int]
    var nFrames = 0
    // Pending graphic-control state for the NEXT image descriptor.
    var disposal = 0; var transparent = -1; var delayCs = 0
    var sawTrailer = false
    while (!sawTrailer) {
      if (p >= b.length) return None
      (b(p) & 0xff) match {
        case 0x3b =>
          // Trailer must be terminal — trailing bytes are a structural
          // violation, not ignorable slack (same rule as PNG's IEND).
          if (p + 1 != b.length) return None
          sawTrailer = true
        case 0x21 => // extension: label + sub-block chain
          if (p + 2 > b.length) return None
          val label = b(p + 1) & 0xff
          var q = p + 2
          if (label == 0xf9) {
            if (q + 6 > b.length || (b(q) & 0xff) != 4) return None
            val gp = b(q + 1) & 0xff
            disposal = (gp >> 2) & 7
            if (disposal > 2) return None // restore-previous: unsupported
            delayCs = u16(q + 2)
            transparent = if ((gp & 1) != 0) b(q + 4) & 0xff else -1
            if ((b(q + 5) & 0xff) != 0) return None
            q += 6
          } else {
            // Application/comment/plain-text: skip the sub-block chain.
            q = subBlocks(q, null)
            if (q < 0) return None
          }
          p = q
        case 0x2c => // image descriptor
          if (p + 10 > b.length) return None
          val fl = u16(p + 1); val ft = u16(p + 3)
          val fw = u16(p + 5); val fh = u16(p + 7)
          val ip = b(p + 9) & 0xff
          if (fw <= 0 || fh <= 0 || fl + fw > w || ft + fh > h) return None
          var q = p + 10
          var pal = gct
          if ((ip & 0x80) != 0) {
            val n = 2 << (ip & 7)
            if (q + 3 * n > b.length) return None
            pal = java.util.Arrays.copyOfRange(b, q, q + 3 * n)
            q += 3 * n
          }
          if (pal == null) return None // no palette anywhere: undecodable
          val interlaced = (ip & 0x40) != 0
          if (q >= b.length) return None
          val minCode = b(q) & 0xff
          q += 1
          val lzw = new java.io.ByteArrayOutputStream()
          q = subBlocks(q, lzw)
          if (q < 0) return None
          if (nFrames >= MaxFrames ||
            (nFrames + 1).toLong * w * h > MaxPixels) return None
          if (minCode < 2 || minCode > 8) return None
          val data = lzw.toByteArray
          val seq = Lzw.decode(Lzw.gif(minCode), data, 0, data.length, fw * fh)
            .getOrElse(return None)
          val rowOrder =
            if (interlaced) interlacedRowOrder(fh) else Array.range(0, fh)
          // Disposal applies AFTER this frame is snapshotted; restore-to-
          // background clears the frame's rect to the background color.
          var i = 0
          rowOrder.foreach { y =>
            var x = 0
            while (x < fw) {
              val idx = seq(i) & 0xff
              if (idx != transparent) {
                if (3 * idx + 2 >= pal.length) return None
                val o = ((ft + y) * w + (fl + x)) * 3
                canvas(o) = pal(3 * idx); canvas(o + 1) = pal(3 * idx + 1)
                canvas(o + 2) = pal(3 * idx + 2)
              }
              x += 1; i += 1
            }
          }
          frames += canvas.clone()
          delays += delayCs
          nFrames += 1
          if (disposal == 2) clearRect(fl, ft, fw, fh)
          disposal = 0; transparent = -1; delayCs = 0
          p = q
        case _ => return None // unknown block type
      }
    }
    if (nFrames == 0) return None
    Some(GifImage(w, h, delays.result(), frames.result()))
  }
}
