package graft.multimodal

import JpegWriter.{Component, Huffman}

/** Baseline JPEG codec (ITU-T T.81) — pure JVM, no codec libraries.
  * Completes the image-column decode story next to the PNG codec:
  * marker-segment walk (§B.2), DQT/DHT table parsing, canonical Huffman
  * decode (§F.2.2), differential DC + run-length AC entropy decode
  * (§F.2.2.1–2), dequantization, de-zigzag, and a double-precision IDCT
  * (§A.3.3) with level shift and clamping. The encoder builds spec-valid
  * baseline files from the QUANTIZED-COEFFICIENT domain (fixture blocks are
  * chosen so the lossy pipeline is exactly invertible — see
  * [[Multimodal.realJpegTable]]); interop with an independent codec
  * (the JDK's javax.imageio) is pinned in MultimodalSpec in both directions,
  * so encoder and decoder cannot be "self-consistently wrong" about zigzag
  * order, Huffman canonicalization, or byte stuffing. Every encoder writes
  * through [[JpegWriter]], the only JPEG writer, which owns segment
  * framing, the table segments, restarts and entropy coding; an encoder
  * supplies its segment order and tables, and progressive and lossless
  * their scan script and predictor.
  *
  * Supported subset: 8-bit baseline sequential (SOF0) AND progressive
  * (SOF2, §G.2 — multi-scan spectral selection with end-of-band runs plus
  * full successive-approximation refinement), grayscale (1 component,
  * 1×1 sampling) and YCbCr color (3 components, interleaved MCUs,
  * per-component sampling factors Hi/Vi ∈ {1, 2} — covers 4:4:4, 4:2:2
  * and 4:2:0; chroma upsampled by sample replication). Color output is
  * RGB via the JFIF matrix with explicit floor(x + 0.5) rounding — floor
  * on an IEEE-754 double is replayable bit-exactly by the SQL oracle,
  * unlike round-half-to-even. The LOSSLESS process (SOF3, Annex H) is
  * also decoded: grayscale, precision 2..16, all seven predictors,
  * point transform, line-aligned restart intervals (see
  * [[jpegDecodeLossless]]); so is 12-bit EXTENDED SEQUENTIAL (SOF1,
  * grayscale — Pq = 1 quantization tables, widened Huffman alphabet,
  * 2048 level shift; see [[jpegDecode12]]), and Adobe 4-component
  * CMYK/YCCK (baseline, 1×1 sampling, APP14 ColorTransform 0 or 2 — see
  * [[jpegDecodeCmykPixels]]). Anything else — arithmetic coding,
  * hierarchical, 2-component frames, 4-component without the Adobe
  * APP14 or with an unknown transform, Hi/Vi > 2 — REJECTS (None) rather
  * than mis-decodes. Malformed bytes must never throw out of an
  * executor task.
  */
object JpegCodec {

  /** Decoded 8-bit grayscale image. */
  case class JpegImage(width: Int, height: Int, pixels: Array[Byte])

  /** Decoded 8-bit color image, interleaved RGB (3 bytes per pixel). */
  case class JpegColorImage(width: Int, height: Int, rgb: Array[Byte])

  // Zigzag scan order (T.81 Figure 5): ZigZag(k) = natural (row-major)
  // index of the k-th coefficient in scan order. Generated by the diagonal
  // walk rather than hand-typed; interop tests catch a wrong table (a file
  // we encode with a broken order decodes to wrong pixels in ImageIO).
  private[graft] val ZigZag: Array[Int] = {
    val out = new Array[Int](64)
    var x = 0; var y = 0
    for (k <- 0 until 64) {
      out(k) = y * 8 + x
      if ((x + y) % 2 == 0) { // moving up-right
        if (x == 7) y += 1 else if (y == 0) x += 1 else { x += 1; y -= 1 }
      } else { // moving down-left
        if (y == 7) x += 1 else if (x == 0) y += 1 else { x -= 1; y += 1 }
      }
    }
    out
  }

  // Standard Huffman tables for luminance, T.81 Annex K.3 (tables K.3/K.5).
  // BITS = number of codes of each length 1..16; VALS = symbol values in
  // code order. Any canonical table is spec-legal (the DHT segment carries
  // it), but emitting the Annex K tables makes the fixture files what a
  // real encoder produces.
  private val LumaDc = new Huffman(
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0), (0 to 11).toArray)

  private val LumaAc = new Huffman(
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d), Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa))

  // Standard Huffman tables for chrominance, T.81 Annex K.3 (tables
  // K.4/K.6) — emitted by the color encoder for the Cb/Cr components so
  // fixture files carry the table pair a real encoder produces. Any
  // canonical table would be spec-legal (DHT carries it); the ImageIO
  // interop test cross-checks that the DHT we write matches the codes we
  // emit.
  private val ChromaDc = new Huffman(
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0), (0 to 11).toArray)

  private val ChromaAc = new Huffman(
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77), Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa))

  // Progressive AC scans need EOBn symbols (0x10..0xE0) that the Annex K
  // SEQUENTIAL tables do not contain — real progressive encoders always
  // emit custom (optimized) DHTs. This fixture table is flat 8-bit
  // canonical over every symbol the progressive encoder can produce
  // (EOB0..EOB14, ZRL, every run/size pair with size ≤ 10); 176 codes of
  // length 8 leave the all-ones code word unassigned as T.81 §C.2 requires.
  private val ProgAc = new Huffman(
    Array(0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0),
    ((0 to 14).map(_ << 4) ++ Seq(0xf0) ++
      (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray)

  // Frame components: Y (also the one gray component, and each CMYK
  // channel under its own id) with Tq 0 and table pair 0; Cb and Cr with
  // Tq 1 and table pair 1.
  private val Y = Component(1, 1, 1, 0, 0, 0)
  private val Cb = Component(2, 1, 1, 1, 1, 1)
  private val Cr = Component(3, 1, 1, 1, 1, 1)

  /** Decode-side canonical table (T.81 §F.2.2.3 DECODE): per-length
    * min/max code and the index of the first value at each length.
    */
  private final class HuffTable(bits: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes of this length
    val valPtr  = new Array[Int](17)
    locally {
      var code = 0; var vi = 0
      for (len <- 1 to 16) {
        if (bits(len - 1) == 0) { minCode(len) = 0; maxCode(len) = -1; valPtr(len) = vi }
        else {
          valPtr(len) = vi
          minCode(len) = code
          code += bits(len - 1); vi += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
      }
    }
  }

  // ---------------------------------------------------------------- encode
  // Every encoder below checks only what is its own; the DQT step range,
  // the frame dimensions, the restart-interval range, the block counts and
  // the category caps are checked once, by [[JpegWriter]].

  /** Encode a complete baseline grayscale JPEG from QUANTIZED coefficient
    * blocks (natural row-major order, 64 ints each; blocks in MCU scan
    * order, ceil(w/8)·ceil(h/8) of them) and a quantization table (natural
    * order). Emits SOI, DQT (zigzag order per §B.2.4.1), SOF0, the Annex K
    * luminance DHT pair, SOS, entropy-coded data (differential DC,
    * run-length AC with ZRL/EOB, byte stuffing), EOI. The caller picks
    * coefficients; this function owns all bitstream framing — so interop
    * tests can feed the output to an independent decoder.
    */
  def jpegEncode(w: Int, h: Int, qtabNatural: Array[Int],
      coefBlocks: Array[Array[Int]], restartInterval: Int = 0): Array[Byte] =
    new JpegWriter().dqt(0, qtabNatural).dri(restartInterval)
      .sof(0xc0, 8, w, h, Y).dht(0, 0, LumaDc).dht(1, 0, LumaAc)
      .sequentialScan(Array(coefBlocks), 11, 10).eoi()

  /** Encode a complete baseline YCbCr color JPEG from QUANTIZED coefficient
    * blocks. Components: Y with sampling `lumaH`×`lumaV` (1×1 → 4:4:4,
    * 2×1 → 4:2:2, 2×2 → 4:2:0), Cb/Cr always 1×1. Two quantization tables
    * (Tq0 luma / Tq1 chroma, zigzag order per §B.2.4.1), the Annex K
    * luminance AND chrominance DHT pairs, interleaved MCU entropy data
    * (§A.2.3: per MCU, lumaH·lumaV Y blocks in raster order, then one Cb,
    * one Cr; three independent DC predictors; restarts reset all three).
    * Fixture-grade framing: w/h must be multiples of the MCU size
    * (8·lumaH × 8·lumaV) so block bookkeeping needs no edge padding —
    * the fixtures choose such dims; real-file EDGE handling is exercised
    * on the decode side via ImageIO-written files. Block arrays are
    * row-major over each component's own block grid (Y: (w/8)·(h/8);
    * Cb/Cr: (w/(8·lumaH))·(h/(8·lumaV))).
    */
  def jpegEncodeColor(w: Int, h: Int,
      qLumaNatural: Array[Int], qChromaNatural: Array[Int],
      yBlocks: Array[Array[Int]], cbBlocks: Array[Array[Int]],
      crBlocks: Array[Array[Int]],
      lumaH: Int = 1, lumaV: Int = 1,
      restartInterval: Int = 0): Array[Byte] = {
    require(lumaH >= 1 && lumaH <= 2 && lumaV >= 1 && lumaV <= 2)
    require(w % (8 * lumaH) == 0 && h % (8 * lumaV) == 0,
      s"jpegEncodeColor is fixture-grade: dims ${w}x$h must be multiples of the ${8 * lumaH}x${8 * lumaV} MCU")
    new JpegWriter().dqt(0, qLumaNatural).dqt(1, qChromaNatural).dri(restartInterval)
      .sof(0xc0, 8, w, h, Y.copy(h = lumaH, v = lumaV), Cb, Cr)
      .dht(0, 0, LumaDc).dht(1, 0, LumaAc).dht(0, 1, ChromaDc).dht(1, 1, ChromaAc)
      .sequentialScan(Array(yBlocks, cbBlocks, crBlocks), 11, 10).eoi()
  }

  /** Encode an Adobe 4-component CMYK baseline JPEG from quantized
    * coefficient blocks — the print/scan variant real corpora contain
    * (Photoshop et al.): Nf = 4, all components 1×1 sampled sharing one
    * quantization table and the Annex K luminance Huffman pair, plus the
    * APP14 "Adobe" segment carrying `colorTransform` — 0 (channels coded
    * directly) or 2 (YCCK: callers pass the first three block planes
    * already in the FORWARD-YCbCr domain; K is untransformed either
    * way). Per the Adobe convention the STORED samples are the INVERTED
    * ink values (255 − ink); callers pass blocks in the stored domain
    * and [[jpegDecodeCmykPixels]] re-inverts (undoing the YCbCr step
    * first for transform 2). Fixture-grade like the other encoders:
    * dims must be block-aligned.
    */
  def jpegEncodeCmyk(w: Int, h: Int, qNatural: Array[Int],
      blocks: Array[Array[Array[Int]]], restartInterval: Int = 0,
      colorTransform: Int = 0): Array[Byte] = {
    require(colorTransform == 0 || colorTransform == 2)
    require(w % 8 == 0 && h % 8 == 0,
      s"jpegEncodeCmyk is fixture-grade: dims ${w}x$h must be block-aligned")
    require(blocks.length == 4)
    // APP14 "Adobe": version 100, flags 0/0, ColorTransform as given.
    new JpegWriter()
      .segment(0xee, Array[Byte]('A', 'd', 'o', 'b', 'e', 0, 100, 0, 0, 0, 0, colorTransform.toByte))
      .dqt(0, qNatural).dri(restartInterval)
      .sof(0xc0, 8, w, h, (1 to 4).map(id => Y.copy(id = id)): _*)
      .dht(0, 0, LumaDc).dht(1, 0, LumaAc)
      .sequentialScan(blocks, 11, 10).eoi()
  }

  /** Encode a PROGRESSIVE (SOF2) JPEG from quantized coefficient blocks —
    * spectral-selection-only script (Ah = Al = 0, legal per §G.1.1.1.1):
    * one DC scan (interleaved across all components), then per component
    * the AC bands [1,5] and [6,63], each coded with the progressive AC
    * scheme (§G.1.2.2: in-band runs/ZRL plus END-OF-BAND RUNS — EOBn
    * symbols whose run length spans consecutive all-zero bands across
    * blocks, the coding tool baseline lacks). Successive approximation is
    * exercised on the DECODE side via ImageIO-written files (the JDK's
    * progressive writer uses it); this fixture encoder stays at full
    * precision so the coefficient-domain fixtures remain exactly
    * invertible. Fixture-grade framing: all components 1×1 (so data-unit
    * grids coincide), dims multiples of 8, no restart markers. Components:
    * 1 (grayscale) or 3 (YCbCr; Annex K DC table pairs, the shared
    * progressive AC table, Tq0/Tq1 as in [[jpegEncodeColor]]).
    */
  def jpegEncodeProgressive(w: Int, h: Int,
      qLumaNatural: Array[Int], qChromaNatural: Array[Int],
      compBlocks: Array[Array[Array[Int]]]): Array[Byte] = {
    val nc = compBlocks.length
    require(nc == 1 || nc == 3)
    require(w % 8 == 0 && h % 8 == 0,
      s"jpegEncodeProgressive is fixture-grade: dims ${w}x$h must be block multiples")
    val comps = Seq(Y, Cb, Cr).take(nc)
    val jw = new JpegWriter().dqt(0, qLumaNatural)
    if (nc == 3) jw.dqt(1, qChromaNatural)
    jw.sof(0xc2, 8, w, h, comps: _*).dht(0, 0, LumaDc).dht(1, 0, ProgAc)
    if (nc == 3) jw.dht(0, 1, ChromaDc)
    // DC first: all components interleaved, Ss = Se = 0.
    jw.mcuScan(comps, compBlocks, 0, 0)((i, blk, b) => jw.dc(i, blk(0), 11, b))
    // Then per component the bands [1,5] and [6,63], every one coded in
    // the shared progressive AC table (Ta = 0).
    for (i <- 0 until nc; (ss, se) <- Seq((1, 5), (6, 63)))
      jw.mcuScan(Seq(comps(i).copy(td = 0, ta = 0)), Array(compBlocks(i)), ss, se) {
        (_, blk, b) => jw.band(0, blk, ss, se, 10, b)
      }
    jw.eoi()
  }

  // ---------------------------------------------------------------- decode

  /** Bit reader over entropy-coded data: handles byte stuffing (FF 00) and
    * stops at any real marker (FF xx). Returns -1 on exhaustion/marker —
    * callers translate that to a decode failure (or scan end).
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0; private var nbits = 0
    private var atMarker = false
    def bit(): Int = {
      if (nbits == 0) {
        if (atMarker || pos >= b.length) return -1
        var byte0 = b(pos) & 0xff; pos += 1
        if (byte0 == 0xff) {
          if (pos >= b.length) { atMarker = true; return -1 }
          val next = b(pos) & 0xff
          if (next == 0x00) pos += 1 // stuffed
          else { atMarker = true; pos -= 1; return -1 }
        }
        acc = byte0; nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { val x = bit(); if (x < 0) return -1; v = (v << 1) | x; i += 1 }
      v
    }

    /** Restart boundary (§F.2.1.3.1) after the `count`-th restart
      * interval: the encoder byte-aligned and wrote RSTm, m = (count − 1)
      * mod 8. This reader buffers whole bytes, so `pos` is already
      * byte-aligned just past the consumed entropy data — the marker must
      * sit EXACTLY there (no scanning past garbage). Consumes it and
      * starts the next interval on a fresh byte; false when it is missing
      * or out of sequence. The restart-marker check of every decoder.
      */
    def restart(count: Int): Boolean = {
      if (pos + 1 >= b.length || (b(pos) & 0xff) != 0xff ||
        (b(pos + 1) & 0xff) != 0xd0 + ((count - 1) & 7)) return false
      pos += 2; nbits = 0; atMarker = false
      true
    }
  }

  private def huffDecode(r: BitReader, t: HuffTable): Int = {
    var code = 0
    var len = 0
    while (len < 16) {
      val x = r.bit(); if (x < 0) return -1
      code = (code << 1) | x; len += 1
      if (t.maxCode(len) >= 0 && code <= t.maxCode(len) && code >= t.minCode(len)) {
        val idx = t.valPtr(len) + (code - t.minCode(len))
        if (idx >= t.vals.length) return -1
        return t.vals(idx)
      }
    }
    -1 // no code of length <= 16 matched: corrupt stream
  }

  /** EXTEND (T.81 §F.2.2.1): map SSSS magnitude bits to a signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Sequential-DCT constants per sample precision (T.81 Tables F.1/F.2,
    * §A.3.1): the largest DC-difference and AC-coefficient categories, a
    * reject-only bound on the accumulated DC predictor, the level shift
    * and the largest sample. Each DIFF is category-capped but the
    * predictor accumulates across blocks; a stream of max-category diffs
    * could walk it past Int range and mis-decode silently (ADVICE r11).
    * Every legal quantized DC fits ±2047 (8-bit) or ±16384 (12-bit), so
    * the bounds are generous. Progressive frames use the 8-bit DC
    * constants.
    */
  private final case class Precision(maxDcCat: Int, maxAcCat: Int,
      predBound: Int, levelShift: Int, maxVal: Int)
  private val Precision8 = Precision(11, 10, 32767, 128, 255)
  private val Precision12 = Precision(15, 14, 65535, 2048, 4095)

  // Separable IDCT basis: c(u)·cos((2x+1)uπ/16), doubles. Fixture pixel
  // values are exact integers by construction, so the ~1e-13 float error
  // here can never flip round-to-nearest; general streams get the usual
  // float-IDCT accuracy (interop-checked ±1 vs the JDK codec).
  private val IdctBasis: Array[Double] = {
    val t = new Array[Double](64)
    for (u <- 0 until 8; x <- 0 until 8)
      t(u * 8 + x) = (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) *
        math.cos((2 * x + 1) * u * math.Pi / 16.0)
    t
  }

  /** IDCT with the precision's level shift and clamp. */
  private def idctBlock(coef: Array[Int], out: Array[Int], pc: Precision): Unit = {
    // rows: for each y, tmp(y,x) = sum_u basis(u,x) * coef(y*8+u)
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0; var u = 0
        while (u < 8) { val c = coef(y * 8 + u); if (c != 0) s += IdctBasis(u * 8 + x) * c; u += 1 }
        tmp(y * 8 + x) = s; x += 1
      }
      y += 1
    }
    // cols + scale 1/4 + level shift + clamp
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0; var v = 0
        while (v < 8) { val t = tmp(v * 8 + x); if (t != 0.0) s += IdctBasis(v * 8 + yy) * t; v += 1 }
        val p = math.round(s / 4.0 + pc.levelShift).toInt
        out(yy * 8 + x) = if (p < 0) 0 else if (p > pc.maxVal) pc.maxVal else p
        yy += 1
      }
      x += 1
    }
  }

  /** One frame component: id, sampling factors, quant-table selector. */
  private final case class Comp(id: Int, hi: Int, vi: Int, tq: Int)

  /** Frame header (§B.2.2): the SOFn that opened it, sample precision,
    * dimensions and components, plus the interleaved MCU grid (§A.2.3) —
    * for one 1×1 component, the ceil(w/8)·ceil(h/8) block grid.
    */
  private final class Frame(val sof: Int, val precision: Int, val w: Int,
      val h: Int, val comps: Array[Comp]) {
    val hmax: Int = comps.map(_.hi).max
    val vmax: Int = comps.map(_.vi).max
    val mcuW: Int = (w + 8 * hmax - 1) / (8 * hmax)
    val mcuH: Int = (h + 8 * vmax - 1) / (8 * vmax)
  }

  /** Scan header (§B.2.3): per scan component its frame-component index
    * and DC/AC table selectors; spectral selection Ss..Se and successive
    * approximation Ah/Al (a lossless scan carries its predictor in Ss and
    * its point transform in Al).
    */
  private final class Scan(val ci: Array[Int], val td: Array[Int],
      val ta: Array[Int], val ss: Int, val se: Int, val ah: Int, val al: Int)

  /** The JPEG marker grammar (T.81 Annex B), walked once per image by
    * every JPEG reader: the pixel decoders below, [[MediaCodec.parseJpeg]]
    * and [[ExifCodec.parseJpegMeta]]. The walker owns five rules, each
    * stated once:
    *  - SOI opens the file ([[soi]]); any number of 0xFF fill bytes may
    *    precede a marker code (§B.1.1.2); every marker but EOI carries a
    *    2-byte length ≥ 2 that counts itself and ends inside the buffer
    *    ([[next]]);
    *  - a frame header is SOFn, C0–CF except DHT (C4), JPG (C8) and DAC
    *    (CC) ([[isSof]]);
    *  - DQT, DHT, DRI and APP14 fold into one table state, which later
    *    segments may redefine (§B.2.4; [[readTables]]);
    *  - each restart interval ends in the next RSTm, exactly where its
    *    entropy-coded data stops ([[BitReader.restart]]);
    *  - EOI, after optional fill bytes, is the last thing in the file
    *    ([[terminalEoi]]).
    * Frame and scan headers are parsed here as well ([[frameHeader]],
    * [[scanHeader]]); which of them a coding process accepts is the
    * decoder's business. Malformed bytes give -1, false, None or null,
    * never an exception.
    */
  private[multimodal] final class JpegWalker(val b: Array[Byte]) {
    val soi: Boolean =
      !(b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
    /** Offset of the next marker; a decoder moves it past a scan's
      * entropy-coded data.
      */
    var pos = 2
    /** The current segment's payload is [seg0, segEnd). */
    var seg0 = 0; var segEnd = 0

    // Table state: quantization tables (natural order), Huffman tables,
    // whether any DQT carried 16-bit entries (Pq = 1), the restart
    // interval, and the Adobe APP14 ColorTransform (-1 = none seen).
    private[JpegCodec] val qtabs = new Array[Array[Int]](4)
    private[JpegCodec] val dcTabs = new Array[HuffTable](4)
    private[JpegCodec] val acTabs = new Array[HuffTable](4)
    private[JpegCodec] var q16 = false
    private[JpegCodec] var restartInterval = 0
    private[JpegCodec] var adobeTransform = -1

    def be16(off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

    /** The current segment's length field (payload + 2). */
    def len: Int = segEnd - seg0 + 2

    def isSof(m: Int): Boolean =
      m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

    /** Read the marker at `pos`, skipping fill bytes. EOI leaves `pos`
      * on its 0xFF; any other marker's segment is bounded and `pos` moves
      * past it. Returns the marker code, or -1 where the bytes break the
      * grammar.
      */
    def next(): Int = {
      var p = pos
      if (p + 2 > b.length || (b(p) & 0xff) != 0xff) return -1
      while (p + 2 <= b.length && (b(p + 1) & 0xff) == 0xff) p += 1
      if (p + 2 > b.length) return -1
      pos = p
      val m = b(p + 1) & 0xff
      if (m != 0xd9) {
        if (p + 4 > b.length) return -1
        val l = be16(p + 2)
        if (l < 2 || p + 2 + l > b.length) return -1
        seg0 = p + 4; segEnd = p + 2 + l; pos = segEnd
      }
      m
    }

    /** True when fill bytes and then EOI run from `p` to the very end —
      * surplus entropy data or trailing bytes are structural violations,
      * not ignorable slack (the PNG decoder's terminal-IEND rule).
      */
    def terminalEoi(p: Int): Boolean = {
      var q = p
      while (q + 2 < b.length && (b(q) & 0xff) == 0xff && (b(q + 1) & 0xff) == 0xff) q += 1
      q + 2 == b.length && (b(q) & 0xff) == 0xff && (b(q + 1) & 0xff) == 0xd9
    }

    /** Header sniff: walk to the first frame header, handing each earlier
      * segment's marker to `visit`. Returns the frame's (width, height) —
      * lines and samples per line, which the SOFn segment must hold — or
      * None when the grammar breaks, a scan or EOI comes first, or a
      * dimension is 0. `segEnd` then ends the frame header.
      */
    def frameSize(visit: Int => Unit): Option[(Int, Int)] = {
      if (!soi) return None
      var m = next()
      while (m >= 0 && m != 0xd9 && m != 0xda) {
        if (isSof(m)) {
          if (len < 7) return None
          val h = be16(seg0 + 1); val w = be16(seg0 + 3)
          return if (w <= 0 || h <= 0) None else Some((w, h))
        }
        visit(m)
        m = next()
      }
      None
    }

    /** Fold the current segment into the table state when it is a DQT,
      * DHT, DRI or APP14; any other segment (APPn, COM) is skipped. False
      * when a table segment is malformed.
      */
    private[JpegCodec] def readTables(m: Int): Boolean = m match {
      case 0xdb => readDqt()
      case 0xc4 => readDht()
      case 0xdd =>
        if (len != 4) false else { restartInterval = be16(seg0); true }
      case 0xee =>
        if (len >= 14 && b(seg0) == 'A' && b(seg0 + 1) == 'd' &&
          b(seg0 + 2) == 'o' && b(seg0 + 3) == 'b' && b(seg0 + 4) == 'e')
          adobeTransform = b(seg0 + 11) & 0xff
        true
      case _ => true
    }

    /** DQT (§B.2.4.1): one or more (Pq/Tq, 64 zigzag values) entries.
      * Zero steps reject; Pq = 1 (16-bit values) sets `q16`.
      */
    private def readDqt(): Boolean = {
      var q = seg0
      while (q < segEnd) {
        val pq = (b(q) & 0xff) >> 4; val tq = b(q) & 0x0f
        if (pq > 1 || tq > 3) return false
        if (q + 1 + 64 * (pq + 1) > segEnd) return false
        val tab = new Array[Int](64)
        var k = 0
        while (k < 64) {
          val v = if (pq == 1) be16(q + 1 + 2 * k) else b(q + 1 + k) & 0xff
          if (v == 0) return false
          tab(ZigZag(k)) = v // stored zigzag → natural
          k += 1
        }
        if (pq == 1) q16 = true
        qtabs(tq) = tab
        q += 1 + 64 * (pq + 1)
      }
      true
    }

    /** DHT (§B.2.4.2): one or more (Tc/Th, bits, vals) entries. */
    private def readDht(): Boolean = {
      var q = seg0
      while (q < segEnd) {
        if (q + 17 > segEnd) return false
        val tc = (b(q) & 0xff) >> 4; val th = b(q) & 0x0f
        if (tc > 1 || th > 3) return false
        val bits = Array.tabulate(16)(i => b(q + 1 + i) & 0xff)
        val n = bits.sum
        if (n == 0 || n > 256 || q + 17 + n > segEnd) return false
        val tab = new HuffTable(bits, Array.tabulate(n)(i => b(q + 17 + i) & 0xff))
        if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
        q += 17 + n
      }
      true
    }

    /** Parse the current SOFn segment; null when it breaks a rule of its
      * coding process — precision (SOF0/SOF2 8, SOF1 8 or 12, SOF3
      * 2..16), component count (SOF0 1, 3 or 4 (Adobe CMYK, checked at
      * SOS); SOF2 1 or 3; SOF1/SOF3 1), the pixel cap, length 8 + 3·Nf,
      * Tq ≤ 3, distinct ids (else the SOS binding is ambiguous), and
      * sampling: YCbCr Hi/Vi ∈ {1, 2} (4:4:4 / 4:2:2 / 4:2:0), every
      * other count 1×1. Other SOFn (hierarchical, arithmetic) reject.
      */
    private[JpegCodec] def frameHeader(sof: Int): Frame = {
      if (len < 8) return null
      val p = b(seg0) & 0xff
      val h = be16(seg0 + 1); val w = be16(seg0 + 3)
      val nf = b(seg0 + 5) & 0xff
      val (precisionOk, nfOk, cap) = sof match {
        case 0xc0 => (p == 8, nf == 1 || nf == 3 || nf == 4, MaxPixels)
        case 0xc1 => (p == 8 || p == 12, nf == 1, MaxPixels)
        case 0xc2 => (p == 8, nf == 1 || nf == 3, MaxProgressivePixels)
        case 0xc3 => (p >= 2 && p <= 16, nf == 1, MaxPixels)
        case _ => return null
      }
      if (!precisionOk || !nfOk || w <= 0 || h <= 0 || w.toLong * h > cap ||
        len != 8 + 3 * nf) return null
      val comps = new Array[Comp](nf)
      var i = 0
      while (i < nf) {
        val hv = b(seg0 + 7 + 3 * i) & 0xff
        val hi = hv >> 4; val vi = hv & 0x0f
        val tq = b(seg0 + 8 + 3 * i) & 0xff
        if (tq > 3) return null
        if (nf == 3) { if (hi < 1 || hi > 2 || vi < 1 || vi > 2) return null }
        else if (hv != 0x11) return null
        comps(i) = Comp(b(seg0 + 6 + 3 * i) & 0xff, hi, vi, tq)
        i += 1
      }
      if (comps.map(_.id).distinct.length != nf) null
      else new Frame(sof, p, w, h, comps)
    }

    /** Parse the current SOS segment against frame `f`; null when Ns ∉
      * 1..Nf, the length is not 6 + 2·Ns, a scan component is not in the
      * frame or repeats (§B.2.3), or a table selector exceeds 3.
      */
    private[JpegCodec] def scanHeader(f: Frame): Scan = {
      if (len < 8) return null
      val ns = b(seg0) & 0xff
      if (ns < 1 || ns > f.comps.length || len != 6 + 2 * ns) return null
      val ci = new Array[Int](ns); val td = new Array[Int](ns); val ta = new Array[Int](ns)
      var i = 0
      while (i < ns) {
        val cs = b(seg0 + 1 + 2 * i) & 0xff
        ci(i) = f.comps.indexWhere(_.id == cs)
        td(i) = (b(seg0 + 2 + 2 * i) & 0xff) >> 4
        ta(i) = b(seg0 + 2 + 2 * i) & 0x0f
        if (ci(i) < 0 || td(i) > 3 || ta(i) > 3) return null
        i += 1
      }
      if (ci.distinct.length != ns) return null
      val ahAl = b(seg0 + 3 + 2 * ns) & 0xff
      new Scan(ci, td, ta, b(seg0 + 1 + 2 * ns) & 0xff,
        b(seg0 + 2 + 2 * ns) & 0xff, ahAl >> 4, ahAl & 0x0f)
    }
  }

  /** What one walk decodes: 8-bit component planes (SOF0, SOF2) or
    * full-width grayscale samples (SOF1, SOF3).
    */
  private sealed trait Decoded

  /** Per-component planes, upsampled and cropped to w×h: 1 = grayscale,
    * 3 = YCbCr (color transform in [[jpegDecodeColorPixels]]), 4 = Adobe
    * CMYK/YCCK with its APP14 ColorTransform (0 = channels direct, 2 =
    * YCCK).
    */
  private final case class Planes(w: Int, h: Int, planes: Array[Array[Byte]],
      adobeTransform: Int) extends Decoded

  /** SOF1 (extended sequential) or SOF3 (lossless) samples. */
  private final case class Samples(sof: Int, image: JpegImage16) extends Decoded

  /** Walk the image once and decode the frame behind the first SOFn:
    * sequential (SOF0 baseline, SOF1 extended), progressive (SOF2) or
    * lossless (SOF3). One frame per image; DNL rejects. Sequential and
    * lossless frames are a single scan, which EOI must end; a progressive
    * frame reaches EOI through the walk after at least one scan — a
    * scan-less SOF2 file would otherwise render a fabricated flat image.
    * DQT entries of 16 bits belong to 12-bit frames only (§B.2.4.1).
    * None on ANY structural violation, unsupported feature, truncated
    * entropy data or invalid Huffman state — malformed bytes never throw
    * from an executor task.
    */
  private def decode(b: Array[Byte]): Option[Decoded] = {
    val walk = new JpegWalker(b)
    if (!walk.soi) return None
    var f: Frame = null
    var prog: Progressive = null
    var out: Decoded = null
    while (out == null) {
      val m = walk.next()
      if (m < 0 || m == 0xdc) return None // DNL: unsupported
      if (m == 0xd9) {
        if (prog == null || prog.scans == 0 || !walk.terminalEoi(walk.pos)) return None
        out = prog.render(walk)
        if (out == null) return None
      } else if (walk.isSof(m)) {
        if (f != null) return None
        f = walk.frameHeader(m)
        if (f == null) return None
        if (m == 0xc2) prog = new Progressive(f)
      } else if (m == 0xda) {
        if (f == null) return None
        val sc = walk.scanHeader(f)
        if (sc == null) return None
        if (prog != null) { if (!prog.scan(walk, sc)) return None }
        else {
          out = if (f.sof == 0xc3) decodeLossless(walk, f, sc) else decodeSequential(walk, f, sc)
          if (out == null || !walk.terminalEoi(walk.pos)) return None
        }
      } else if (!walk.readTables(m)) return None
    }
    if (walk.q16 && !(f.sof == 0xc1 && f.precision == 12)) None else Some(out)
  }

  /** Upsample (sample replication — exact for the fixtures' per-block
    * constant chroma; ImageIO interop carries the cross-codec tolerance)
    * and crop each block-padded component plane to the w×h raster.
    * Shared by the sequential and progressive decoders.
    */
  private def cropPlanes(f: Frame, planes: Array[Array[Byte]],
      planeW: Array[Int]): Array[Array[Byte]] = {
    val w = f.w; val h = f.h
    val outPlanes = new Array[Array[Byte]](f.comps.length)
    for (i <- f.comps.indices) {
      val c = f.comps(i)
      if (c.hi == f.hmax && c.vi == f.vmax && planeW(i) == w && planes(i).length == w * h) {
        outPlanes(i) = planes(i) // full-res, unpadded: use as-is
      } else {
        val outp = new Array[Byte](w * h)
        val pw = planeW(i); val plane = planes(i)
        var y = 0
        while (y < h) {
          val srcBase = (y * c.vi / f.vmax) * pw; val dstBase = y * w
          var x = 0
          while (x < w) { outp(dstBase + x) = plane(srcBase + x * c.hi / f.hmax); x += 1 }
          y += 1
        }
        outPlanes(i) = outp
      }
    }
    outPlanes
  }

  /** The one scan of a SEQUENTIAL frame — SOF0 baseline or SOF1 extended
    * (§F.2): grayscale, YCbCr with Hi/Vi ∈ {1, 2}, or Adobe 4-component
    * CMYK/YCCK; the frame precision picks the [[Precision]] constants.
    * 8-bit samples land in byte planes (never widened: 4× the memory at
    * the pixel cap); 12-bit ones (grayscale only) in one Int plane. Moves
    * `walk.pos` past the entropy-coded data; null on any structural
    * violation.
    */
  private def decodeSequential(walk: JpegWalker, f: Frame, sc: Scan): Decoded = {
    val comps = f.comps; val nf = comps.length
    val qt = comps.map(c => walk.qtabs(c.tq))
    val dcT = sc.td.map(walk.dcTabs(_))
    val acT = sc.ta.map(walk.acTabs(_))
    // The one scan binds every frame component in frame order (§B.2.3:
    // interleaved order follows frame order — a permuted scan rejects)
    // over the full spectrum: Ss = 0, Se = 63, Ah = Al = 0.
    if (!sc.ci.sameElements(comps.indices) || sc.ss != 0 || sc.se != 63 ||
      sc.ah != 0 || sc.al != 0) return null
    if (qt.contains(null) || dcT.contains(null) || acT.contains(null)) return null
    // A 4-component frame is Adobe CMYK only: APP14 ColorTransform 0
    // (channels coded directly) or 2 (YCCK, undone in
    // jpegDecodeCmykPixels). Without the APP14 the channel meaning is
    // undefined, and transform 1 (YCbCr) is meaningless at Nf = 4 —
    // reject rather than mis-decode.
    if (nf == 4 && walk.adobeTransform != 0 && walk.adobeTransform != 2) return null
    val pc = if (f.precision == 12) Precision12 else Precision8
    val nMcu = f.mcuW * f.mcuH
    // Per-component block-padded planes; upsampled/cropped to w×h at the end.
    val planeW = new Array[Int](nf)
    val planes = new Array[Array[Byte]](nf)
    var wide: Array[Int] = null
    for (i <- 0 until nf) {
      planeW(i) = f.mcuW * comps(i).hi * 8
      val n = planeW(i) * f.mcuH * comps(i).vi * 8 // (w + 15)·(h + 15) at most
      if (f.precision == 12) wide = new Array[Int](n) else planes(i) = new Array[Byte](n)
    }
    val coef = new Array[Int](64)
    val blockOut = new Array[Int](64)
    val r = new BitReader(walk.b, walk.pos)
    val dcPred = new Array[Int](nf)

    // One entropy-coded block for component ci: DC category + EXTENDed
    // difference bits (§F.2.2.1), then AC run/size symbols with ZRL and
    // EOB (§F.2.2.2). Fills `coef` (dequantized, natural order); returns
    // false on any structural violation.
    def decodeBlock(ci: Int): Boolean = {
      java.util.Arrays.fill(coef, 0)
      val q = qt(ci)
      val s = huffDecode(r, dcT(ci))
      if (s < 0 || s > pc.maxDcCat) return false
      val diffBits = if (s == 0) 0 else r.bits(s)
      if (diffBits < 0) return false
      dcPred(ci) += extend(diffBits, s)
      if (dcPred(ci) > pc.predBound || dcPred(ci) < -pc.predBound) return false
      coef(0) = dcPred(ci) * q(0)
      var k = 1
      while (k <= 63) {
        val rs = huffDecode(r, acT(ci))
        if (rs < 0) return false
        val run = rs >> 4; val sz = rs & 0x0f
        if (sz == 0) {
          if (run == 15) {
            // ZRL: 16 zero coefficients. Landing exactly on 64 is legal
            // (zeros ran to the end of the block); overshooting past 64
            // claims zeros beyond index 63 — structurally invalid, and
            // must REJECT, not fall out of the loop accepted (ADVICE r10).
            k += 16
            if (k > 64) return false
          } else return true // EOB
        } else {
          k += run
          if (k > 63 || sz > pc.maxAcCat) return false
          val vb = r.bits(sz)
          if (vb < 0) return false
          coef(ZigZag(k)) = extend(vb, sz) * q(ZigZag(k))
          k += 1
        }
      }
      true
    }

    val ri = walk.restartInterval
    var mcu = 0
    while (mcu < nMcu) {
      if (ri > 0 && mcu > 0 && mcu % ri == 0) {
        if (!r.restart(mcu / ri)) return null
        java.util.Arrays.fill(dcPred, 0) // every component's predictor
      }
      val mx = mcu % f.mcuW; val my = mcu / f.mcuW
      var ci = 0
      while (ci < nf) {
        val c = comps(ci)
        var v = 0
        while (v < c.vi) {
          var hh = 0
          while (hh < c.hi) {
            if (!decodeBlock(ci)) return null
            idctBlock(coef, blockOut, pc)
            val bx = (mx * c.hi + hh) * 8; val by = (my * c.vi + v) * 8
            val pw = planeW(ci); val plane = planes(ci)
            var yy = 0
            while (yy < 8) {
              val rowBase = (by + yy) * pw + bx
              if (wide != null) System.arraycopy(blockOut, yy * 8, wide, rowBase, 8)
              else {
                var xx = 0
                while (xx < 8) { plane(rowBase + xx) = blockOut(yy * 8 + xx).toByte; xx += 1 }
              }
              yy += 1
            }
            hh += 1
          }
          v += 1
        }
        ci += 1
      }
      mcu += 1
    }
    walk.pos = r.pos
    if (wide != null) {
      val out = new Array[Int](f.w * f.h)
      for (y <- 0 until f.h) System.arraycopy(wide, y * planeW(0), out, y * f.w, f.w)
      Samples(f.sof, JpegImage16(f.w, f.h, 12, out))
    } else {
      val px = cropPlanes(f, planes, planeW)
      if (f.sof == 0xc1) Samples(f.sof, JpegImage16(f.w, f.h, 8, px(0).map(_ & 0xff)))
      else Planes(f.w, f.h, px, walk.adobeTransform)
    }
  }

  /** Progressive allocation cap: the mode needs full-frame QUANTIZED
    * coefficient storage (4 bytes/coefficient/component) until the last
    * scan lands, so the pixel cap is tighter than baseline's.
    */
  private val MaxProgressivePixels: Long = MaxPixels / 4

  /** A PROGRESSIVE (SOF2) frame across its scans (§G.2): multi-scan
    * spectral selection AND successive approximation — interleaved or
    * component-subset DC scans, single-component AC band scans with
    * END-OF-BAND RUNS (§G.1.2.2), DC refinement (one raw bit per block,
    * §G.1.2.1) and the AC refinement procedure (§G.1.2.3: correction bits
    * on every nonzero-history coefficient, including inside EOB runs,
    * newly nonzero coefficients delivered as ±1·2^Al). Coefficients
    * accumulate quantized across scans; dequantization + IDCT +
    * upsampling happen once at EOI ([[render]]), so a spec-legal stream
    * that ends early still renders (progressive semantics) while a scan
    * truncated MID-UNIT rejects. Same sampling support as the sequential
    * frames (no CMYK); tables may be redefined between scans (§B.2.4.2).
    */
  private final class Progressive(f: Frame) {
    private val comps = f.comps
    private val nf = comps.length
    private val bwPad = comps.map(_.hi * f.mcuW)
    private val bhPad = comps.map(_.vi * f.mcuH)
    private val cbw = comps.map(c => ((f.w * c.hi + f.hmax - 1) / f.hmax + 7) / 8)
    private val cbh = comps.map(c => ((f.h * c.vi + f.vmax - 1) / f.vmax + 7) / 8)
    private val coefStore = Array.tabulate(nf)(i => new Array[Int](bwPad(i) * bhPad(i) * 64))
    // Scan-script state (§G.1.1.1.1, ADVICE r11): per component, per
    // zigzag index, the approximation low bit (Al) the coefficient was
    // last delivered/refined at; -1 = not yet delivered. Enforces DC
    // before AC, no re-delivery of a completed band, and refinement only
    // from the precision the band actually sits at.
    private val deliveredAl = Array.fill(nf)(Array.fill(64)(-1))
    var scans = 0

    /** Validate scan `sc` against the scan script and decode its
      * entropy-coded data into the coefficient store, moving `walk.pos`
      * past it; false on any structural violation.
      */
    def scan(walk: JpegWalker, sc: Scan): Boolean = {
      val ns = sc.ci.length
      val ss = sc.ss; val se = sc.se; val ah = sc.ah; val al = sc.al
      // §G.1.1.1: DC scans have Ss=Se=0 (and may interleave); AC
      // scans are single-component bands; refinement steps one bit.
      if (ss == 0) { if (se != 0) return false }
      else { if (ns != 1 || se < ss || se > 63) return false }
      if (al > 13 || (ah != 0 && ah != al + 1)) return false
      for (i <- 0 until ns) {
        if (ss == 0 && ah == 0 && walk.dcTabs(sc.td(i)) == null) return false
        if (ss > 0 && walk.acTabs(sc.ta(i)) == null) return false
      }
      // Scan-script validation (§G.1.1.1.1, ADVICE r11): an AC scan
      // needs the component's DC first pass already delivered; a
      // first pass (Ah=0) must not overwrite an already-delivered
      // coefficient; a refinement must step the band down from
      // exactly the precision it was last delivered at (Ah = that
      // Al, and Ah = Al+1 is already enforced above).
      for (i <- 0 until ns) {
        val st = deliveredAl(sc.ci(i))
        if (ss > 0 && st(0) < 0) return false // AC before DC
        var k = ss
        while (k <= se) {
          if (ah == 0) { if (st(k) != -1) return false }
          else if (st(k) != ah) return false
          k += 1
        }
      }
      val end = decodeScan(walk, sc)
      if (end < 0) return false
      for (i <- 0 until ns) java.util.Arrays.fill(deliveredAl(sc.ci(i)), ss, se + 1, al)
      scans += 1
      walk.pos = end
      true
    }

    // Decode one scan's entropy data starting at `walk.pos`; coefficients
    // land in coefStore. Returns the byte position just past the consumed
    // entropy data, or -1 on any structural violation.
    private def decodeScan(walk: JpegWalker, sc: Scan): Int = {
      val scanCi = sc.ci
      val ns = scanCi.length
      val ss = sc.ss; val se = sc.se; val ah = sc.ah; val al = sc.al
      val r = new BitReader(walk.b, walk.pos)
      val pred = new Array[Int](ns)
      var eobrun = 0
      val nUnits = if (ns > 1) f.mcuW * f.mcuH else cbw(scanCi(0)) * cbh(scanCi(0))

      def dcUnit(si: Int, off: Int): Boolean = {
        if (ah == 0) {
          val s = huffDecode(r, walk.dcTabs(sc.td(si)))
          if (s < 0 || s > Precision8.maxDcCat) return false
          val diffBits = if (s == 0) 0 else r.bits(s)
          if (diffBits < 0) return false
          pred(si) += extend(diffBits, s)
          // Same accumulated-predictor bound as the sequential path
          // (ADVICE r11): reject before the out-of-range value (or its
          // << al overflow, al ≤ 13) lands in the coefficient store.
          if (pred(si) > Precision8.predBound || pred(si) < -Precision8.predBound) return false
          coefStore(scanCi(si))(off) = pred(si) << al
        } else {
          val bit = r.bit()
          if (bit < 0) return false
          if (bit == 1) coefStore(scanCi(si))(off) |= (1 << al)
        }
        true
      }

      def acFirst(store: Array[Int], off: Int, acT: HuffTable): Boolean = {
        if (eobrun > 0) { eobrun -= 1; return true }
        var k = ss
        while (k <= se) {
          val rs = huffDecode(r, acT)
          if (rs < 0) return false
          val run = rs >> 4; val sz = rs & 0x0f
          if (sz == 0) {
            if (run == 15) { k += 16; if (k > se + 1) return false } // ZRL in band
            else {
              eobrun = (1 << run) - 1
              if (run > 0) { val eb = r.bits(run); if (eb < 0) return false; eobrun += eb }
              k = se + 1 // this block's band ends here
            }
          } else {
            k += run
            if (k > se) return false
            val vb = r.bits(sz)
            if (vb < 0) return false
            store(off + ZigZag(k)) = extend(vb, sz) << al
            k += 1
          }
        }
        true
      }

      def acRefine(store: Array[Int], off: Int, acT: HuffTable): Boolean = {
        val p1 = 1 << al
        var k = ss
        // Append one correction bit to every nonzero-history coefficient in
        // [k, se] — the §G.1.2.3 sweep shared by EOB-covered blocks and the
        // band tail after an EOBn symbol.
        def refineTail(): Boolean = {
          while (k <= se) {
            val i = off + ZigZag(k)
            if (store(i) != 0) {
              val bit = r.bit()
              if (bit < 0) return false
              if (bit == 1 && (store(i) & p1) == 0)
                store(i) += (if (store(i) >= 0) p1 else -p1)
            }
            k += 1
          }
          true
        }
        if (eobrun > 0) { // block fully inside an EOB run: corrections only
          eobrun -= 1
          return refineTail()
        }
        var ended = false
        while (!ended && k <= se) {
          val rs = huffDecode(r, acT)
          if (rs < 0) return false
          var run = rs >> 4; val sz = rs & 0x0f
          var newval = 0
          if (sz == 0) {
            if (run < 15) { // EOBn: refine the band tail, then start the run
              eobrun = 1 << run
              if (run > 0) { val eb = r.bits(run); if (eb < 0) return false; eobrun += eb }
              ended = true
            } // else ZRL: pass 16 zero-history coefficients, no new value
          } else {
            if (sz != 1) return false // refinement creates only ±1·2^Al
            val sbit = r.bit()
            if (sbit < 0) return false
            newval = if (sbit == 1) p1 else -p1
          }
          if (!ended) {
            // Advance over `run` zero-history coefficients (16 for ZRL),
            // appending a correction bit to every nonzero-history
            // coefficient passed; the new ±1 lands on the stopping zero.
            var placed = false
            while (!placed && k <= se) {
              val i = off + ZigZag(k)
              if (store(i) != 0) {
                val bit = r.bit()
                if (bit < 0) return false
                if (bit == 1 && (store(i) & p1) == 0)
                  store(i) += (if (store(i) >= 0) p1 else -p1)
                k += 1
              } else if (run == 0) {
                if (newval != 0) store(i) = newval
                k += 1
                placed = true
              } else { run -= 1; k += 1 }
            }
            if (!placed && newval != 0) return false // band ended before placement
          }
        }
        if (ended) { // EOBn counts THIS block: tail corrections, then decrement
          if (!refineTail()) return false
          eobrun -= 1
        }
        true
      }

      val ri = walk.restartInterval
      var u = 0
      while (u < nUnits) {
        if (ri > 0 && u > 0 && u % ri == 0) {
          if (!r.restart(u / ri)) return -1
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }
        if (ns > 1) { // interleaved DC scan (Ss=Se=0)
          val mx = u % f.mcuW; val my = u / f.mcuW
          var si = 0
          while (si < ns) {
            val ci = scanCi(si); val c = comps(ci)
            var v = 0
            while (v < c.vi) {
              var hh = 0
              while (hh < c.hi) {
                val off = ((my * c.vi + v) * bwPad(ci) + (mx * c.hi + hh)) * 64
                if (!dcUnit(si, off)) return -1
                hh += 1
              }
              v += 1
            }
            si += 1
          }
        } else {
          val ci = scanCi(0)
          val off = ((u / cbw(ci)) * bwPad(ci) + (u % cbw(ci))) * 64
          val ok =
            if (ss == 0) dcUnit(0, off)
            else if (ah == 0) acFirst(coefStore(ci), off, walk.acTabs(sc.ta(0)))
            else acRefine(coefStore(ci), off, walk.acTabs(sc.ta(0)))
          if (!ok) return -1
        }
        u += 1
      }
      r.pos
    }

    /** Dequantize + IDCT every REAL block (the padded remainder is never
      * sampled), then the shared upsample/crop into w×h planes; null when
      * a component's quantization table never arrived.
      */
    def render(walk: JpegWalker): Decoded = {
      if (comps.exists(c => walk.qtabs(c.tq) == null)) return null
      val planes = new Array[Array[Byte]](nf)
      val planeW = bwPad.map(_ * 8)
      val cf = new Array[Int](64)
      val blockOut = new Array[Int](64)
      for (i <- 0 until nf) {
        val plane = new Array[Byte](planeW(i) * bhPad(i) * 8)
        val qt = walk.qtabs(comps(i).tq)
        val store = coefStore(i)
        var by = 0
        while (by < cbh(i)) {
          var bx = 0
          while (bx < cbw(i)) {
            val off = (by * bwPad(i) + bx) * 64
            var j = 0
            while (j < 64) { cf(j) = store(off + j) * qt(j); j += 1 }
            idctBlock(cf, blockOut, Precision8)
            val px0 = bx * 8; val py0 = by * 8
            var yy = 0
            while (yy < 8) {
              val rowBase = (py0 + yy) * planeW(i) + px0
              var xx = 0
              while (xx < 8) { plane(rowBase + xx) = blockOut(yy * 8 + xx).toByte; xx += 1 }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        planes(i) = plane
      }
      Planes(f.w, f.h, cropPlanes(f, planes, planeW), walk.adobeTransform)
    }
  }

  /** Full grayscale JPEG pixel decode — baseline (SOF0), progressive
    * (SOF2), or 8-bit lossless (SOF3; higher precisions via
    * [[jpegDecodeLossless]], which keeps the full sample width). Returns
    * None for color frames (use [[jpegDecodeColorPixels]]), for SOF1
    * frames (use [[jpegDecode12]]) and on any structural violation or
    * unsupported feature — malformed bytes never throw from an executor
    * task.
    */
  def jpegDecodePixels(b: Array[Byte]): Option[JpegImage] =
    decode(b).collect {
      case Planes(w, h, Array(gray), _) => JpegImage(w, h, gray)
      case Samples(0xc3, im) if im.precision == 8 =>
        JpegImage(im.width, im.height, im.samples.map(_.toByte))
    }

  // ------------------------------------------------------- lossless (SOF3)

  /** Decoded lossless-process grayscale image: samples keep their full
    * 2..16-bit width (after the inverse point transform's left shift).
    */
  case class JpegImage16(width: Int, height: Int, precision: Int,
      samples: Array[Int])

  // Lossless DC-difference table: categories 0..16 (SSSS 16 = the mod-2^16
  // representative 32768, §H.1.2.2 — no appended bits). The Annex K
  // sequential DC table stops at 11, so lossless encoders always carry a
  // custom DHT; this canonical table is flat 5-bit over all 17 symbols
  // (codes 17..31, including all-ones, stay unassigned as §C.2 requires).
  private val LosslessDc = new Huffman(
    Array(0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0), (0 to 16).toArray)

  /** Predictor (T.81 Table H.1, selectors 1..7) over reconstructed
    * point-transformed neighbours Ra (left), Rb (above), Rc (above-left).
    */
  private def losslessPredict(sel: Int, ra: Int, rb: Int, rc: Int): Int =
    sel match {
      case 1 => ra
      case 2 => rb
      case 3 => rc
      case 4 => ra + rb - rc
      case 5 => ra + ((rb - rc) >> 1)
      case 6 => rb + ((ra - rc) >> 1)
      case 7 => (ra + rb) >> 1
    }

  /** Encode a complete LOSSLESS-process (SOF3, T.81 Annex H) grayscale
    * JPEG: predictor `sel` ∈ 1..7, point transform `pt` (samples are
    * shifted down by pt before coding and back up on decode — the only
    * lossy knob, and exactly replayable), differences taken modulo 2^16
    * (§H.1.2.1) and entropy-coded as DC-style category + EXTEND bits with
    * SSSS 16 carrying the 32768 representative bit-free. The first sample
    * of the scan and of each restart interval is predicted as
    * 2^(P−pt−1); the rest of that raster line uses the 1-D horizontal
    * predictor Ra; later lines start from Rb and otherwise use `sel`
    * (§H.1.2.2). `restartInterval` is in samples (the lossless MCU) and
    * must be 0 or a multiple of w so prediction never reaches across a
    * restart boundary (the encoder refuses other values; the decoder
    * rejects such streams as its documented subset).
    */
  def jpegEncodeLossless(w: Int, h: Int, precision: Int, sel: Int, pt: Int,
      samples: Array[Int], restartInterval: Int = 0): Array[Byte] = {
    require(precision >= 2 && precision <= 16,
      s"jpegEncodeLossless: precision $precision outside 2..16")
    require(sel >= 1 && sel <= 7, s"jpegEncodeLossless: predictor $sel outside 1..7")
    require(pt >= 0 && pt < precision,
      s"jpegEncodeLossless: point transform $pt outside 0..${precision - 1}")
    require(samples.length == w * h,
      s"jpegEncodeLossless: ${samples.length} samples for ${w}x$h")
    val maxV = (1 << precision) - 1
    require(samples.forall(v => v >= 0 && v <= maxV),
      s"jpegEncodeLossless: sample outside 0..$maxV")
    // DHT: one DC-class table carrying the lossless category alphabet.
    // SOF3: one 1×1-sampled component (Tq unused).
    val jw = new JpegWriter().dht(0, 0, LosslessDc).dri(restartInterval)
      .sof(0xc3, precision, w, h, Y)
    // After the SOF, which has checked w > 0.
    require(restartInterval == 0 || restartInterval % w == 0,
      s"jpegEncodeLossless: restart interval $restartInterval not a multiple of line length $w")
    val defaultPred = 1 << (precision - pt - 1)
    val pts = samples.map(_ >>> pt) // point-transformed raster
    // SOS: Ss = predictor selector, Se = 0, Ah = 0, Al = point transform.
    jw.scan(Seq(Y), sel, 0, pt, pts.length) { i =>
      // Linear index where the current restart interval began.
      val segStart = if (restartInterval > 0) i - i % restartInterval else 0
      val x = i % w; val y = i / w
      val pred =
        if (i == segStart) defaultPred
        else if (y == segStart / w) pts(i - 1) // first line of scan/segment: Ra
        else if (x == 0) pts(i - w)            // line start: Rb
        else losslessPredict(sel, pts(i - 1), pts(i - w), pts(i - w - 1))
      val d16 = (pts(i) - pred) & 0xffff // difference modulo 2^16 (§H.1.2.1)
      jw.diff(0, if (d16 >= 0x8000) d16 - 0x10000 else d16)
    }.eoi()
  }

  /** The one scan of a LOSSLESS (SOF3) frame: per-sample Huffman
    * category + EXTEND decode, mod-2^16 predictor reconstruction
    * (§H.1.2.1–2), inverse point transform. Supported subset: 1
    * component, 1×1 sampling, precision 2..16, predictors 1..7 (Ss),
    * Se = 0, Ah = 0, point transform Al < P, AC selector 0, restart
    * intervals that are multiples of the line length (so prediction
    * never crosses a restart boundary — other spec-legal intervals
    * REJECT rather than guess at cross-segment neighbours). A
    * reconstructed sample outside 0..2^(P−pt)−1 is a corrupt stream →
    * null, per the reject-don't-mis-decode policy. Moves `walk.pos` past
    * the entropy-coded data.
    */
  private def decodeLossless(walk: JpegWalker, f: Frame, sc: Scan): Decoded = {
    val w = f.w; val precision = f.precision
    val sel = sc.ss; val pt = sc.al
    if (sc.ta(0) != 0 || sel < 1 || sel > 7 || sc.se != 0 || sc.ah != 0 ||
      pt >= precision) return null
    val dc = walk.dcTabs(sc.td(0))
    val ri = walk.restartInterval
    if (dc == null || (ri > 0 && ri % w != 0)) return null

    val n = w * f.h
    val pts = new Array[Int](n)
    val defaultPred = 1 << (precision - pt - 1)
    val span = precision - pt // reconstructed samples live in 0..2^span−1
    val r = new BitReader(walk.b, walk.pos)
    var segStart = 0
    var i = 0
    while (i < n) {
      if (ri > 0 && i > 0 && i % ri == 0) {
        if (!r.restart(i / ri)) return null
        segStart = i
      }
      val s = huffDecode(r, dc)
      if (s < 0 || s > 16) return null
      val diff =
        if (s == 16) 32768 // §H.1.2.2: SSSS 16 carries no appended bits
        else if (s == 0) 0
        else { val vb = r.bits(s); if (vb < 0) return null; extend(vb, s) }
      val x = i % w; val y = i / w
      val pred =
        if (i == segStart) defaultPred
        else if (y == segStart / w) pts(i - 1)
        else if (x == 0) pts(i - w)
        else losslessPredict(sel, pts(i - 1), pts(i - w), pts(i - w - 1))
      val v = (pred + diff) & 0xffff
      if (span < 16 && v >= (1 << span)) return null // corrupt: out of range
      pts(i) = v
      i += 1
    }
    walk.pos = r.pos
    if (pt > 0) { var j = 0; while (j < n) { pts(j) = pts(j) << pt; j += 1 } }
    Samples(f.sof, JpegImage16(w, f.h, precision, pts))
  }

  /** Public lossless (SOF3) decode keeping the full sample width; None
    * for any other frame type. 8-bit lossless files also decode through
    * [[jpegDecodePixels]].
    */
  def jpegDecodeLossless(b: Array[Byte]): Option[JpegImage16] =
    decode(b).collect { case Samples(0xc3, im) => im }

  // -------------------------------------- 12-bit extended sequential (SOF1)

  // Extended-sequential 12-bit Huffman alphabets (T.81 Table F.1/F.2: DC
  // difference categories 0..15, AC sizes 1..14). Annex K publishes no
  // 12-bit tables — real 12-bit encoders always emit custom DHTs. Flat
  // canonical: 16 DC codes of length 5 (all-ones 31 unassigned per §C.2);
  // 226 AC codes of length 8 (EOB + ZRL + 16 runs × 14 sizes; all-ones
  // 255 unassigned).
  private val Ext12Dc = new Huffman(
    Array(0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0), (0 to 15).toArray)
  private val Ext12Ac = new Huffman(
    Array(0, 0, 0, 0, 0, 0, 0, 226, 0, 0, 0, 0, 0, 0, 0, 0),
    (Seq(0x00, 0xf0) ++
      (for (r <- 0 to 15; s <- 1 to 14) yield (r << 4) | s)).sorted.toArray)

  /** Encode a complete 12-bit EXTENDED-SEQUENTIAL (SOF1, §B.2.2 with
    * P = 12) grayscale JPEG from QUANTIZED coefficient blocks — the
    * medical/scientific precision tier. Same framing contract as
    * [[jpegEncode]], plus: the DQT carries 16-bit values (Pq = 1), the
    * level shift is 2048, and the entropy alphabet widens to DC
    * categories ≤ 15 / AC ≤ 14. Quantization steps may exceed 255.
    */
  def jpegEncode12(w: Int, h: Int, qtabNatural: Array[Int],
      coefBlocks: Array[Array[Int]], restartInterval: Int = 0): Array[Byte] =
    new JpegWriter().dqt(0, qtabNatural, pq = 1).sof(0xc1, 12, w, h, Y)
      .dht(0, 0, Ext12Dc).dht(1, 0, Ext12Ac).dri(restartInterval)
      .sequentialScan(Array(coefBlocks), 15, 14).eoi()

  /** Public extended-sequential (SOF1) decode keeping the full sample
    * width (precision 12, or 8 for a baseline-shaped SOF1 stream); None
    * for any other frame type.
    */
  def jpegDecode12(b: Array[Byte]): Option[JpegImage16] =
    decode(b).collect { case Samples(0xc1, im) => im }

  /** Full YCbCr color JPEG pixel decode → interleaved RGB — baseline
    * (SOF0) or progressive (SOF2). JFIF inverse matrix (R = Y +
    * 1.402·Cr′, G = Y − 0.344136·Cb′ − 0.714136·Cr′, B = Y + 1.772·Cb′)
    * with explicit floor(x + 0.5) rounding and clamp — floor over
    * IEEE-754 doubles with these exact literals and this exact
    * association is replayed bit-identically by the DuckDB oracle
    * (mm9/mm10/mm12), which round-half-to-even could not guarantee.
    * Returns None for grayscale frames (use [[jpegDecodePixels]]) and on
    * any structural violation.
    */
  def jpegDecodeColorPixels(b: Array[Byte]): Option[JpegColorImage] =
    decode(b).collect {
      case Planes(w, h, Array(py, pcb, pcr), _) =>
        val n = w * h
        val rgb = new Array[Byte](n * 3)
        def clamp8(x: Int): Byte = (if (x < 0) 0 else if (x > 255) 255 else x).toByte
        var i = 0
        while (i < n) {
          val y = py(i) & 0xff
          val cbp = (pcb(i) & 0xff) - 128
          val crp = (pcr(i) & 0xff) - 128
          rgb(3 * i) = clamp8(math.floor(y + 1.402 * crp + 0.5).toInt)
          rgb(3 * i + 1) = clamp8(math.floor(y - 0.344136 * cbp - 0.714136 * crp + 0.5).toInt)
          rgb(3 * i + 2) = clamp8(math.floor(y + 1.772 * cbp + 0.5).toInt)
          i += 1
        }
        JpegColorImage(w, h, rgb)
    }

  /** Decoded CMYK image, interleaved ink values (4 bytes per pixel,
    * 0 = no ink) — the Adobe storage inversion already undone.
    */
  case class JpegCmykImage(width: Int, height: Int, cmyk: Array[Byte])

  /** Adobe 4-component CMYK decode (baseline, 1×1 sampling, APP14
    * ColorTransform 0 or 2). Stored samples are inverted ink per the
    * Adobe convention; the output is true ink = 255 − stored. For
    * transform 2 (YCCK — the common Adobe print-scan variant) the
    * inverted CMY channels were additionally run through the FORWARD
    * YCbCr transform at encode time; decode undoes it with the SAME
    * floor(x+0.5) inverse matrix and clamp the color path uses
    * ([[jpegDecodeColorPixels]] — bit-identically replayable by the
    * DuckDB oracle), then re-inverts. K never participates in the
    * transform. Returns None for 1/3-component frames and on any
    * structural violation.
    */
  def jpegDecodeCmykPixels(b: Array[Byte]): Option[JpegCmykImage] =
    decode(b).collect {
      case Planes(w, h, planes, adobeTransform) if planes.length == 4 =>
        val n = w * h
        val out = new Array[Byte](n * 4)
        var i = 0
        if (adobeTransform == 2) {
          val py = planes(0); val pcb = planes(1)
          val pcr = planes(2); val pk = planes(3)
          def clamp8(x: Int): Int = if (x < 0) 0 else if (x > 255) 255 else x
          while (i < n) {
            val y = py(i) & 0xff
            val cbp = (pcb(i) & 0xff) - 128
            val crp = (pcr(i) & 0xff) - 128
            out(4 * i) =
              (255 - clamp8(math.floor(y + 1.402 * crp + 0.5).toInt)).toByte
            out(4 * i + 1) =
              (255 - clamp8(math.floor(y - 0.344136 * cbp - 0.714136 * crp + 0.5).toInt)).toByte
            out(4 * i + 2) =
              (255 - clamp8(math.floor(y + 1.772 * cbp + 0.5).toInt)).toByte
            out(4 * i + 3) = (255 - (pk(i) & 0xff)).toByte
            i += 1
          }
        } else {
          while (i < n) {
            var c = 0
            while (c < 4) {
              out(4 * i + c) = (255 - (planes(c)(i) & 0xff)).toByte
              c += 1
            }
            i += 1
          }
        }
        JpegCmykImage(w, h, out)
    }

}
