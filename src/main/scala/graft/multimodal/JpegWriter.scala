package graft.multimodal

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

/** The write side of the JPEG marker grammar (T.81 Annex B), twin of
  * [[JpegCodec.JpegWalker]] and the only JPEG writer: the six `JpegCodec`
  * encoders, [[MediaCodec.jpegHeader]], [[ExifCodec.jfifApp0]] and
  * [[ExifCodec.exifApp1]] build their bytes here. A writer opens the file
  * with SOI and owns, once each:
  *  - segment framing: 0xFF, the marker, a 2-byte length that counts
  *    itself ([[JpegWriter.seg]]);
  *  - DQT with 8- or 16-bit entries and the step range of each, DHT,
  *    SOFn with the 1..65535 dimension range, DRI with the 0..65535
  *    restart-interval range, and SOS;
  *  - entropy-coded data ([[scan]]): bit packing with 0xFF byte stuffing
  *    and 1-bit padding (§B.1.1.5, §F.1.2.3), and before every
  *    `restartInterval`-th data unit a byte-aligned RSTm, m counting 0..7,
  *    that resets the DC predictors (§E.2.4);
  *  - the sequential coders ([[dc]], [[band]], [[diff]]): DC differences,
  *    run/size AC symbols with ZRL, and end-of-band runs (§F.1.2, §G.1.2.2).
  * Segments go out in the order they are called, since encoders differ:
  * CMYK opens with APP14, lossless writes DHT before SOF3, 12-bit writes
  * DRI after DHT. Like the walker, the writer keeps table state: DHT sets
  * the Huffman tables a scan component's selectors pick, DRI the interval
  * every later scan restarts at, SOF the frame whose MCUs [[mcuScan]]
  * walks.
  */
private[multimodal] final class JpegWriter {
  import JpegWriter._

  private val out = new ByteArrayOutputStream()
  private val dcTabs = new Array[Huffman](4)
  private val acTabs = new Array[Huffman](4)
  private var restartInterval = 0
  private var mcuW = 0; private var mcuH = 0
  private var frame: Seq[Component] = Nil

  // Entropy-coder state of the current scan: the bit accumulator, its
  // components, their DC predictors, and the pending end-of-band run with
  // the AC table it is coded in.
  private var acc = 0; private var nbits = 0
  private var scanComps: Seq[Component] = Nil
  private val pred = new Array[Int](4)
  private var eobRun = 0; private var eobTable: Huffman = _

  out.write(0xff); out.write(0xd8) // SOI

  def segment(marker: Int, payload: Array[Byte]): this.type = {
    out.write(seg(marker, payload)); this
  }

  /** DQT (§B.2.4.1): table `tq`, given in natural order, stored in zigzag
    * order with 8-bit (Pq = 0) or 16-bit (Pq = 1) steps.
    */
  def dqt(tq: Int, natural: Array[Int], pq: Int = 0): this.type = {
    val max = if (pq == 0) 0xff else 0xffff
    require(natural.length == 64 && natural.forall(q => q >= 1 && q <= max),
      s"quantization table $tq needs 64 steps in 1..$max")
    val b = ByteBuffer.allocate(1 + 64 * (pq + 1)).put(((pq << 4) | tq).toByte)
    for (k <- 0 until 64) {
      val q = natural(JpegCodec.ZigZag(k))
      if (pq == 0) b.put(q.toByte) else b.putShort(q.toShort)
    }
    segment(0xdb, b.array())
  }

  /** DHT (§B.2.4.2): table `t` as class `tc` (0 DC, 1 AC), destination `th`. */
  def dht(tc: Int, th: Int, t: Huffman): this.type = {
    (if (tc == 0) dcTabs else acTabs)(th) = t
    segment(0xc4, ((tc << 4) | th).toByte +: (t.bits ++ t.vals).map(_.toByte))
  }

  /** DRI (§B.2.4.4): restart every `ri` data units (MCUs, or samples in a
    * lossless scan); 0 writes no segment and no restarts.
    */
  def dri(ri: Int): this.type = {
    require(ri >= 0 && ri <= 0xffff, s"restart interval $ri outside 0..65535")
    restartInterval = ri
    if (ri == 0) this else segment(0xdd, Array((ri >> 8).toByte, ri.toByte))
  }

  /** SOFn (§B.2.2): the frame's marker, sample precision, dimensions and
    * components.
    */
  def sof(marker: Int, precision: Int, w: Int, h: Int, comps: Component*): this.type = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, s"frame ${w}x$h outside 1..65535")
    val b = ByteBuffer.allocate(6 + 3 * comps.length)
      .put(precision.toByte).putShort(h.toShort).putShort(w.toShort).put(comps.length.toByte)
    comps.foreach(c => b.put(c.id.toByte).put(((c.h << 4) | c.v).toByte).put(c.tq.toByte))
    val hmax = comps.map(_.h).max; val vmax = comps.map(_.v).max
    frame = comps
    mcuW = (w + 8 * hmax - 1) / (8 * hmax)
    mcuH = (h + 8 * vmax - 1) / (8 * vmax)
    segment(marker, b.array())
  }

  /** One scan: SOS (§B.2.3) for `comps` with spectral selection `ss`..`se`
    * and point transform `al` (Ah = 0), then entropy-coded data: `unit(u)`
    * codes data unit u through [[dc]], [[band]] or [[diff]], for u in
    * 0 until `units`, with the restarts of the last [[dri]].
    */
  def scan(comps: Seq[Component], ss: Int, se: Int, al: Int, units: Int)(
      unit: Int => Unit): this.type = {
    val b = ByteBuffer.allocate(4 + 2 * comps.length).put(comps.length.toByte)
    comps.foreach(c => b.put(c.id.toByte).put(((c.td << 4) | c.ta).toByte))
    segment(0xda, b.put(ss.toByte).put(se.toByte).put(al.toByte).array())
    scanComps = comps
    java.util.Arrays.fill(pred, 0)
    var u = 0
    while (u < units) {
      if (restartInterval > 0 && u > 0 && u % restartInterval == 0) {
        flush()
        out.write(0xff); out.write(0xd0 + ((u / restartInterval - 1) & 7))
        java.util.Arrays.fill(pred, 0)
      }
      unit(u)
      u += 1
    }
    flush()
    this
  }

  /** A scan over whole blocks in the frame's MCU order (§A.2.3): per MCU,
    * each scan component's H×V blocks in raster order; `code(i, blk, b)`
    * codes block `b` of scan component `i`. `blocks(i)` holds component
    * i's grid of mcuW·H × mcuH·V blocks, row-major, 64 coefficients
    * each. A single-component scan of a frame whose components are all
    * 1×1 (every progressive frame here) is that component's raster order,
    * as §A.2.2 has it.
    */
  def mcuScan(comps: Seq[Component], blocks: Array[Array[Array[Int]]], ss: Int, se: Int)(
      code: (Int, Array[Int], Int) => Unit): this.type = {
    for ((c, plane) <- comps.zip(blocks)) {
      val n = mcuW * c.h * mcuH * c.v
      require(plane.length == n && plane.forall(_.length == 64),
        s"component ${c.id} needs $n blocks of 64 coefficients, got ${plane.length}")
    }
    scan(comps, ss, se, 0, mcuW * mcuH) { mcu =>
      val mx = mcu % mcuW; val my = mcu / mcuW
      var i = 0
      while (i < comps.length) {
        val c = comps(i)
        var v = 0
        while (v < c.v) {
          var hh = 0
          while (hh < c.h) {
            val b = (my * c.v + v) * mcuW * c.h + mx * c.h + hh
            code(i, blocks(i)(b), b)
            hh += 1
          }
          v += 1
        }
        i += 1
      }
    }
  }

  /** The one scan of a sequential frame (baseline SOF0 or extended SOF1):
    * every frame component over the full spectrum, DC differences capped
    * at category `maxDc` and AC coefficients at `maxAc` — 11 and 10 at
    * 8-bit precision, 15 and 14 at 12-bit (T.81 Tables F.1/F.2).
    */
  def sequentialScan(blocks: Array[Array[Array[Int]]], maxDc: Int, maxAc: Int): this.type =
    mcuScan(frame, blocks, 0, 63) { (i, blk, b) =>
      dc(i, blk(0), maxDc, b)
      band(i, blk, 1, 63, maxAc, b)
      endBands()
    }

  /** Code scan component `i`'s DC value `v` of block `b` as its difference
    * from the component's predictor, which then becomes `v`.
    */
  def dc(i: Int, v: Int, maxCat: Int, b: Int): Unit = {
    val d = v - pred(i)
    require(category(d) <= maxCat, s"DC difference $d in block $b of component " +
      s"${scanComps(i).id} exceeds the process's range (category <= $maxCat)")
    diff(i, d)
    pred(i) = v
  }

  /** Code difference `d` in scan component `i`'s DC table: its category
    * (SSSS), then that many low bits of d, ones' complement when negative
    * (§F.1.2.1). Category 16, lossless's 32768, carries no bits (§H.1.2.2).
    */
  def diff(i: Int, d: Int): Unit = {
    val s = category(d)
    symbol(dcTabs(scanComps(i).td), s)
    if (s > 0 && s < 16) magnitude(d, s)
  }

  /** Code coefficients `ss`..`se` (zigzag order) of block `b` in scan
    * component `i`'s AC table: nonzero ones as run/size symbols with ZRL
    * for each 16 zeros before them (§F.1.2.2). A band with no nonzero
    * coefficient, or the zeros after the last one, joins the end-of-band
    * run (§G.1.2.2), which the scan codes as EOBn once a later band has a
    * nonzero coefficient, at 0x7FFF bands, at a restart or at the scan's
    * end; a sequential block ends its own at once, an EOB.
    */
  def band(i: Int, blk: Array[Int], ss: Int, se: Int, maxCat: Int, b: Int): Unit = {
    val t = acTabs(scanComps(i).ta)
    var last = se
    while (last >= ss && blk(JpegCodec.ZigZag(last)) == 0) last -= 1
    if (last < ss) {
      eobRun += 1; eobTable = t
      if (eobRun == 0x7fff) endBands()
      return
    }
    endBands()
    var run = 0
    var k = ss
    while (k <= last) {
      val v = blk(JpegCodec.ZigZag(k))
      if (v == 0) run += 1
      else {
        while (run > 15) { symbol(t, 0xf0); run -= 16 }
        val s = category(v)
        require(s <= maxCat, s"AC coefficient $v at zigzag $k in block $b of component " +
          s"${scanComps(i).id} exceeds the process's range (category <= $maxCat)")
        symbol(t, (run << 4) | s)
        magnitude(v, s)
        run = 0
      }
      k += 1
    }
    if (last < se) { eobRun = 1; eobTable = t }
  }

  /** Code the pending end-of-band run as EOBn: symbol n << 4 with n =
    * floor(log2(run)), then the run's n low bits.
    */
  private def endBands(): Unit = if (eobRun > 0) {
    val n = 31 - Integer.numberOfLeadingZeros(eobRun)
    symbol(eobTable, n << 4)
    if (n > 0) put(eobRun - (1 << n), n)
    eobRun = 0
  }

  /** The bytes written so far. */
  def bytes: Array[Byte] = out.toByteArray

  /** EOI, then the whole file. */
  def eoi(): Array[Byte] = { out.write(0xff); out.write(0xd9); bytes }

  private def symbol(t: Huffman, s: Int): Unit = put(t.code(s), t.size(s))

  private def magnitude(v: Int, s: Int): Unit = put(if (v < 0) v + (1 << s) - 1 else v, s)

  private def put(code: Int, len: Int): Unit = {
    var i = len - 1
    while (i >= 0) {
      acc = (acc << 1) | ((code >>> i) & 1); nbits += 1
      if (nbits == 8) {
        out.write(acc)
        if (acc == 0xff) out.write(0x00) // byte stuffing
        acc = 0; nbits = 0
      }
      i -= 1
    }
  }

  /** End the pending end-of-band run and pad the last byte with 1-bits. */
  private def flush(): Unit = {
    endBands()
    if (nbits > 0) put(0x7f, 8 - nbits)
  }
}

private[multimodal] object JpegWriter {

  /** A marker segment: 0xFF, `marker`, then a length that counts itself
    * and the payload.
    */
  def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(4 + payload.length)
      .put(0xff.toByte).put(marker.toByte)
      .putShort((payload.length + 2).toShort).put(payload).array()

  /** A frame component (§B.2.2): id, sampling factors H×V and quantization
    * table Tq, with the DC (Td) and AC (Ta) Huffman tables a scan selects
    * for it.
    */
  final case class Component(id: Int, h: Int, v: Int, tq: Int, td: Int, ta: Int)

  /** A Huffman table as DHT carries it — BITS (the number of codes of each
    * length 1..16) and HUFFVAL — with the canonical code and length of
    * each symbol (§C.2: consecutive codes within a length, lengths
    * ascending), assigned once per table.
    */
  final class Huffman(val bits: Array[Int], val vals: Array[Int]) {
    val code = new Array[Int](256)
    val size = new Array[Int](256)
    locally {
      var c = 0; var vi = 0
      for (len <- 1 to 16) {
        for (_ <- 0 until bits(len - 1)) {
          code(vals(vi)) = c; size(vals(vi)) = len
          vi += 1; c += 1
        }
        c <<= 1
      }
    }
  }

  /** Magnitude category (SSSS) of a value: the bit length of |v|. */
  private def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
}
