package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{GifCodec, ImageHeader, JpegCodec, Lzw, MediaCodec, Multimodal, TiffCodec}

/** Multimodal plumbing: container-header codec roundtrips, decode
  * determinism, fingerprint consistency with the SQL md5, resize math
  * bounds, frame-sample bounds.
  */
class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, dir)

  private def media = Multimodal.mediaTable(spark, docs)

  private def features = Multimodal.extractFeatures(media)

  test("PNG header roundtrip: build → parse recovers dimensions, CRC checked") {
    val b = MediaCodec.pngHeader(640, 480) ++ "payload".getBytes("UTF-8")
    assert(MediaCodec.parseImageHeader(b) === Some(ImageHeader(640, 480, 33)))
    // Corrupt one IHDR data byte: the CRC check must reject, not misparse.
    val corrupt = b.clone(); corrupt(17) = (corrupt(17) ^ 0x01).toByte
    assert(MediaCodec.parsePng(corrupt) === None)
    assert(MediaCodec.parsePng(b.take(20)) === None) // truncated
  }

  test("JPEG header roundtrip: segment walk reaches SOF0 past APP0") {
    val b = MediaCodec.jpegHeader(1024, 768) ++ "payload".getBytes("UTF-8")
    assert(MediaCodec.parseImageHeader(b) === Some(ImageHeader(1024, 768, 39)))
    // An extra COM segment before SOF0 must be walked over, shifting the
    // header length by its size.
    val com = Array(0xff, 0xfe, 0x00, 0x06, 'n', 'o', 't', 'e').map(_.toByte)
    val withCom = b.take(20) ++ com ++ b.drop(20) // splice after APP0
    assert(MediaCodec.parseImageHeader(withCom) === Some(ImageHeader(1024, 768, 47)))
    assert(MediaCodec.parseJpeg("plain text".getBytes("UTF-8")) === None)
    // Segment length running past the buffer must fail cleanly.
    assert(MediaCodec.parseJpeg(b.take(6)) === None)
  }

  test("image rows decode their real header dimensions; payload fingerprint excludes it") {
    import spark.implicits._
    val imgs = features.filter(_.media_type == "image").collect()
    assert(imgs.nonEmpty)
    imgs.foreach { f =>
      assert(f.width === (100 + f.doc_id % 900).toInt, s"doc ${f.doc_id}")
      assert(f.height === (100 + f.doc_id * 7 % 900).toInt, s"doc ${f.doc_id}")
      assert(f.duration_ms === 0L)
    }
    // n_bytes includes the container: 33 (PNG) / 39 (JFIF+SOF0).
    val docLens = Tables.documents(spark, dir)
      .select(col("doc_id"), octet_length(encode(col("text"), "utf-8")).as("len"))
      .as[(Long, Int)].collect().toMap
    imgs.foreach { f =>
      val hdr = if (f.doc_id % 6 == 0) 33 else 39
      assert(f.n_bytes === docLens(f.doc_id) + hdr, s"doc ${f.doc_id}")
    }
  }

  test("stub decode is deterministic across evaluations") {
    import spark.implicits._
    val a = features.orderBy("doc_id").collect().toSeq
    val b = features.orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("scala-side fingerprint equals the Catalyst md5 of the text") {
    val joined = features.toDF()
      .join(Tables.documents(spark, dir), Seq("doc_id"))
      .filter(col("fingerprint") =!= md5(col("text")))
    assert(joined.count() === 0)
  }

  test("resizeMeta fits the target box, preserves bounds, never upscales") {
    import spark.implicits._
    val resized = Multimodal.resizeMeta(features, maxW = 128, maxH = 128)
      .collect()
    val orig = features.collect().map(m => m.doc_id -> m).toMap
    resized.foreach { r =>
      val o = orig(r.doc_id)
      assert(r.width <= 128 && r.height <= 128)
      assert(r.width <= o.width && r.height <= o.height)
      assert(r.width > 0 && r.height > 0)
    }
  }

  test("frame samples exist only for videos, 1..3 frames, distinct hashes") {
    import spark.implicits._
    val frames = Multimodal.sampleFrames(features).collect().toSeq
    assert(frames.nonEmpty)
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc.values.forall(f => f.size >= 1 && f.size <= 3))
    assert(byDoc.values.forall(f => f.map(_.frame_hash).distinct.size == f.size))
    val videoIds = features.filter(_.media_type == "video").collect().map(_.doc_id).toSet
    assert(byDoc.keySet.subsetOf(videoIds))
  }

  test("WAV header roundtrip: build → parse recovers PCM params, with and without pad chunk") {
    for (pad <- Seq(false, true)) {
      val payload = Array.fill[Byte](1000)(7)
      val bytes = MediaCodec.wavHeader(44100, 2, 16, payload.length, pad) ++ payload
      val h = MediaCodec.parseWav(bytes).getOrElse(fail(s"parse failed (pad=$pad)"))
      assert(h.sampleRate == 44100 && h.channels == 2 && h.bitsPerSample == 16)
      assert(h.dataBytes == 1000)
      assert(h.headerLen == (if (pad) 56 else 44))
    }
  }

  test("WAV roundtrip property: parse inverts build across the parameter space") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      rate <- Gen.choose(1, 384000)
      ch <- Gen.choose(1, 8)
      bits <- Gen.oneOf(8, 16, 24, 32)
      dataLen <- Gen.choose(0, 512)
      pad <- Gen.oneOf(true, false)
    } yield (rate, ch, bits, dataLen, pad)
    (0 until 300).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))
      .foreach { case (rate, ch, bits, dataLen, pad) =>
        val payload = Array.tabulate[Byte](dataLen)(j => (j % 251).toByte)
        val bytes = MediaCodec.wavHeader(rate, ch, bits, dataLen, pad) ++ payload
        val h = MediaCodec.parseWav(bytes)
          .getOrElse(fail(s"parse failed for ($rate,$ch,$bits,$dataLen,$pad)"))
        assert(h.sampleRate == rate && h.channels == ch &&
          h.bitsPerSample == bits && h.dataBytes == dataLen)
        assert(h.headerLen == (if (pad) 56 else 44))
      }
  }

  test("WAV parse rejects corrupt headers: bad byte-rate, truncation, non-PCM, bad RIFF size") {
    val payload = Array.fill[Byte](100)(3)
    val good = MediaCodec.wavHeader(8000, 1, 16, payload.length) ++ payload
    assert(MediaCodec.parseWav(good).isDefined)
    // Byte-rate field inconsistent with rate·blockAlign (offset 28, LE).
    val badRate = good.clone(); badRate(28) = (badRate(28) + 1).toByte
    assert(MediaCodec.parseWav(badRate).isEmpty)
    // Truncated data chunk (declared 100 bytes, only 50 present).
    assert(MediaCodec.parseWav(good.dropRight(50)).isEmpty)
    // Non-PCM audio format tag (offset 20, LE16 = 1 for PCM).
    val nonPcm = good.clone(); nonPcm(20) = 3
    assert(MediaCodec.parseWav(nonPcm).isEmpty)
    // RIFF size not matching the actual byte count (offset 4, LE32).
    val badSize = good.clone(); badSize(4) = (badSize(4) + 1).toByte
    assert(MediaCodec.parseWav(badSize).isEmpty)
    // Crafted chunk size near Int.MaxValue: int arithmetic would wrap
    // `p + 8 + size` negative and slip past the bounds check (AIOOBE or a
    // truncated data chunk accepted); the long-arith check must reject it.
    val overflow = good.clone()
    val dataSizeOff = 44 - 4 // 'data' chunk size field, LE32 at offset 40
    overflow(dataSizeOff) = 0xf0.toByte; overflow(dataSizeOff + 1) = 0xff.toByte
    overflow(dataSizeOff + 2) = 0xff.toByte; overflow(dataSizeOff + 3) = 0x7f.toByte
    assert(MediaCodec.parseWav(overflow).isEmpty)
  }

  test("PNG codec: encode/decode round-trips every filter type pixel-exactly") {
    val rnd = new scala.util.Random(42)
    for (f <- 0 to 4) {
      val (w, h) = (1 + rnd.nextInt(40), 1 + rnd.nextInt(40))
      val px = Array.fill[Byte](w * h)(rnd.nextInt(256).toByte)
      val bytes = MediaCodec.pngEncode(w, h, px, _ => f)
      val back = MediaCodec.pngDecodePixels(bytes)
        .getOrElse(fail(s"decode failed for filter $f"))
      assert(back.width === w && back.height === h)
      assert(back.pixels.toSeq === px.toSeq, s"filter $f not reconstructed")
    }
    // Mixed filters per row — the mm7 fixture shape.
    val px = Array.tabulate[Byte](37 * 23)(i => (i * 31 % 256).toByte)
    val mixed = MediaCodec.pngEncode(37, 23, px, r => r % 5)
    assert(MediaCodec.pngDecodePixels(mixed).get.pixels.toSeq === px.toSeq)
    // The header-only sniffer agrees with the full decoder on dimensions.
    val hdr = MediaCodec.parseImageHeader(mixed)
    assert(hdr.exists(i => i.width == 37 && i.height == 23))
  }

  test("PNG Adam7 interlaced: round-trips pixel-exactly and agrees with the JDK's ImageIO") {
    val rnd = new scala.util.Random(7)
    // Sizes that exercise EMPTY passes (smaller than one 8×8 tile, single
    // row/column) and non-multiples of the pass grid — the cases where a
    // wrong ceil() in the per-pass dims or a pass-order slip corrupts the
    // scatter.
    for ((w, h) <- Seq((16, 16), (7, 3), (1, 1), (1, 9), (9, 1), (37, 23), (8, 8), (5, 12))) {
      val px = Array.fill[Byte](w * h)(rnd.nextInt(256).toByte)
      val bytes = MediaCodec.pngEncode(w, h, px, r => r % 5, interlaced = true)
      val back = MediaCodec.pngDecodePixels(bytes)
        .getOrElse(fail(s"decode failed for ${w}x$h"))
      assert(back.width === w && back.height === h)
      assert(back.pixels.toSeq === px.toSeq, s"${w}x$h not reconstructed")
      // Interlaced and sequential encodes of the same pixels must decode
      // identically (layout-invariance of the decode surface).
      val seq0 = MediaCodec.pngDecodePixels(MediaCodec.pngEncode(w, h, px, r => r % 5))
      assert(seq0.get.pixels.toSeq === back.pixels.toSeq)
      // Independent codec: the JDK's own ImageIO PNG reader must recover
      // the same pixels from our interlaced bytes.
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected our interlaced ${w}x$h PNG")
      val got = for (y <- 0 until h; x <- 0 until w)
        yield (img.getRaster.getSample(x, y, 0) & 0xff).toByte
      assert(got === px.toSeq, s"ImageIO disagreement at ${w}x$h")
    }
  }

  test("boxDownsample: floor-mean blocks, crops edge remainders, rejects smaller-than-factor") {
    import graft.multimodal.MediaCodec.PngPixels
    // 4×3 by factor 2 → 2×1: the third row is an incomplete block and
    // must be CROPPED, and means floor (395/4 = 98.75 → 98).
    val src = PngPixels(4, 3, Array[Byte](
      10, 20, 30, 40,
      50, 60, 70, 255.toByte,
      1, 2, 3, 4))
    val out = MediaCodec.boxDownsample(src, 2).get
    assert(out.width === 2 && out.height === 1)
    assert(out.pixels.map(_ & 0xff).toSeq === Seq((10 + 20 + 50 + 60) / 4,
      (30 + 40 + 70 + 255) / 4))
    // Factor 1 is the identity.
    assert(MediaCodec.boxDownsample(src, 1).get.pixels.toSeq === src.pixels.toSeq)
    // No complete block in a dimension → None, not a zero-size image.
    assert(MediaCodec.boxDownsample(src, 5).isEmpty)
  }

  test("PNG decode rejects corrupt bytes: CRC damage, truncated IDAT, bad filter, wrong depth") {
    val px = Array.tabulate[Byte](16 * 16)(i => i.toByte)
    val good = MediaCodec.pngEncode(16, 16, px, r => r % 5)
    assert(MediaCodec.pngDecodePixels(good).isDefined)
    // Flip a byte inside the IDAT payload → chunk CRC must catch it.
    val crcBad = good.clone(); crcBad(good.length - 20) = (crcBad(good.length - 20) ^ 0x7f).toByte
    assert(MediaCodec.pngDecodePixels(crcBad).isEmpty)
    // Truncation (no IEND / missing bytes).
    assert(MediaCodec.pngDecodePixels(good.dropRight(16)).isEmpty)
    // RGBA color type (the 33-byte header fixture): full decode must
    // refuse what it does not implement, never mis-decode.
    assert(MediaCodec.pngDecodePixels(
      MediaCodec.pngHeader(5, 5) ++ Array.fill[Byte](40)(1)).isEmpty)
    // Crafted CRC-valid IHDR with overflow dimensions (46341² wraps
    // (w+1)*h negative in Int): must return None, not throw or allocate.
    def ihdrTamper(wBig: Int, hBig: Int): Array[Byte] = {
      val d = good.clone()
      val bb = java.nio.ByteBuffer.wrap(d)
      bb.putInt(16, wBig); bb.putInt(20, hBig)
      val crc = new java.util.zip.CRC32(); crc.update(d, 12, 17)
      bb.putInt(29, crc.getValue.toInt)
      d
    }
    assert(MediaCodec.pngDecodePixels(ihdrTamper(46341, 46341)).isEmpty)
    assert(MediaCodec.pngDecodePixels(ihdrTamper(0x7fffffff, 2)).isEmpty)
    // Nonzero IHDR compression/filter METHOD fields (spec-invalid): must
    // reject, never run the method-0 reconstruction over garbage.
    val badMethod = good.clone(); badMethod(27) = 1 // IHDR filter-method byte
    val crcBM = new java.util.zip.CRC32(); crcBM.update(badMethod, 12, 17)
    java.nio.ByteBuffer.wrap(badMethod).putInt(29, crcBM.getValue.toInt)
    assert(MediaCodec.pngDecodePixels(badMethod).isEmpty)
    // zlib FDICT flag in the IDAT stream (valid zlib, never valid PNG):
    // must return None, not spin forever waiting for a dictionary.
    val idatStart = 8 + 25 // after signature + IHDR chunk
    assert((good(idatStart + 4) & 0xff) == 'I'.toInt)
    val fdict = good.clone()
    fdict(idatStart + 8) = 0x78.toByte; fdict(idatStart + 9) = 0xbb.toByte
    val len = java.nio.ByteBuffer.wrap(fdict).getInt(idatStart)
    val crcFd = new java.util.zip.CRC32(); crcFd.update(fdict, idatStart + 4, 4 + len)
    java.nio.ByteBuffer.wrap(fdict).putInt(idatStart + 8 + len, crcFd.getValue.toInt)
    assert(MediaCodec.pngDecodePixels(fdict).isEmpty)
  }

  test("pcmMonoMix: 8-bit unsigned centering, 24-bit sign extension, floor-mean stereo downmix, partial trailing frame ignored") {
    import graft.multimodal.WavHeader
    // 24-bit stereo: two frames, hand-built little-endian triplets.
    //   frame 0: L = -1 (ff ff ff), R = 2 (02 00 00) → floor(1/2) = 0
    //   frame 1: L = -5, R = 2 → floor(-3/2) = -2 (floor, NOT trunc -1)
    val s24 = Array[Byte](
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0x02, 0x00, 0x00,
      0xfb.toByte, 0xff.toByte, 0xff.toByte, 0x02, 0x00, 0x00)
    val wav24 = MediaCodec.wavHeader(8000, 2, 24, s24.length) ++ s24
    val h24 = MediaCodec.parseWav(wav24).get
    assert(MediaCodec.pcmMonoMix(wav24, h24).get.toSeq === Seq(0, -2))
    // 8-bit mono is stored UNSIGNED: byte 0x00 → -128, 0x80 → 0, 0xff → 127.
    val s8 = Array[Byte](0x00, 0x80.toByte, 0xff.toByte)
    val wav8 = MediaCodec.wavHeader(8000, 1, 8, 3) ++ s8
    assert(MediaCodec.pcmMonoMix(wav8, MediaCodec.parseWav(wav8).get).get.toSeq
      === Seq(-128, 0, 127))
    // Partial trailing frame (7 bytes of 16-bit stereo = 1 full frame + 3
    // bytes): the incomplete frame must be ignored, not mis-read.
    val s16 = Array[Byte](0x01, 0x00, 0x02, 0x00, 0x03, 0x00, 0x04)
    val wav16 = MediaCodec.wavHeader(8000, 2, 16, 7) ++ s16
    assert(MediaCodec.pcmMonoMix(wav16, MediaCodec.parseWav(wav16).get).get.toSeq
      === Seq(1)) // floor((1+2)/2)
    // Unimplemented (tag, width) combos reject: PCM-32 (tag 1)…
    assert(MediaCodec.pcmMonoMix(wav16,
      WavHeader(8000, 1, 32, 4, wav16.length - 7)).isEmpty)
    // …and float at a non-32 width (never produced by parseWav, but the
    // mixer must not trust its caller).
    assert(MediaCodec.pcmMonoMix(wav16,
      WavHeader(8000, 1, 16, 4, wav16.length - 7, formatTag = 3)).isEmpty)
  }

  test("pcmMonoMix float32 (fmt tag 3): floor quantization, exact m/32768 recovery, 3ch downmix, NaN clamp") {
    import graft.multimodal.WavHeader
    def floatLe(f: Float): Array[Byte] = {
      val i = java.lang.Float.floatToIntBits(f)
      Array((i & 0xff).toByte, ((i >> 8) & 0xff).toByte,
        ((i >> 16) & 0xff).toByte, ((i >> 24) & 0xff).toByte)
    }
    // m/32768 recovers m exactly; floor (not round): -0.4 quantizes to
    // floor(-0.4·32768) = -13108 (truncation would give -13107).
    val s = Array(100 / 32768.0f, -5 / 32768.0f, -0.4f, 1.5f, -2.0f,
      Float.NaN).flatMap(floatLe)
    val wav = MediaCodec.wavHeader(8000, 1, 32, s.length, formatTag = 3) ++ s
    val h = MediaCodec.parseWav(wav).get
    assert(h.formatTag === 3 && h.bitsPerSample === 32)
    assert(MediaCodec.pcmMonoMix(wav, h).get.toSeq ===
      Seq(100, -5, -13108, 32767, -32768, 0))
    // 3-channel float frame: floor-mean of the quantized values.
    //   frame: (1/32768, 2/32768, -5/32768) → floor((1+2-5)/3) = -1
    val s3 = Array(1 / 32768.0f, 2 / 32768.0f, -5 / 32768.0f).flatMap(floatLe)
    val wav3 = MediaCodec.wavHeader(8000, 3, 32, s3.length, formatTag = 3) ++ s3
    assert(MediaCodec.pcmMonoMix(wav3, MediaCodec.parseWav(wav3).get).get.toSeq
      === Seq(-1))
    // Truncated-chunk fuzz: every prefix of the file either parses to a
    // consistent (possibly shorter) stream or rejects — never throws.
    for (len <- 0 until wav3.length) {
      val cut = wav3.take(len)
      MediaCodec.parseWav(cut).foreach { hh =>
        MediaCodec.pcmMonoMix(cut, hh) // must not throw
      }
    }
    // Float64 (tag 3, bits 64): same quantization rule over 8-byte LE
    // doubles — m/32768 recovers m; floor pins against truncation.
    def f64Le(d: Double): Array[Byte] = {
      val l = java.lang.Double.doubleToLongBits(d)
      Array.tabulate[Byte](8)(j => ((l >> (8 * j)) & 0xff).toByte)
    }
    val s64 = Array(7.0 / 32768, -11.0 / 32768, -0.4).flatMap(f64Le)
    val wav64 = MediaCodec.wavHeader(8000, 1, 64, s64.length, formatTag = 3) ++ s64
    assert(MediaCodec.pcmMonoMix(wav64, MediaCodec.parseWav(wav64).get).get.toSeq
      === Seq(7, -11, -13108))
    // Unknown tags and float at non-spec widths reject at parse.
    val f16 = MediaCodec.wavHeader(8000, 1, 32, 8, formatTag = 3) ++ s.take(8)
    f16(34) = 16 // shrink bits in place: fmt bits field at offset 34
    assert(MediaCodec.parseWav(f16).isEmpty)
    val adpcm = MediaCodec.wavHeader(8000, 1, 16, 4) ++ s.take(4)
    adpcm(20) = 2 // fmt tag field at offset 20
    assert(MediaCodec.parseWav(adpcm).isEmpty)
  }

  test("PCM sample decode: hand-computed stats on a crafted stream; odd trailing byte ignored") {
    val samples = Seq[Short](0, 100, -100, 32767, -32768, 0)
    val data = samples.flatMap(s =>
      Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
    val bytes = MediaCodec.wavHeader(8000, 1, 16, data.length) ++ data
    val st = MediaCodec.pcmStats(bytes, MediaCodec.parseWav(bytes).get).get
    assert(st.nSamples === 6L)
    assert(st.sumAbs === 100L + 100 + 32767 + 32768)
    assert(st.sumSq === 100L * 100 + 100L * 100 + 32767L * 32767 + 32768L * 32768)
    assert(st.peakAbs === 32768)
    // sign flags +,+,-,+,-,+ → four sign changes.
    assert(st.zeroCrossings === 4L)
    val odd = MediaCodec.wavHeader(8000, 1, 16, data.length + 1) ++
      data ++ Array(7.toByte)
    assert(MediaCodec.pcmStats(odd, MediaCodec.parseWav(odd).get).get.nSamples === 6L)
  }

  test("mm19 frame-energy census: voiced gate, longest run, partial tail dropped") {
    import spark.implicits._
    // 5 full frames: loud, loud, quiet, loud, quiet — plus a 10-sample
    // partial tail that must NOT be scored.
    val loud = Array.fill[Short](Multimodal.AudioFrameLen)(26000)   // 64·26000² ≈ 4.33e10 ≥ gate
    val quiet = Array.fill[Short](Multimodal.AudioFrameLen)(20000)  // 64·20000² ≈ 2.56e10 < gate
    val tail = Array.fill[Short](10)(30000)
    val samples = loud ++ loud ++ quiet ++ loud ++ quiet ++ tail
    val data = samples.flatMap(s =>
      Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
    val bytes = MediaCodec.wavHeader(8000, 1, 16, data.length) ++ data
    val media = Seq(Multimodal.MediaRow(7L, "audio", bytes)).toDS()
    val st = Multimodal.audioFrameStats(media).collect()
    assert(st.length === 1)
    val loudE = Multimodal.AudioFrameLen.toLong * 26000L * 26000L
    assert(st(0).n_frames === 5L)
    assert(st(0).n_voiced === 3L)
    assert(st(0).longest_voiced_run === 2L)
    assert(st(0).voiced_energy === 3L * loudE)
    assert(st(0).max_frame_energy === loudE)
  }

  // ---- mm8: baseline JPEG codec --------------------------------------

  /** The mm8 fixture in test form: coefficient blocks + the exact pixel
    * image they must decode to (v ± m checkerboard on the (4,4) basis).
    */
  private def jpegFixture(id: Long): (Int, Int, Array[Array[Int]], Array[Byte], Array[Int]) = {
    val k = id / 3
    val w = (16 + 8 * (k % 3)).toInt
    val h = (16 + 8 * ((k * 5) % 3)).toInt
    val nb = (w / 8) * (h / 8)
    val q = Array.fill(64)(16); q(0) = 8; q(36) = 8
    val blocks = Array.tabulate(nb) { b =>
      val c = new Array[Int](64)
      c(0) = (28 + (id + 11L * b) % 200).toInt - 128
      c(36) = ((id + b) % 8).toInt
      c
    }
    val bytes = JpegCodec.jpegEncode(w, h, q, blocks,
      restartInterval = if (k % 4 == 1) 2 else 0)
    val s = Array(1, -1, -1, 1, 1, -1, -1, 1)
    val exp = new Array[Int](w * h)
    val bw = w / 8
    for (b <- blocks.indices; y <- 0 until 8; x <- 0 until 8) {
      val v = blocks(b)(0) + 128; val m = blocks(b)(36)
      exp(((b / bw) * 8 + y) * w + (b % bw) * 8 + x) = v + m * s(x) * s(y)
    }
    (w, h, blocks, bytes, exp)
  }

  test("JPEG codec: fixture encode/decode is pixel-EXACT incl. restart markers") {
    // Generated zigzag table sanity: natural (4,4)=36 sits at scan position
    // 39, so the fixture's AC path decodes two ZRL codes before it.
    assert(JpegCodec.ZigZag(39) === 36)
    assert(JpegCodec.ZigZag.sorted.toSeq === (0 until 64))
    for (id <- Seq(3L, 9L, 15L, 21L, 27L, 33L, 39L, 45L, 51L, 57L, 63L, 75L)) {
      val (w, h, _, bytes, exp) = jpegFixture(id)
      val img = JpegCodec.jpegDecodePixels(bytes)
        .getOrElse(fail(s"id=$id decode failed"))
      assert(img.width === w && img.height === h)
      val got = img.pixels.map(_ & 0xff)
      assert(got.toSeq === exp.toSeq, s"id=$id pixels differ")
      // The header-only sniffer agrees on dimensions.
      assert(MediaCodec.parseJpeg(bytes).exists(i => i.width == w && i.height == h))
    }
  }

  test("JPEG interop: the JDK's independent ImageIO codec decodes our files (±1)") {
    // If our encoder were wrong about zigzag order, canonical Huffman
    // assignment, byte stuffing, or restart framing in a way our own
    // decoder mirrored, this cross-codec check would fail.
    for (id <- Seq(3L, 9L, 21L, 33L, 45L)) {
      val (w, h, _, bytes, exp) = jpegFixture(id)
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(bi != null, s"id=$id: ImageIO rejected our bitstream")
      assert(bi.getWidth === w && bi.getHeight === h)
      val ras = bi.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        val d = math.abs(ras.getSample(x, y, 0) - exp(y * w + x))
        assert(d <= 1, s"id=$id ImageIO pixel ($x,$y) off by $d")
      }
    }
  }

  test("JPEG interop: our decoder reads an ImageIO-written grayscale JPEG (±2)") {
    val (w, h) = (40, 24) // non-multiple-of-8 width: exercises edge cropping
    val src = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = src.getRaster
    for (y <- 0 until h; x <- 0 until w) r.setSample(x, y, 0, (x * 5 + y * 3) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "jpg", bos))
    val img = JpegCodec.jpegDecodePixels(bos.toByteArray)
      .getOrElse(fail("our decoder rejected an ImageIO baseline file"))
    assert(img.width === w && img.height === h)
    // Compare against ImageIO's own decode of the same lossy file: the two
    // IDCTs may round ±1 apart, never more.
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    for (y <- 0 until h; x <- 0 until w) {
      val d = math.abs((img.pixels(y * w + x) & 0xff) - back.getRaster.getSample(x, y, 0))
      assert(d <= 2, s"pixel ($x,$y) differs from ImageIO by $d")
    }
  }

  test("JPEG decode rejects malformed bytes: truncation, missing tables, progressive, color, bad restarts, oversize dims") {
    val (_, _, _, good, _) = jpegFixture(9L)
    assert(JpegCodec.jpegDecodePixels(good).isDefined)
    // Truncation into the entropy-coded data → exhaustion, None.
    assert(JpegCodec.jpegDecodePixels(good.dropRight(good.length / 3)).isEmpty)
    // EOI alone / garbage.
    assert(JpegCodec.jpegDecodePixels(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xd9.toByte)).isEmpty)
    assert(JpegCodec.jpegDecodePixels("not a jpeg".getBytes("UTF-8")).isEmpty)
    // Strip both DHT segments → undecodable scan, None (never NPE).
    def dropSeg(b: Array[Byte], marker: Int): Array[Byte] = {
      var p = 2
      val out = new java.io.ByteArrayOutputStream()
      out.write(b(0)); out.write(b(1))
      while (p + 4 <= b.length && (b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) != 0xda) {
        val len = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if ((b(p + 1) & 0xff) != marker) out.write(b, p, 2 + len)
        p += 2 + len
      }
      out.write(b, p, b.length - p)
      out.toByteArray
    }
    assert(JpegCodec.jpegDecodePixels(dropSeg(good, 0xc4)).isEmpty)
    assert(JpegCodec.jpegDecodePixels(dropSeg(good, 0xdb)).isEmpty) // no DQT
    // Progressive SOF2: explicit unsupported-feature reject.
    val prog = good.clone()
    val sofAt = (2 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(JpegCodec.jpegDecodePixels(prog).isEmpty)
    // 3-component SOF (the header-only mediaTable fixture): grayscale
    // subset must reject, never mis-decode.
    assert(JpegCodec.jpegDecodePixels(
      MediaCodec.jpegHeader(64, 64) ++ Array.fill[Byte](200)(0x55)).isEmpty)
    // Oversize declared dimensions: allocation cap, None before any work.
    val big = good.clone()
    big(sofAt + 5) = 0xff.toByte; big(sofAt + 6) = 0xff.toByte // Y = 65535
    big(sofAt + 7) = 0xff.toByte; big(sofAt + 8) = 0xff.toByte // X = 65535
    assert(JpegCodec.jpegDecodePixels(big).isEmpty)
    // Out-of-sequence restart marker (fixture id with k%4==1 carries RSTn:
    // id=9 → k=3 no; id=3 → k=1 yes).
    val (_, _, _, rstFile, _) = jpegFixture(3L)
    assert(JpegCodec.jpegDecodePixels(rstFile).isDefined)
    val rstAt = (2 until rstFile.length - 1).find(i =>
      (rstFile(i) & 0xff) == 0xff &&
        (rstFile(i + 1) & 0xff) >= 0xd0 && (rstFile(i + 1) & 0xff) <= 0xd7).get
    val badRst = rstFile.clone()
    badRst(rstAt + 1) = (0xd0 + (((badRst(rstAt + 1) & 0x0f) + 1) % 8)).toByte
    assert(JpegCodec.jpegDecodePixels(badRst).isEmpty)
    // Trailing bytes after EOI: structural violation (mirrors PNG's
    // terminal-IEND rule), not ignorable slack.
    assert(JpegCodec.jpegDecodePixels(good ++ Array[Byte](0, 1, 2)).isEmpty)
    // Surplus entropy-like bytes spliced before EOI: the scan decodes its
    // nMcu blocks, then the EOI-terminal check must reject the excess.
    val surplus = good.dropRight(2) ++ Array[Byte](0x55, 0x55) ++ good.takeRight(2)
    assert(JpegCodec.jpegDecodePixels(surplus).isEmpty)
    // Optional 0xFF fill bytes before a marker (§B.1.1.2) are legal and
    // must be skipped, not misread as a marker code.
    val filled = good.take(2) ++ Array(0xff.toByte) ++ good.drop(2)
    assert(JpegCodec.jpegDecodePixels(filled).isDefined)
  }

  test("JPEG marker grammar: the header sniffers read fill bytes too; each decoder takes only its own process") {
    // Fill bytes before a marker code (§B.1.1.2): the file the pixel
    // decoder reads, both header sniffers must read to the same frame.
    val (w, h, _, good, _) = jpegFixture(9L)
    val filled = good.take(2) ++ Array(0xff.toByte) ++ good.drop(2)
    assert(JpegCodec.jpegDecodePixels(filled).map(i => (i.width, i.height)) === Some((w, h)))
    assert(MediaCodec.parseImageHeader(filled).map(i => (i.width, i.height)) === Some((w, h)))
    assert(graft.multimodal.ExifCodec.parseJpegMeta(filled)
      .map(m => (m.width, m.height)) === Some((w, h)))
    // Decoder × coding process: each fixture is accepted by exactly the
    // decoders named for it and rejected (None) by every other one.
    val decoders = Seq[(String, Array[Byte] => Option[Any])](
      "gray" -> JpegCodec.jpegDecodePixels, "color" -> JpegCodec.jpegDecodeColorPixels,
      "cmyk" -> JpegCodec.jpegDecodeCmykPixels, "12-bit" -> JpegCodec.jpegDecode12,
      "lossless" -> JpegCodec.jpegDecodeLossless)
    val q = Array.fill(64)(16); q(0) = 8
    val dc = Array.tabulate(4) { b => val c = new Array[Int](64); c(0) = 10 * b; c }
    val cases = Seq(
      ("SOF0 gray", good, Set("gray")),
      ("SOF0 color", colorJpegFixture(5L)._3, Set("color")),
      ("SOF0 CMYK", JpegCodec.jpegEncodeCmyk(16, 16, q, Array.fill(4)(dc)), Set("cmyk")),
      ("SOF1 12-bit", JpegCodec.jpegEncode12(16, 16, q, dc), Set("12-bit")),
      ("SOF2 gray", progressiveGrayFixture(4L)._3, Set("gray")),
      ("SOF2 color", progressiveColorFixture(4L)._3, Set("color")),
      ("SOF3 8-bit", JpegCodec.jpegEncodeLossless(6, 4, 8, 1, 0,
        Array.tabulate(24)(i => i * 9)), Set("gray", "lossless")),
      ("SOF3 12-bit", JpegCodec.jpegEncodeLossless(6, 4, 12, 1, 0,
        Array.tabulate(24)(i => i * 150)), Set("lossless")))
    for ((name, bytes, accepts) <- cases; (dec, decode) <- decoders)
      assert(decode(bytes).isDefined === accepts(dec), s"$dec decoder on $name")
  }

  test("decoder fuzz: random bytes and random mutations of valid files never throw") {
    // The executor-task contract for every decoder: malformed input is
    // None (or a parse miss), NEVER an exception. Random byte blobs plus
    // random single-byte mutations / truncations of VALID files — the
    // mutations that defeat magic-number checks and land deep inside the
    // parsers.
    val rnd = new scala.util.Random(20260814L)
    val pngGood = MediaCodec.pngEncode(24, 16,
      Array.tabulate[Byte](24 * 16)(i => (i * 13 % 256).toByte), r => r % 5)
    // Adam7: mutations land in the per-pass dims/offset bookkeeping.
    val pngInterlacedGood = MediaCodec.pngEncode(24, 16,
      Array.tabulate[Byte](24 * 16)(i => (i * 13 % 256).toByte), r => r % 5,
      interlaced = true)
    val (_, _, _, jpgGood, _) = jpegFixture(21L)
    // Color, 4:2:0 and progressive (gray + color) variants: mutations land
    // in the multi-component SOF/SOS headers, interleave bookkeeping, and
    // the multi-scan walk with its EOB-run and refinement decoders.
    val (_, _, colorGood, _) = colorJpegFixture(11L)
    val (_, _, j420Good, _) = jpeg420Fixture(7L)
    val (_, _, progGood, _) = progressiveGrayFixture(10L)
    val (_, _, progColorGood, _) = progressiveColorFixture(10L)
    // Lossless (SOF3): mutations land in the predictor chain, the SSSS-16
    // path and the restart bookkeeping.
    val losslessGood = JpegCodec.jpegEncodeLossless(9, 6, 8, 5, 1,
      Array.tabulate(54)(i => (i * 29) % 256), restartInterval = 18)
    // 12-bit extended (SOF1): mutations land in the Pq=1 table parse and
    // the widened-category decode.
    val ext12Good = {
      val q = Array.fill(64)(16); q(0) = 8; q(36) = 264
      JpegCodec.jpegEncode12(16, 16, q,
        Array.tabulate(4)(b => { val c = new Array[Int](64); c(0) = 100 * b - 150; c(36) = b; c }),
        restartInterval = 2)
    }
    // TIFF: mutations land in the offset-based IFD walk, strip assembly,
    // PackBits control bytes, and LZW code/width machinery.
    val tiffGood = graft.multimodal.TiffCodec.tiffEncode(12, 10,
      Array.tabulate[Byte](120)(i => (i * 17 % 256).toByte),
      littleEndian = false, rowsPerStrip = 3, compression = 32773, photometric = 0)
    val tiffLzwGood = graft.multimodal.TiffCodec.tiffEncode(12, 10,
      Array.tabulate[Byte](120)(i => (i * 17 % 256).toByte),
      littleEndian = true, rowsPerStrip = 4, compression = 5, photometric = 1,
      predictor = 2)
    val wavGood = MediaCodec.wavHeader(16000, 2, 16, 64) ++
      Array.tabulate[Byte](64)(i => (i * 7).toByte)
    // 24-bit stereo WAV: mutations land in the width dispatch, the
    // 3-byte frame stride and the downmix loop's bounds arithmetic.
    val wav24Good = MediaCodec.wavHeader(16000, 2, 24, 60) ++
      Array.tabulate[Byte](60)(i => (i * 11).toByte)
    // MJPEG AVI: mutations land in the RIFF list walk, the avih/strh/strf
    // field checks, and the per-frame JPEG decode.
    val (_, _, _, aviGood) = aviFixture(17L, nF = 2)
    // EXIF-tagged JPEG: mutations land in the APP0/APP1 walk and the
    // endian-dispatched TIFF IFD parse.
    val exifGood = jpgGood.take(2) ++
      graft.multimodal.ExifCodec.jfifApp0(1, 96, 96) ++
      graft.multimodal.ExifCodec.exifApp1("CAM1", "MOD2", 3,
        "2026:08:14 00:00:00", littleEndian = false) ++
      jpgGood.drop(2)
    def decodeAll(b: Array[Byte]): Unit = {
      MediaCodec.pngDecodePixels(b)
      JpegCodec.jpegDecodePixels(b)
      JpegCodec.jpegDecodeColorPixels(b)
      JpegCodec.jpegDecodeLossless(b)
      JpegCodec.jpegDecode12(b)
      graft.multimodal.TiffCodec.tiffDecodePixels(b)
      MediaCodec.parseImageHeader(b)
      MediaCodec.parseWav(b).foreach { h =>
        MediaCodec.pcmStats(b, h)
        MediaCodec.pcmMonoMix(b, h)
      }
      MediaCodec.aviDecodeMjpegFrames(b)
      graft.multimodal.ExifCodec.parseJpegMeta(b)
      GifCodec.gifDecodeFrames(b)
    }
    // Animated GIF: mutations land in the block walk, LZW width machine,
    // interlace reorder and palette bounds checks.
    val gifGood = GifCodec.gifEncode(16, 16, gifPalette, Seq(
      GifCodec.GifFrame(0, 0, 16, 16,
        Array.tabulate[Byte](256)(i => (i * 31 % 256).toByte), interlace = true),
      GifCodec.GifFrame(4, 4, 8, 8, Array.fill[Byte](64)(5))))
    for (_ <- 0 until 200) decodeAll(Array.fill[Byte](rnd.nextInt(300))(rnd.nextInt(256).toByte))
    for (base <- Seq(pngGood, pngInterlacedGood, jpgGood, colorGood, j420Good, progGood,
        progColorGood, losslessGood, ext12Good, tiffGood, tiffLzwGood,
        wavGood, wav24Good, aviGood, exifGood, gifGood);
        _ <- 0 until 300) {
      val mut = base.clone()
      rnd.nextInt(3) match {
        case 0 => // single-byte corruption
          mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
          decodeAll(mut)
        case 1 => decodeAll(mut.take(rnd.nextInt(mut.length))) // truncate
        case 2 => // corrupt + truncate
          mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
          decodeAll(mut.take(1 + rnd.nextInt(mut.length)))
      }
    }
  }

  test("PNG decode strictness: duplicate IHDR, trailing chunks after IEND, surplus IDAT, IDAT-before-IHDR") {
    val px = Array.tabulate[Byte](16 * 16)(i => i.toByte)
    val good = MediaCodec.pngEncode(16, 16, px, r => r % 5)
    assert(MediaCodec.pngDecodePixels(good).isDefined)
    // Trailing garbage after IEND — structurally malformed, not slack.
    assert(MediaCodec.pngDecodePixels(good ++ Array[Byte](0, 0, 0, 0)).isEmpty)
    // A duplicate (CRC-valid) IHDR chunk spliced after the first.
    val ihdrChunk = good.slice(8, 8 + 25)
    val dupIhdr = good.take(33) ++ ihdrChunk ++ good.drop(33)
    assert(MediaCodec.pngDecodePixels(dupIhdr).isEmpty)
    // IDAT before IHDR: reorder the chunks (signature + IDAT.. + IHDR + IEND).
    val idatStart = 33
    val idatLen = java.nio.ByteBuffer.wrap(good).getInt(idatStart) + 12
    val reordered = good.take(8) ++
      good.slice(idatStart, idatStart + idatLen) ++ ihdrChunk ++
      good.drop(idatStart + idatLen)
    assert(MediaCodec.pngDecodePixels(reordered).isEmpty)
    // Surplus compressed data: declare ONE ROW LESS in a CRC-fixed IHDR.
    // The zlib stream then encodes more scanlines than (w+1)·h — the
    // decoder must reject the excess, not silently truncate.
    val shrunk = good.clone()
    val bb = java.nio.ByteBuffer.wrap(shrunk)
    bb.putInt(20, 15) // height 16 → 15
    val crc = new java.util.zip.CRC32(); crc.update(shrunk, 12, 17)
    bb.putInt(29, crc.getValue.toInt)
    assert(MediaCodec.pngDecodePixels(shrunk).isEmpty)
    // Nonzero-length IEND.
    val fatIend = good.dropRight(12) ++ {
      val td = "IEND".getBytes("US-ASCII") ++ Array[Byte](7)
      val c = new java.util.zip.CRC32(); c.update(td)
      java.nio.ByteBuffer.allocate(13).putInt(1).put(td)
        .putInt(c.getValue.toInt).array()
    }
    assert(MediaCodec.pngDecodePixels(fatIend).isEmpty)
  }

  test("mm8 end-to-end: jpegPixelStats over realJpegTable matches the per-block formulas") {
    import spark.implicits._
    val stats = Multimodal.jpegPixelStats(
      Multimodal.realJpegTable(spark, docs)).collect()
    assert(stats.nonEmpty)
    val ids = docs.select($"doc_id").as[Long].collect()
      .filter(_ % 6 == 3).toSet
    assert(stats.map(_.doc_id).toSet === ids, "every fixture row must decode")
    stats.foreach { st =>
      val id = st.doc_id; val k = id / 3
      val w = 16 + 8 * (k % 3); val h = 16 + 8 * ((k * 5) % 3)
      val nb = ((w / 8) * (h / 8)).toInt
      val vs = (0 until nb).map(b => (28 + (id + 11L * b) % 200).toInt)
      val ms = (0 until nb).map(b => ((id + b) % 8).toInt)
      assert(st.n_pixels === w * h)
      assert(st.sum_lum === vs.map(64L * _).sum, s"id=$id")
      assert(st.sum_sq === (vs, ms).zipped.map((v, m) => 64L * v * v + 64L * m * m).sum, s"id=$id")
      assert(st.min_lum === (vs, ms).zipped.map(_ - _).min, s"id=$id")
      assert(st.max_lum === (vs, ms).zipped.map(_ + _).max, s"id=$id")
    }
  }

  test("audio rows decode real WAV params; fingerprint excludes the container") {
    import spark.implicits._
    val audio = Multimodal.audioMeta(media).collect()
    assert(audio.nonEmpty)
    audio.foreach { a =>
      assert(a.doc_id % 3 == 1)
      assert(a.sample_rate == 8000 + (a.doc_id % 8) * 1000)
      assert(a.channels == 1 + a.doc_id % 2)
      assert(a.bits_per_sample == 16)
      assert(a.duration_ms ==
        a.data_bytes * 1000 / (a.sample_rate.toLong * a.channels * 2))
    }
    // Two containers over the same payload dedup together: the features
    // fingerprint of an audio row equals md5(text), header excluded.
    val fps = features.filter(_.media_type == "audio")
      .select($"doc_id", $"fingerprint").as[(Long, String)].collect().toMap
    val expect = docs.select($"doc_id", md5($"text")).as[(Long, String)]
      .filter($"doc_id" % 3 === 1).collect().toMap
    fps.foreach { case (id, fp) => assert(fp == expect(id), s"doc $id") }
  }

  // ---- mm9/mm10: color baseline JPEG codec ---------------------------

  /** The decoder's exact RGB transform (JFIF matrix, floor(x+0.5)) — the
    * same doubles/literals/association the mm9/mm10 oracles replay in SQL.
    */
  private def rgbOf(y: Int, cbp: Int, crp: Int): (Int, Int, Int) = (
    math.floor(y + 1.402 * crp + 0.5).toInt,
    math.floor(y - 0.344136 * cbp - 0.714136 * crp + 0.5).toInt,
    math.floor(y + 1.772 * cbp + 0.5).toInt)

  /** The mm9 fixture in test form: 4:4:4 color file + exact expected RGB. */
  private def colorJpegFixture(id: Long): (Int, Int, Array[Byte], Array[Int]) = {
    val k = id / 6
    val w = (16 + 8 * (k % 3)).toInt
    val h = (16 + 8 * ((k * 5) % 3)).toInt
    val nb = (w / 8) * (h / 8)
    val qY = Array.fill(64)(16); qY(0) = 8; qY(36) = 8
    val qC = Array.fill(64)(17); qC(0) = 8
    def yv(b: Int) = (28 + (id + 11L * b) % 200).toInt
    def mv(b: Int) = ((id + b) % 8).toInt
    def cbv(b: Int) = ((id + 3L * b) % 8).toInt
    def crv(b: Int) = ((id + 5L * b) % 8).toInt
    val yB = Array.tabulate(nb) { b =>
      val c = new Array[Int](64); c(0) = yv(b) - 128; c(36) = mv(b); c
    }
    val cbB = Array.tabulate(nb) { b => val c = new Array[Int](64); c(0) = cbv(b); c }
    val crB = Array.tabulate(nb) { b => val c = new Array[Int](64); c(0) = crv(b); c }
    val bytes = JpegCodec.jpegEncodeColor(w, h, qY, qC, yB, cbB, crB,
      restartInterval = if (k % 4 == 1) 2 else 0)
    val s = Array(1, -1, -1, 1, 1, -1, -1, 1)
    val exp = new Array[Int](w * h * 3)
    val bw = w / 8
    for (b <- 0 until nb; y <- 0 until 8; x <- 0 until 8) {
      val yy = yv(b) + mv(b) * s(x) * s(y)
      val (r, g, bl) = rgbOf(yy, cbv(b), crv(b))
      val i = (((b / bw) * 8 + y) * w + (b % bw) * 8 + x) * 3
      exp(i) = r; exp(i + 1) = g; exp(i + 2) = bl
    }
    (w, h, bytes, exp)
  }

  /** The mm10 fixture in test form: 4:2:0 file + exact expected RGB
    * (replication upsampling — exact because chroma is constant per MCU).
    */
  private def jpeg420Fixture(id: Long): (Int, Int, Array[Byte], Array[Int]) = {
    val k = id / 6
    val w = (16 + 16 * (k % 2)).toInt
    val h = (16 + 16 * ((k / 2) % 2)).toInt
    val ybw = w / 8
    val nbY = ybw * (h / 8)
    val mcuW = w / 16
    val nMcu = mcuW * (h / 16)
    val qY = Array.fill(64)(16); qY(0) = 8; qY(36) = 8
    val qC = Array.fill(64)(17); qC(0) = 8
    def yv(b: Int) = (28 + (id + 11L * b) % 200).toInt
    def mv(b: Int) = ((id + b) % 8).toInt
    def cbv(mcu: Int) = ((id + 3L * mcu) % 8).toInt
    def crv(mcu: Int) = ((id + 5L * mcu) % 8).toInt
    val yB = Array.tabulate(nbY) { b =>
      val c = new Array[Int](64); c(0) = yv(b) - 128; c(36) = mv(b); c
    }
    val cbB = Array.tabulate(nMcu) { m => val c = new Array[Int](64); c(0) = cbv(m); c }
    val crB = Array.tabulate(nMcu) { m => val c = new Array[Int](64); c(0) = crv(m); c }
    val bytes = JpegCodec.jpegEncodeColor(w, h, qY, qC, yB, cbB, crB,
      lumaH = 2, lumaV = 2, restartInterval = if (k % 3 == 1) 2 else 0)
    val s = Array(1, -1, -1, 1, 1, -1, -1, 1)
    val exp = new Array[Int](w * h * 3)
    for (b <- 0 until nbY; yy <- 0 until 8; x <- 0 until 8) {
      val px = (b % ybw) * 8 + x; val py = (b / ybw) * 8 + yy
      val mcu = (py / 16) * mcuW + (px / 16)
      val yval = yv(b) + mv(b) * s(x) * s(yy)
      val (r, g, bl) = rgbOf(yval, cbv(mcu), crv(mcu))
      val i = (py * w + px) * 3
      exp(i) = r; exp(i + 1) = g; exp(i + 2) = bl
    }
    (w, h, bytes, exp)
  }

  test("color JPEG codec: 4:4:4 fixture encode/decode is pixel-EXACT incl. restarts") {
    for (id <- Seq(5L, 11L, 17L, 23L, 29L, 35L, 41L, 47L, 53L)) {
      val (w, h, bytes, exp) = colorJpegFixture(id)
      val img = JpegCodec.jpegDecodeColorPixels(bytes)
        .getOrElse(fail(s"id=$id decode failed"))
      assert(img.width === w && img.height === h)
      assert(img.rgb.map(_ & 0xff).toSeq === exp.toSeq, s"id=$id pixels differ")
      // API separation: the grayscale entry point must reject color frames.
      assert(JpegCodec.jpegDecodePixels(bytes).isEmpty)
    }
  }

  test("color JPEG codec: 4:2:0 fixture decode is pixel-EXACT (MCU interleave + replication upsampling)") {
    for (id <- Seq(1L, 7L, 13L, 19L, 25L, 31L, 37L, 43L)) {
      val (w, h, bytes, exp) = jpeg420Fixture(id)
      val img = JpegCodec.jpegDecodeColorPixels(bytes)
        .getOrElse(fail(s"id=$id decode failed"))
      assert(img.width === w && img.height === h)
      assert(img.rgb.map(_ & 0xff).toSeq === exp.toSeq, s"id=$id pixels differ")
    }
  }

  test("color JPEG codec: asymmetric 4:2:2 and 4:4:0 sampling decode pixel-EXACT (axis-swap guard)") {
    // hi != vi is where transposed-axis bugs hide: 4:2:2 halves chroma
    // horizontally only (MCU = 2 Y blocks side by side), 4:4:0 vertically
    // only (2 Y blocks stacked). Chroma constant per chroma block makes
    // replication upsampling exact, so a swapped axis lands chroma on the
    // wrong half of the MCU and fails loudly.
    for ((lh, lv) <- Seq((2, 1), (1, 2)); id <- Seq(5L, 11L, 17L)) {
      val w = 32; val h = 32
      val ybw = w / 8
      val nbY = ybw * (h / 8)
      val mcuW = w / (8 * lh); val mcuH = h / (8 * lv)
      val nMcu = mcuW * mcuH
      val qY = Array.fill(64)(16); qY(0) = 8; qY(36) = 8
      val qC = Array.fill(64)(17); qC(0) = 8
      def yv(b: Int) = (28 + (id + 11L * b) % 200).toInt
      def mv(b: Int) = ((id + b) % 8).toInt
      def cbv(m: Int) = ((id + 3L * m) % 8).toInt
      def crv(m: Int) = ((id + 5L * m) % 8).toInt
      val yB = Array.tabulate(nbY) { b =>
        val c = new Array[Int](64); c(0) = yv(b) - 128; c(36) = mv(b); c
      }
      val cbB = Array.tabulate(nMcu) { m => val c = new Array[Int](64); c(0) = cbv(m); c }
      val crB = Array.tabulate(nMcu) { m => val c = new Array[Int](64); c(0) = crv(m); c }
      val bytes = JpegCodec.jpegEncodeColor(w, h, qY, qC, yB, cbB, crB,
        lumaH = lh, lumaV = lv, restartInterval = if (id == 11L) 2 else 0)
      val img = JpegCodec.jpegDecodeColorPixels(bytes)
        .getOrElse(fail(s"${lh}x$lv id=$id decode failed"))
      assert(img.width === w && img.height === h)
      val s = Array(1, -1, -1, 1, 1, -1, -1, 1)
      for (b <- 0 until nbY; yy <- 0 until 8; x <- 0 until 8) {
        val px = (b % ybw) * 8 + x; val py = (b / ybw) * 8 + yy
        val mcu = (py / (8 * lv)) * mcuW + (px / (8 * lh))
        val yval = yv(b) + mv(b) * s(x) * s(yy)
        val (er, eg, eb) = rgbOf(yval, cbv(mcu), crv(mcu))
        val i = (py * w + px) * 3
        val got = (img.rgb(i) & 0xff, img.rgb(i + 1) & 0xff, img.rgb(i + 2) & 0xff)
        assert(got === ((er, eg, eb)), s"${lh}x$lv id=$id pixel ($px,$py)")
      }
      // ImageIO cross-check on MCU-interior pixels (upsampler-invariant).
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(bi != null && bi.getWidth == w && bi.getHeight == h, s"${lh}x$lv id=$id ImageIO reject")
      for (py <- 0 until h; px <- 0 until w
           if px % (8 * lh) >= 2 && px % (8 * lh) <= 8 * lh - 3 &&
              py % (8 * lv) >= 2 && py % (8 * lv) <= 8 * lv - 3) {
        val argb = bi.getRGB(px, py)
        val i = (py * w + px) * 3
        val ds = Seq(((argb >> 16) & 0xff) - (img.rgb(i) & 0xff),
          ((argb >> 8) & 0xff) - (img.rgb(i + 1) & 0xff),
          (argb & 0xff) - (img.rgb(i + 2) & 0xff))
        ds.foreach(d => assert(math.abs(d) <= 2, s"${lh}x$lv id=$id ($px,$py) off $ds"))
      }
    }
  }

  test("color JPEG transform domain: fixture channels never clamp") {
    // Y in [21,234] (v in [28,227], m <= 7), chroma offsets in [0,7]: every
    // channel stays inside [0,255], so the oracle SQL needs no CASE and the
    // decoder clamp is provably inert on fixtures.
    for (y <- 21 to 234; cb <- 0 to 7; cr <- 0 to 7) {
      val (r, g, b) = rgbOf(y, cb, cr)
      assert(r >= 0 && r <= 255 && g >= 0 && g <= 255 && b >= 0 && b <= 255,
        s"y=$y cb=$cb cr=$cr -> ($r,$g,$b)")
    }
  }

  test("color JPEG interop: ImageIO decodes our 4:4:4 and 4:2:0 files") {
    // 4:4:4: every pixel within +-2 (IDCT + RGB rounding differences).
    // 4:2:0: compare MCU-interior pixels only — ImageIO may interpolate
    // chroma across MCU boundaries where our replication (exact for the
    // constant-per-MCU fixture chroma) reads a single sample; interior
    // pixels of a constant-chroma MCU are upsampler-invariant.
    def check(w: Int, h: Int, bytes: Array[Byte], exp: Array[Int],
        interiorOnly: Boolean, label: String): Unit = {
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(bi != null, s"$label: ImageIO rejected our color bitstream")
      assert(bi.getWidth === w && bi.getHeight === h)
      for (y <- 0 until h; x <- 0 until w
           if !interiorOnly || (x % 16 >= 2 && x % 16 <= 13 && y % 16 >= 2 && y % 16 <= 13)) {
        val argb = bi.getRGB(x, y)
        val got = Seq((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)
        val want = Seq(exp((y * w + x) * 3), exp((y * w + x) * 3 + 1), exp((y * w + x) * 3 + 2))
        got.lazyZip(want).foreach((g2, w2) =>
          assert(math.abs(g2 - w2) <= 2, s"$label ($x,$y) got=$got want=$want"))
      }
    }
    for (id <- Seq(5L, 11L, 29L)) {
      val (w, h, bytes, exp) = colorJpegFixture(id)
      check(w, h, bytes, exp, interiorOnly = false, s"444 id=$id")
    }
    for (id <- Seq(1L, 7L, 25L)) {
      val (w, h, bytes, exp) = jpeg420Fixture(id)
      check(w, h, bytes, exp, interiorOnly = true, s"420 id=$id")
    }
  }

  test("color JPEG interop: our decoder reads an ImageIO-written 4:2:0 color JPEG") {
    // The JDK writer emits baseline 4:2:0 (Y 2x2, chroma 1x1 — verified
    // SOF0 shape) for RGB images: this is the decode-direction pin for the
    // subsampled path, on dims that are NOT MCU multiples (edge cropping).
    val (w, h) = (40, 24)
    val src = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      src.setRGB(x, y, ((x * 5 + 20) << 16) | ((y * 7 + 30) << 8) | (x * 3 + y * 2 + 40))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "jpg", bos))
    val bytes = bos.toByteArray
    val img = JpegCodec.jpegDecodeColorPixels(bytes)
      .getOrElse(fail("our decoder rejected an ImageIO 4:2:0 baseline file"))
    assert(img.width === w && img.height === h)
    // Compare against ImageIO's own decode of the same lossy file. The two
    // decoders differ in IDCT rounding, RGB rounding and chroma upsampling
    // (replication here, interpolation there) — on a smooth gradient the
    // per-pixel gap stays small; bound worst-case and mean drift.
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var sumDiff = 0L; var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w) {
      val argb = back.getRGB(x, y)
      val theirs = Seq((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)
      val ours = Seq(img.rgb(3 * (y * w + x)) & 0xff,
        img.rgb(3 * (y * w + x) + 1) & 0xff, img.rgb(3 * (y * w + x) + 2) & 0xff)
      ours.lazyZip(theirs).foreach { (a, b) =>
        val d = math.abs(a - b); sumDiff += d; if (d > maxDiff) maxDiff = d
      }
    }
    assert(maxDiff <= 8, s"worst per-sample gap $maxDiff")
    assert(sumDiff.toDouble / (w * h * 3) <= 2.5, s"mean gap ${sumDiff.toDouble / (w * h * 3)}")
  }

  test("color JPEG decode rejects malformed structures: Nf=2, bad sampling, missing chroma DHT, permuted scan, short SOS") {
    val (_, _, good, _) = colorJpegFixture(5L)
    assert(JpegCodec.jpegDecodeColorPixels(good).isDefined)
    def findMarker(b: Array[Byte], m: Int): Int =
      (2 until b.length - 1).find(i =>
        (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == m).get
    val sofAt = findMarker(good, 0xc0)
    val sofLen = ((good(sofAt + 2) & 0xff) << 8) | (good(sofAt + 3) & 0xff)
    // Nf=2 with a CONSISTENT segment length: unsupported component count
    // must reject on its own, not via a length mismatch.
    val seg2 = good.slice(sofAt, sofAt + 2 + 2 + 6 + 6)
    seg2(2) = 0; seg2(3) = 14; seg2(9) = 2
    val nf2 = good.take(sofAt) ++ seg2 ++ good.drop(sofAt + 2 + sofLen)
    assert(JpegCodec.jpegDecodeColorPixels(nf2).isEmpty)
    // Luma sampling factor 3x1: outside the supported {1,2} range.
    val badSamp = good.clone(); badSamp(sofAt + 11) = 0x31.toByte
    assert(JpegCodec.jpegDecodeColorPixels(badSamp).isEmpty)
    // Duplicate component ids (comp2 renamed to comp1's id).
    val dupId = good.clone(); dupId(sofAt + 13) = 1
    assert(JpegCodec.jpegDecodeColorPixels(dupId).isEmpty)
    // Missing chroma DC (payload head 0x01) / chroma AC (0x11) table.
    def dropDhtWith(first: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(good(0)); out.write(good(1))
      var p = 2
      while (p + 4 <= good.length && (good(p) & 0xff) == 0xff && (good(p + 1) & 0xff) != 0xda) {
        val len = ((good(p + 2) & 0xff) << 8) | (good(p + 3) & 0xff)
        val isTarget = (good(p + 1) & 0xff) == 0xc4 && (good(p + 4) & 0xff) == first
        if (!isTarget) out.write(good, p, 2 + len)
        p += 2 + len
      }
      out.write(good, p, good.length - p)
      out.toByteArray
    }
    assert(JpegCodec.jpegDecodeColorPixels(dropDhtWith(0x01)).isEmpty)
    assert(JpegCodec.jpegDecodeColorPixels(dropDhtWith(0x11)).isEmpty)
    // Permuted SOS component order (Cb bound before Y) — frame order is
    // the interleave contract, a permutation must reject.
    val sosAt = findMarker(good, 0xda)
    val perm = good.clone(); perm(sosAt + 5) = 2; perm(sosAt + 7) = 1
    assert(JpegCodec.jpegDecodeColorPixels(perm).isEmpty)
    // Ns=1 on a 3-component frame.
    val ns1 = good.clone(); ns1(sosAt + 4) = 1
    assert(JpegCodec.jpegDecodeColorPixels(ns1).isEmpty)
    // Entry-point separation: color API rejects grayscale frames.
    val (_, _, _, gray, _) = jpegFixture(9L)
    assert(JpegCodec.jpegDecodeColorPixels(gray).isEmpty)
  }

  test("mm9/mm10 end-to-end: jpegColorStats matches the per-pixel formulas") {
    import spark.implicits._
    val cases = Seq(
      (Multimodal.realColorJpegTable(spark, docs), colorJpegFixture _, 5L),
      (Multimodal.realSubsampledJpegTable(spark, docs), jpeg420Fixture _, 1L))
    for ((table, fix, residue) <- cases) {
      val stats = Multimodal.jpegColorStats(table).collect()
      assert(stats.nonEmpty)
      val ids = docs.select($"doc_id").as[Long].collect()
        .filter(_ % 6 == residue).toSet
      assert(stats.map(_.doc_id).toSet === ids,
        s"every residue-$residue fixture row must decode")
      stats.foreach { st =>
        val (w, h, _, exp) = fix(st.doc_id)
        assert(st.n_pixels === w.toLong * h)
        var sr = 0L; var sg = 0L; var sb = 0L
        var qr = 0L; var qg = 0L; var qb = 0L
        var i = 0
        while (i < w * h) {
          val r = exp(3 * i); val g = exp(3 * i + 1); val b = exp(3 * i + 2)
          sr += r; sg += g; sb += b
          qr += r.toLong * r; qg += g.toLong * g; qb += b.toLong * b
          i += 1
        }
        assert((st.sum_r, st.sum_g, st.sum_b) === ((sr, sg, sb)), s"id=${st.doc_id}")
        assert((st.sq_r, st.sq_g, st.sq_b) === ((qr, qg, qb)), s"id=${st.doc_id}")
      }
    }
  }

  // ---- progressive (SOF2) JPEG ---------------------------------------

  /** First SOFn marker index of a JPEG byte stream (test-side sniffer). */
  private def sofIndexOf(b: Array[Byte]): Int = {
    var p = 2
    while (p + 4 <= b.length) {
      val m = b(p + 1) & 0xff
      if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
        return m - 0xc0
      if (m == 0xda) return -1
      p += 2 + (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))
    }
    -1
  }

  private def progressiveGrayFixture(id: Long): (Int, Int, Array[Byte], Array[Byte]) = {
    // Same coefficient construction as mm8 (k = id/6): returns the
    // progressive AND baseline encodings of the SAME blocks — the decoded
    // pixels must agree bit-for-bit.
    val k = id / 6
    val w = (16 + 8 * (k % 3)).toInt
    val h = (16 + 8 * ((k * 5) % 3)).toInt
    val nb = (w / 8) * (h / 8)
    val q = Array.fill(64)(16); q(0) = 8; q(36) = 8
    val blocks = Array.tabulate(nb) { b =>
      val c = new Array[Int](64)
      c(0) = (28 + (id + 11L * b) % 200).toInt - 128
      c(36) = ((id + b) % 8).toInt
      c
    }
    (w, h,
      JpegCodec.jpegEncodeProgressive(w, h, q, null, Array(blocks)),
      JpegCodec.jpegEncode(w, h, q, blocks))
  }

  private def progressiveColorFixture(id: Long): (Int, Int, Array[Byte], Array[Byte]) = {
    val k = id / 6
    val w = (16 + 8 * (k % 3)).toInt
    val h = (16 + 8 * ((k * 5) % 3)).toInt
    val nb = (w / 8) * (h / 8)
    val qY = Array.fill(64)(16); qY(0) = 8; qY(36) = 8
    val qC = Array.fill(64)(17); qC(0) = 8
    val yB = Array.tabulate(nb) { b =>
      val c = new Array[Int](64)
      c(0) = (28 + (id + 11L * b) % 200).toInt - 128
      c(36) = ((id + b) % 8).toInt
      c
    }
    val cbB = Array.tabulate(nb) { b => val c = new Array[Int](64); c(0) = ((id + 3L * b) % 8).toInt; c }
    val crB = Array.tabulate(nb) { b => val c = new Array[Int](64); c(0) = ((id + 5L * b) % 8).toInt; c }
    (w, h,
      JpegCodec.jpegEncodeProgressive(w, h, qY, qC, Array(yB, cbB, crB)),
      JpegCodec.jpegEncodeColor(w, h, qY, qC, yB, cbB, crB))
  }

  test("progressive JPEG: spectral-selection encode/decode equals the baseline decode bit-for-bit (gray + color)") {
    for (id <- Seq(4L, 10L, 16L, 22L, 28L, 34L, 40L)) {
      val (w, h, prog, base) = progressiveGrayFixture(id)
      assert(sofIndexOf(prog) === 2 && sofIndexOf(base) === 0)
      val pi = JpegCodec.jpegDecodePixels(prog).getOrElse(fail(s"id=$id progressive decode failed"))
      val bi = JpegCodec.jpegDecodePixels(base).getOrElse(fail(s"id=$id baseline decode failed"))
      assert(pi.width === w && pi.height === h)
      assert(pi.pixels.toSeq === bi.pixels.toSeq, s"id=$id gray pixels differ")
      val (wc, hc, progC, baseC) = progressiveColorFixture(id)
      val pc = JpegCodec.jpegDecodeColorPixels(progC).getOrElse(fail(s"id=$id color progressive failed"))
      val bc = JpegCodec.jpegDecodeColorPixels(baseC).getOrElse(fail(s"id=$id color baseline failed"))
      assert(pc.width === wc && pc.height === hc)
      assert(pc.rgb.toSeq === bc.rgb.toSeq, s"id=$id color pixels differ")
    }
  }

  test("progressive JPEG interop: ImageIO decodes our spectral-selection files (±1 gray / ±2 color)") {
    for (id <- Seq(4L, 16L, 28L)) {
      val (w, h, prog, _) = progressiveGrayFixture(id)
      val ours = JpegCodec.jpegDecodePixels(prog).get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(prog))
      assert(img != null, s"id=$id: ImageIO rejected our progressive stream")
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val d = math.abs(img.getRaster.getSample(x, y, 0) - (ours.pixels(y * w + x) & 0xff))
        assert(d <= 1, s"id=$id gray ($x,$y) off by $d")
      }
      val (wc, hc, progC, _) = progressiveColorFixture(id)
      val oursC = JpegCodec.jpegDecodeColorPixels(progC).get
      val imgC = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(progC))
      assert(imgC != null && imgC.getWidth == wc && imgC.getHeight == hc)
      for (y <- 0 until hc; x <- 0 until wc) {
        val argb = imgC.getRGB(x, y); val i = (y * wc + x) * 3
        val ds = Seq(((argb >> 16) & 0xff) - (oursC.rgb(i) & 0xff),
          ((argb >> 8) & 0xff) - (oursC.rgb(i + 1) & 0xff),
          (argb & 0xff) - (oursC.rgb(i + 2) & 0xff))
        ds.foreach(d => assert(math.abs(d) <= 2, s"id=$id color ($x,$y) off $ds"))
      }
    }
  }

  private def imageIoProgressive(src: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(src, null, null), param)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("progressive JPEG interop: our decoder reads ImageIO-written progressive files (successive approximation)") {
    // The JDK's progressive writer uses a successive-approximation scan
    // script — this is the decode-direction pin for the DC/AC refinement
    // paths our own full-precision fixtures don't produce.
    val (w, h) = (40, 24)
    val gray = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) gray.getRaster.setSample(x, y, 0, (x * 5 + y * 3) % 256)
    val gbytes = imageIoProgressive(gray)
    assert(sofIndexOf(gbytes) === 2, "ImageIO did not write SOF2")
    val gours = JpegCodec.jpegDecodePixels(gbytes)
      .getOrElse(fail("our decoder rejected an ImageIO progressive grayscale file"))
    assert(gours.width === w && gours.height === h)
    val gback = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gbytes))
    for (y <- 0 until h; x <- 0 until w) {
      val d = math.abs((gours.pixels(y * w + x) & 0xff) - gback.getRaster.getSample(x, y, 0))
      assert(d <= 2, s"gray ($x,$y) differs from ImageIO by $d")
    }
    // Color: the JDK writes progressive 4:2:0 — refinement + subsampled
    // interleaved DC scans together. Smooth gradient; bound worst/mean.
    val rgb = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      rgb.setRGB(x, y, ((x * 5 + 20) << 16) | ((y * 7 + 30) << 8) | (x * 3 + y * 2 + 40))
    val cbytes = imageIoProgressive(rgb)
    assert(sofIndexOf(cbytes) === 2)
    val cours = JpegCodec.jpegDecodeColorPixels(cbytes)
      .getOrElse(fail("our decoder rejected an ImageIO progressive color file"))
    val cback = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(cbytes))
    var sumDiff = 0L; var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w) {
      val argb = cback.getRGB(x, y); val i = (y * w + x) * 3
      Seq(((argb >> 16) & 0xff) - (cours.rgb(i) & 0xff),
        ((argb >> 8) & 0xff) - (cours.rgb(i + 1) & 0xff),
        (argb & 0xff) - (cours.rgb(i + 2) & 0xff)).foreach { d0 =>
        val d = math.abs(d0); sumDiff += d; if (d > maxDiff) maxDiff = d
      }
    }
    assert(maxDiff <= 8, s"worst per-sample gap $maxDiff")
    assert(sumDiff.toDouble / (w * h * 3) <= 2.5, s"mean gap ${sumDiff.toDouble / (w * h * 3)}")
  }

  test("progressive JPEG decode rejects malformed structures") {
    val (_, _, good, _) = progressiveGrayFixture(4L)
    assert(JpegCodec.jpegDecodePixels(good).isDefined)
    def findNthSos(b: Array[Byte], n: Int): Int = {
      var p = 2; var seen = 0
      while (p + 4 <= b.length) {
        val m = b(p + 1) & 0xff
        if (m == 0xda) { seen += 1; if (seen == n) return p }
        if (m == 0xda || m == 0xd9) { // skip entropy after SOS: scan to next marker
          var q = p + 2 + (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))
          while (q + 1 < b.length && !((b(q) & 0xff) == 0xff && (b(q + 1) & 0xff) != 0 &&
            !((b(q + 1) & 0xff) >= 0xd0 && (b(q + 1) & 0xff) <= 0xd7))) q += 1
          p = q
        } else p += 2 + (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))
      }
      -1
    }
    // AC scan with Ss > Se rejects (second SOS is the [1,5] AC band).
    val sos2 = findNthSos(good, 2)
    assert(sos2 > 0)
    val badBand = good.clone(); badBand(sos2 + 7) = 9; badBand(sos2 + 8) = 5 // Ss=9 > Se=5
    assert(JpegCodec.jpegDecodePixels(badBand).isEmpty)
    // Successive-approximation step of 2 (Ah = Al + 2) rejects.
    val badAh = good.clone(); badAh(sos2 + 9) = 0x20.toByte
    assert(JpegCodec.jpegDecodePixels(badAh).isEmpty)
    // Truncation mid-scan rejects.
    assert(JpegCodec.jpegDecodePixels(good.dropRight(good.length / 4)).isEmpty)
    // Trailing bytes after EOI reject (terminal-EOI strictness).
    assert(JpegCodec.jpegDecodePixels(good ++ Array[Byte](1, 2)).isEmpty)
    // A SOF2 file with ZERO scans rejects — it must not fabricate a flat
    // image from the never-written coefficient store (first SOS found in
    // the marker dump sits after the header segments).
    val firstSos = {
      var p = 2
      while ((good(p + 1) & 0xff) != 0xda)
        p += 2 + (((good(p + 2) & 0xff) << 8) | (good(p + 3) & 0xff))
      p
    }
    assert(JpegCodec.jpegDecodePixels(
      good.take(firstSos) ++ Array[Byte](0xff.toByte, 0xd9.toByte)).isEmpty)
    // Color entry point rejects gray progressive and vice versa.
    assert(JpegCodec.jpegDecodeColorPixels(good).isEmpty)
    val (_, _, goodC, _) = progressiveColorFixture(4L)
    assert(JpegCodec.jpegDecodeColorPixels(goodC).isDefined)
    assert(JpegCodec.jpegDecodePixels(goodC).isEmpty)
  }

  test("progressive scan-script violations reject: AC before DC, duplicate band, wrong refinement step, DC predictor overflow") {
    // §G.1.1.1.1 scan-script rules (ADVICE r11): the fixture's scans are
    // (1) DC, (2) AC band [1,5], (3) AC band [6,63] — splice/duplicate
    // them at the byte level and assert the decoder rejects each illegal
    // script rather than rendering from partial/overwritten coefficients.
    val (_, _, good, _) = progressiveGrayFixture(4L)
    assert(JpegCodec.jpegDecodePixels(good).isDefined)
    def findNthSos(b: Array[Byte], n: Int): Int = {
      var p = 2; var seen = 0
      while (p + 4 <= b.length) {
        val m = b(p + 1) & 0xff
        if (m == 0xda) { seen += 1; if (seen == n) return p }
        if (m == 0xda) { // skip entropy after SOS: scan to next marker
          var q = p + 2 + (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))
          while (q + 1 < b.length && !((b(q) & 0xff) == 0xff && (b(q + 1) & 0xff) != 0 &&
            !((b(q + 1) & 0xff) >= 0xd0 && (b(q + 1) & 0xff) <= 0xd7))) q += 1
          p = q
        } else p += 2 + (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))
      }
      -1
    }
    val s1 = findNthSos(good, 1); val s2 = findNthSos(good, 2); val s3 = findNthSos(good, 3)
    assert(s1 > 0 && s2 > s1 && s3 > s2)
    // AC band scan arriving with no prior DC scan (DC scan spliced out).
    val noDc = good.take(s1) ++ good.slice(s2, good.length)
    assert(JpegCodec.jpegDecodePixels(noDc).isEmpty)
    // Duplicate first-pass (Ah=0) delivery of the [1,5] band.
    val dupAc = good.take(s3) ++ good.slice(s2, s3) ++ good.slice(s3, good.length)
    assert(JpegCodec.jpegDecodePixels(dupAc).isEmpty)
    // Duplicate DC first pass.
    val dupDc = good.take(s2) ++ good.slice(s1, s2) ++ good.slice(s2, good.length)
    assert(JpegCodec.jpegDecodePixels(dupDc).isEmpty)
    // Refinement (Ah=1) of a band whose history sits at Al=0, not 1.
    val badRef = good.clone(); badRef(s3 + 9) = 0x10.toByte
    assert(JpegCodec.jpegDecodePixels(badRef).isEmpty)
    // DC predictor overflow: 17 stacked max-category diffs (+2047 each)
    // walk the accumulated predictor past ±32767 — must reject (baseline
    // and progressive), while 16 blocks (peak 32752) still decode.
    val q1 = Array.fill(64)(1)
    def stepBlocks(n: Int) = Array.tabulate(n) { i =>
      val b = new Array[Int](64); b(0) = 2047 * (i + 1); b
    }
    assert(JpegCodec.jpegDecodePixels(
      JpegCodec.jpegEncode(8, 136, q1, stepBlocks(17))).isEmpty)
    assert(JpegCodec.jpegDecodePixels(
      JpegCodec.jpegEncode(8, 128, q1, stepBlocks(16))).isDefined)
    assert(JpegCodec.jpegDecodePixels(
      JpegCodec.jpegEncodeProgressive(8, 136, q1, null, Array(stepBlocks(17)))).isEmpty)
    assert(JpegCodec.jpegDecodePixels(
      JpegCodec.jpegEncodeProgressive(8, 128, q1, null, Array(stepBlocks(16)))).isDefined)
  }

  test("mm11/mm12 end-to-end: progressive tables decode to the same stats as their baseline twins") {
    import spark.implicits._
    // Gray: pixel stats of the progressive table must equal mm8's formulas
    // (identical coefficients, different scan delivery).
    val gray = Multimodal.jpegPixelStats(
      Multimodal.realProgressiveJpegTable(spark, docs)).collect()
    val grayIds = docs.select($"doc_id").as[Long].collect().filter(_ % 6 == 2).toSet
    assert(gray.map(_.doc_id).toSet === grayIds, "every progressive gray row must decode")
    gray.foreach { st =>
      val id = st.doc_id; val k = id / 6
      val w = 16 + 8 * (k % 3); val h = 16 + 8 * ((k * 5) % 3)
      val nb = ((w / 8) * (h / 8)).toInt
      val vs = (0 until nb).map(b => (28 + (id + 11L * b) % 200).toInt)
      val ms = (0 until nb).map(b => ((id + b) % 8).toInt)
      assert(st.n_pixels === w * h)
      assert(st.sum_lum === vs.map(64L * _).sum, s"id=$id")
      assert(st.sum_sq === vs.lazyZip(ms).map((v, m) => 64L * v * v + 64L * m * m).sum, s"id=$id")
    }
    // Color: per-channel stats equal the mm9-style formula replay.
    val color = Multimodal.jpegColorStats(
      Multimodal.realProgressiveColorJpegTable(spark, docs)).collect()
    val colorIds = docs.select($"doc_id").as[Long].collect().filter(_ % 6 == 4).toSet
    assert(color.map(_.doc_id).toSet === colorIds, "every progressive color row must decode")
    color.foreach { st =>
      val id = st.doc_id; val k = id / 6
      val w = (16 + 8 * (k % 3)).toInt; val h = (16 + 8 * ((k * 5) % 3)).toInt
      val nb = (w / 8) * (h / 8)
      var sr = 0L; var sg = 0L; var sb = 0L
      for (b <- 0 until nb; sign <- Seq(1, -1)) {
        val v = (28 + (id + 11L * b) % 200).toInt
        val m = ((id + b) % 8).toInt
        val (r, g, bl) = rgbOf(v + sign * m, ((id + 3L * b) % 8).toInt, ((id + 5L * b) % 8).toInt)
        sr += 32L * r; sg += 32L * g; sb += 32L * bl
      }
      assert(st.n_pixels === w.toLong * h)
      assert((st.sum_r, st.sum_g, st.sum_b) === ((sr, sg, sb)), s"id=$id")
    }
  }

  /** Three-frame 16×16 MJPEG AVI with per-frame exactly-invertible
    * coefficients; returns (w, h, frame pixel arrays, avi bytes).
    */
  private def aviFixture(id: Long, nF: Int = 3,
      restartInterval: Int = 0): (Int, Int, Seq[Array[Int]], Array[Byte]) = {
    val w = 16; val h = 16; val nb = 4
    val q = Array.fill(64)(16); q(0) = 8; q(36) = 8
    val frames = (0 until nF).map { f =>
      Array.tabulate(nb) { b =>
        val c = new Array[Int](64)
        c(0) = (28 + (id + 17L * f + 11L * b) % 200).toInt - 128
        c(36) = ((id + f + b) % 8).toInt
        c
      }
    }
    val jpegs = frames.map(blocks =>
      JpegCodec.jpegEncode(w, h, q, blocks.toArray, restartInterval)).toArray
    (w, h, frames.map(_.map(c => c(0) + 128)), // per-block DC base values
      MediaCodec.aviEncodeMjpeg(w, h, 40000, jpegs))
  }

  test("MJPEG AVI codec: encode/decode recovers every frame pixel-exactly") {
    val id = 23L
    val (w, h, frameBases, avi) = aviFixture(id, nF = 3, restartInterval = 2)
    val av = MediaCodec.aviDecodeMjpegFrames(avi).get
    assert(av.width === w && av.height === h && av.microSecPerFrame === 40000)
    assert(av.frames.length === 3)
    av.frames.zipWithIndex.foreach { case (img, f) =>
      assert(img.width === w && img.height === h)
      // Block b is the mm8 construction: 64 pixels of v ± m where the
      // AC(4,4) basis sign is s(x)·s(y) with s = +,−,−,+ over each 4
      // (cos((2x+1)·4π/16) flips sign at x ∈ {1,2} mod 4).
      def s(i: Int): Int = if (i % 4 == 0 || i % 4 == 3) 1 else -1
      for (b <- 0 until 4) {
        val v = frameBases(f)(b)
        val m = ((id + f + b) % 8).toInt
        val bx = (b % 2) * 8; val by = (b / 2) * 8
        for (y <- 0 until 8; x <- 0 until 8) {
          val expected = v + s(x) * s(y) * m
          assert((img.pixels((by + y) * w + bx + x) & 0xff) === expected,
            s"frame $f block $b pixel ($x,$y)")
        }
      }
    }
  }

  test("MJPEG AVI decode rejects structural violations and foreign codecs") {
    val (_, _, _, good) = aviFixture(31L)
    assert(MediaCodec.aviDecodeMjpegFrames(good).isDefined)
    def patched(off: Int, bytes: Array[Byte]): Array[Byte] = {
      val b = good.clone(); bytes.zipWithIndex.foreach { case (v, i) => b(off + i) = v }; b
    }
    def find(sig: String, from: Int = 0): Int = {
      val pat = sig.getBytes("US-ASCII")
      (from to good.length - pat.length).find(i => pat.indices.forall(j => good(i + j) == pat(j))).getOrElse(-1)
    }
    // RIFF size disagreeing with the byte count.
    assert(MediaCodec.aviDecodeMjpegFrames(good ++ Array[Byte](0)).isEmpty)
    assert(MediaCodec.aviDecodeMjpegFrames(good.dropRight(3)).isEmpty)
    // Foreign codec fourcc in strh (e.g. cinepak) — reject, never mis-decode.
    val strh = find("strh")
    assert(strh > 0 && find("MJPG", strh) === strh + 12)
    assert(MediaCodec.aviDecodeMjpegFrames(
      patched(strh + 12, "cvid".getBytes("US-ASCII"))).isEmpty)
    // Foreign biCompression in strf.
    val strf = find("strf")
    val biComp = strf + 8 + 16
    assert(MediaCodec.aviDecodeMjpegFrames(
      patched(biComp, "H264".getBytes("US-ASCII"))).isEmpty)
    // Declared frame count disagreeing with the movi walk (avih.dwTotalFrames).
    val avih = find("avih")
    assert(MediaCodec.aviDecodeMjpegFrames(
      patched(avih + 8 + 16, Array[Byte](9, 0, 0, 0))).isEmpty)
    // Non-frame chunk id inside movi.
    val dc = find("00dc")
    assert(dc > 0)
    assert(MediaCodec.aviDecodeMjpegFrames(
      patched(dc, "01wb".getBytes("US-ASCII"))).isEmpty)
    // Garbage frame bytes: corrupt the first JPEG's SOI.
    assert(MediaCodec.aviDecodeMjpegFrames(
      patched(dc + 8, Array[Byte](0, 0))).isEmpty)
    // Container/frame dimension disagreement (avih width 24 vs 16).
    assert(MediaCodec.aviDecodeMjpegFrames(
      patched(avih + 8 + 32, Array[Byte](24, 0, 0, 0))).isEmpty)
    // A second stream list (dwStreams=2) rejects.
    assert(MediaCodec.aviDecodeMjpegFrames(
      patched(avih + 8 + 24, Array[Byte](2, 0, 0, 0))).isEmpty)
    // Wrong RIFF form type.
    assert(MediaCodec.aviDecodeMjpegFrames(
      patched(8, "WAVE".getBytes("US-ASCII"))).isEmpty)
  }

  private def gifPalette: Array[Byte] = Array.tabulate[Byte](768) { i =>
    val idx = i / 3
    (i % 3) match {
      case 0 => idx.toByte
      case 1 => ((idx + 85) % 256).toByte
      case _ => ((idx + 170) % 256).toByte
    }
  }

  test("GIF LZW: roundtrip across sizes including dictionary reset at 4096") {
    // One coder, two sets of format constants: GIF's and TIFF's.
    for (fmt <- Seq(Lzw.gif(8), Lzw.Tiff)) {
      def roundtrip(data: Array[Byte]): Option[Array[Byte]] = {
        val enc = Lzw.encode(fmt, data)
        Lzw.decode(fmt, enc, 0, enc.length, data.length)
      }
      val rnd = new scala.util.Random(7L)
      for (n <- Seq(1, 2, 255, 4096, 30000)) {
        // Skewed small alphabet grows long dictionary strings fast (forces
        // width bumps); the 30000 case drives the dict past 4096 → reset.
        val data = Array.tabulate[Byte](n)(_ => (rnd.nextInt(7) * 37).toByte)
        val decoded = roundtrip(data)
        assert(decoded.isDefined, s"$fmt n=$n")
        assert(decoded.get.sameElements(data), s"$fmt n=$n")
      }
      // Full-range alphabet too.
      val data = Array.tabulate[Byte](20000)(_ => rnd.nextInt(256).toByte)
      assert(roundtrip(data).exists(_.sameElements(data)), s"$fmt")
    }
  }

  /** `lzw` without its first `bits` bits (its leading Clear code), in the
    * stream's bit order.
    */
  private def dropLeadingCode(lzw: Array[Byte], bits: Int,
      msbFirst: Boolean): Array[Byte] = {
    def mask(j: Int): Int = if (msbFirst) 0x80 >> (j % 8) else 1 << (j % 8)
    val n = lzw.length * 8 - bits
    val out = new Array[Byte]((n + 7) / 8)
    for (i <- 0 until n if (lzw((i + bits) / 8) & mask(i + bits)) != 0)
      out(i / 8) = (out(i / 8) | mask(i)).toByte
    out
  }

  test("LZW leading Clear: a GIF stream decodes without one, a TIFF strip is rejected") {
    val w = 24; val h = 10
    val px = Array.tabulate[Byte](w * h)(i => (i * 7 % 13 * 19).toByte)
    // GIF: the frame's LZW data with its leading Clear cut out decodes to
    // the same canvas. gifEncode's layout: 13-byte screen, 768-byte table,
    // 8-byte control extension, 10-byte descriptor, the minimum code size,
    // sub-blocks, terminator and trailer.
    val gif = GifCodec.gifEncode(w, h, gifPalette, Seq(GifCodec.GifFrame(0, 0, w, h, px)))
    def subBlocks(d: Array[Byte]): Array[Byte] =
      d.grouped(255).flatMap(c => (c.length.toByte +: c)).toArray
    val head = gif.take(13 + 768 + 8 + 10 + 1)
    val lzw = Lzw.encode(Lzw.gif(8), px)
    assert(gif.sameElements(head ++ subBlocks(lzw) ++ Array[Byte](0, 0x3b)))
    val noClear = dropLeadingCode(lzw, 9, msbFirst = false)
    assert(Lzw.decode(Lzw.gif(8), noClear, 0, noClear.length, px.length)
      .exists(_.sameElements(px)))
    val gifNoClear = head ++ subBlocks(noClear) ++ Array[Byte](0, 0x3b)
    assert(GifCodec.gifDecodeFrames(gifNoClear).get.frames.head
      .sameElements(GifCodec.gifDecodeFrames(gif).get.frames.head))
    // TIFF: the one strip (at offset 8) without its leading Clear, padded
    // to its old length so no other byte of the file moves, is rejected;
    // the same stream decodes once the leading-Clear rule is off.
    val tiff = TiffCodec.tiffEncode(w, h, px, littleEndian = true,
      rowsPerStrip = h, compression = 5)
    val strip = Lzw.encode(Lzw.Tiff, px)
    assert(tiff.slice(8, 8 + strip.length).sameElements(strip))
    val stripNoClear = dropLeadingCode(strip, 9, msbFirst = true).padTo(strip.length, 0.toByte)
    assert(TiffCodec.tiffDecodePixels(tiff).exists(_.pixels.sameElements(px)))
    assert(TiffCodec.tiffDecodePixels(
      tiff.patch(8, stripNoClear, strip.length)).isEmpty, "TIFF strip without Clear")
    assert(Lzw.decode(Lzw.Tiff, stripNoClear, 0, strip.length, px.length).isEmpty)
    assert(Lzw.decode(Lzw.Tiff.copy(leadingClear = false), stripNoClear, 0,
      strip.length, px.length).exists(_.sameElements(px)))
  }

  test("LZW: one dictionary decodes a run of strips, rejected ones included, as a fresh one per strip does") {
    val rnd = new scala.util.Random(11L)
    val shared = new Lzw.Dictionary(Lzw.Tiff)
    for (i <- 0 until 40) {
      val n = Seq(1, 40, 700, 9000)(i % 4)
      val data = Array.tabulate[Byte](n)(_ => (rnd.nextInt(if (i % 3 == 0) 256 else 9) * 29).toByte)
      val enc = Lzw.encode(Lzw.Tiff, data)
      assert(Lzw.decode(shared, enc, 0, enc.length, n).exists(_.sameElements(data)), s"strip $i")
      // Corrupt copies, each decoded on the dictionary the one before left.
      for (j <- 0 until 10) {
        val bad = enc.clone()
        val at = rnd.nextInt(bad.length)
        bad(at) = (bad(at) ^ (1 << rnd.nextInt(8))).toByte
        assert(Lzw.decode(shared, bad, 0, bad.length, n).map(_.toSeq) ===
          Lzw.decode(Lzw.Tiff, bad, 0, bad.length, n).map(_.toSeq), s"strip $i, byte $at")
      }
    }
  }

  test("GIF codec: multi-frame compose is pixel-exact incl. interlace, transparency, disposal") {
    val w = 20; val h = 14
    val f0 = Array.tabulate[Byte](w * h)(i => ((7 * (i % w) + 13 * (i / w)) % 256).toByte)
    // Patch at (4,2) 8×8, canvas-coordinate formula; one index transparent.
    val tIdx = ((17 + 5 * 4 + 3 * 2) % 256) // the patch's origin value → hole
    val f1 = Array.tabulate[Byte](64) { i =>
      val x = 4 + i % 8; val y = 2 + i / 8
      ((17 + 5 * x + 3 * y) % 256).toByte
    }
    val gif = GifCodec.gifEncode(w, h, gifPalette, Seq(
      GifCodec.GifFrame(0, 0, w, h, f0, delayCs = 5, interlace = true),
      GifCodec.GifFrame(4, 2, 8, 8, f1, delayCs = 7, transparent = tIdx)))
    val g = GifCodec.gifDecodeFrames(gif).get
    assert(g.width === w && g.height === h && g.frames.length === 2)
    assert(g.delaysCs === Vector(5, 7))
    def rgbOfIdx(c: Int): (Int, Int, Int) = (c, (c + 85) % 256, (c + 170) % 256)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (7 * x + 13 * y) % 256
      val (r0, g0, b0) = rgbOfIdx(base)
      val o = (y * w + x) * 3
      assert((g.frames(0)(o) & 0xff, g.frames(0)(o + 1) & 0xff,
        g.frames(0)(o + 2) & 0xff) === ((r0, g0, b0)), s"f0 ($x,$y)")
      val inPatch = x >= 4 && x < 12 && y >= 2 && y < 10
      val idx1 = if (inPatch) (17 + 5 * x + 3 * y) % 256 else base
      // The transparent index keeps frame 0's pixel.
      val eff = if (inPatch && idx1 == tIdx) base else idx1
      val (r1, g1, b1) = rgbOfIdx(eff)
      assert((g.frames(1)(o) & 0xff, g.frames(1)(o + 1) & 0xff,
        g.frames(1)(o + 2) & 0xff) === ((r1, g1, b1)), s"f1 ($x,$y)")
    }
    // Disposal 2 (restore background): the frame after a disposal-2 patch
    // sees the patch rect back at the background color (palette entry 0).
    val gif2 = GifCodec.gifEncode(w, h, gifPalette, Seq(
      GifCodec.GifFrame(0, 0, w, h, f0),
      GifCodec.GifFrame(4, 2, 8, 8, f1, disposal = 2),
      GifCodec.GifFrame(0, 0, 1, 1, Array[Byte](3))))
    val g2 = GifCodec.gifDecodeFrames(gif2).get
    val (br, bg, bb) = rgbOfIdx(0)
    val oo = (5 * w + 6) * 3 // inside the disposed rect
    assert((g2.frames(2)(oo) & 0xff, g2.frames(2)(oo + 1) & 0xff,
      g2.frames(2)(oo + 2) & 0xff) === ((br, bg, bb)))
  }

  test("GIF interop: ImageIO reads our file; our decoder reads ImageIO's") {
    import javax.imageio.ImageIO
    // Ours → ImageIO (first frame of a 2-frame animation must equal our
    // own composed frame 0).
    val w = 24; val h = 18
    val f0 = Array.tabulate[Byte](w * h)(i => ((i * 11) % 256).toByte)
    val gif = GifCodec.gifEncode(w, h, gifPalette, Seq(
      GifCodec.GifFrame(0, 0, w, h, f0, interlace = true),
      GifCodec.GifFrame(2, 2, 4, 4, Array.fill[Byte](16)(9))))
    val bi = ImageIO.read(new java.io.ByteArrayInputStream(gif))
    assert(bi.getWidth === w && bi.getHeight === h)
    val ours = GifCodec.gifDecodeFrames(gif).get
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = bi.getRGB(x, y)
      val o = (y * w + x) * 3
      assert(((rgb >> 16) & 0xff) === (ours.frames(0)(o) & 0xff), s"R ($x,$y)")
      assert(((rgb >> 8) & 0xff) === (ours.frames(0)(o + 1) & 0xff), s"G ($x,$y)")
      assert((rgb & 0xff) === (ours.frames(0)(o + 2) & 0xff), s"B ($x,$y)")
    }
    // ImageIO → ours: a few-color image survives the writer's palette
    // losslessly; our decoder must reproduce the JDK's own pixels.
    val src = new java.awt.image.BufferedImage(17, 13,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 13; x <- 0 until 17)
      src.setRGB(x, y, Seq(0xff0000, 0x00ff00, 0x0000ff, 0x808080)((x + y) % 4))
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(src, "gif", bos))
    val theirs = bos.toByteArray
    val dec = GifCodec.gifDecodeFrames(theirs)
    assert(dec.isDefined, "our decoder must read the JDK's GIF output")
    val d = dec.get
    assert(d.width === 17 && d.height === 13)
    for (y <- 0 until 13; x <- 0 until 17) {
      val rgb = src.getRGB(x, y)
      val o = (y * 17 + x) * 3
      assert(((rgb >> 16) & 0xff) === (d.frames(0)(o) & 0xff), s"R ($x,$y)")
      assert(((rgb >> 8) & 0xff) === (d.frames(0)(o + 1) & 0xff), s"G ($x,$y)")
      assert((rgb & 0xff) === (d.frames(0)(o + 2) & 0xff), s"B ($x,$y)")
    }
  }

  test("GIF decode rejects malformed structures, never throws") {
    val w = 16; val h = 16
    val f0 = Array.tabulate[Byte](w * h)(i => (i % 256).toByte)
    val good = GifCodec.gifEncode(w, h, gifPalette,
      Seq(GifCodec.GifFrame(0, 0, w, h, f0)))
    assert(GifCodec.gifDecodeFrames(good).isDefined)
    // Trailing bytes after the trailer (terminal-trailer strictness).
    assert(GifCodec.gifDecodeFrames(good ++ Array[Byte](0)).isEmpty)
    // Missing trailer.
    assert(GifCodec.gifDecodeFrames(good.dropRight(1)).isEmpty)
    // Bad signature.
    val badSig = good.clone(); badSig(3) = '7'.toByte; badSig(4) = '8'.toByte
    assert(GifCodec.gifDecodeFrames(badSig).isEmpty)
    // Fixed layout: header 13 + GCT 768 → GCE at 781, descriptor at 789.
    val gce = 13 + 768
    assert((good(gce) & 0xff) === 0x21 && (good(gce + 1) & 0xff) === 0xf9)
    val desc = gce + 8
    assert((good(desc) & 0xff) === 0x2c)
    // Frame rect outside the canvas (image descriptor left = 200).
    val badRect = good.clone(); badRect(desc + 1) = 200.toByte
    assert(GifCodec.gifDecodeFrames(badRect).isEmpty)
    // Disposal 3 (restore previous) is unsupported → reject.
    val badDisp = good.clone(); badDisp(gce + 3) = (3 << 2).toByte
    assert(GifCodec.gifDecodeFrames(badDisp).isEmpty)
    // Truncations never throw.
    for (n <- 0 until good.length by 7)
      GifCodec.gifDecodeFrames(good.take(n))
  }

  test("mm15 end-to-end: gifFrameStats over realGifTable matches the composition formulas") {
    import spark.implicits._
    val stats = Multimodal.gifFrameStats(
      Multimodal.realGifTable(spark, docs)).collect()
    val ids = docs.select($"doc_id").as[Long].collect().filter(_ % 6 == 0).toSet
    assert(stats.map(_.doc_id).toSet === ids, "every GIF row must decode")
    stats.groupBy(_.doc_id).foreach { case (id, rows) =>
      val k = id / 6
      val w = (16 + id % 16).toInt; val h = (16 + (id * 3) % 16).toInt
      assert(rows.length === (1 + k % 3).toInt, s"id=$id frame count")
      rows.foreach { st =>
        val f = st.frame_idx
        var sr = 0L; var sg = 0L; var sb = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val c =
            if (f >= 2 && x >= 8 && x < 16 && y >= 4 && y < 12)
              ((id + 34 + 5L * x + 3L * y) % 256).toInt
            else if (f >= 1 && x >= 4 && x < 12 && y >= 2 && y < 10)
              ((id + 17 + 5L * x + 3L * y) % 256).toInt
            else ((id + 7L * x + 13L * y) % 256).toInt
          sr += c; sg += (c + 85) % 256; sb += (c + 170) % 256
        }
        assert(st.n_pixels === w.toLong * h, s"id=$id f=$f")
        assert((st.sum_r, st.sum_g, st.sum_b) === ((sr, sg, sb)), s"id=$id f=$f")
      }
    }
  }

  test("EXIF/JFIF codec: build → parse recovers every field in BOTH TIFF byte orders") {
    for (le <- Seq(true, false)) {
      val app0 = graft.multimodal.ExifCodec.jfifApp0(2, 300, 72)
      val app1 = graft.multimodal.ExifCodec.exifApp1(
        "CAMx", "MODyz", 6, "2026:08:14 12:34:56", littleEndian = le)
      val (_, _, _, jpg, _) = jpegFixture(9L)
      val tagged = jpg.take(2) ++ app0 ++ app1 ++ jpg.drop(2)
      val meta = graft.multimodal.ExifCodec.parseJpegMeta(tagged).get
      assert(meta.jfif === Some((2, 300, 72)), s"le=$le")
      val ex = meta.exif.get
      assert(ex.make === "CAMx" && ex.model === "MODyz" &&
        ex.orientation === 6 && ex.dateTime === "2026:08:14 12:34:56", s"le=$le")
      // The PIXEL decoders skip APPn: the tagged file decodes identically.
      assert(JpegCodec.jpegDecodePixels(tagged).isDefined, s"le=$le")
      assert(JpegCodec.jpegDecodePixels(tagged).get.pixels
        .sameElements(JpegCodec.jpegDecodePixels(jpg).get.pixels), s"le=$le")
    }
  }

  test("EXIF parse rejects malformed TIFF structures, never throws") {
    import graft.multimodal.ExifCodec
    val app1 = ExifCodec.exifApp1("CAMx", "MODyz", 6,
      "2026:08:14 12:34:56", littleEndian = true)
    val (_, _, _, jpg, _) = jpegFixture(9L)
    def tagged(a1: Array[Byte]): Array[Byte] = jpg.take(2) ++ a1 ++ jpg.drop(2)
    assert(ExifCodec.parseJpegMeta(tagged(app1)).get.exif.isDefined)
    // A broken APP1 leaves exif None but the sniff still reads SOF dims.
    def exifOf(a1: Array[Byte]) = ExifCodec.parseJpegMeta(tagged(a1)).get.exif
    def patched(off: Int, v: Byte): Array[Byte] = {
      val b = app1.clone(); b(off) = v; b
    }
    // Payload layout: 4 seg header + "Exif\0\0"(6) + TIFF at offset 10.
    assert(exifOf(patched(10, 'X')).isEmpty)        // bad byte-order mark
    assert(exifOf(patched(12, 43)).isEmpty)         // magic != 42
    assert(exifOf(patched(14, 0x77.toByte)).isEmpty) // IFD offset out of range
    assert(exifOf(patched(18, 99.toByte)).isEmpty)  // entry count overflows segment
    // ASCII value offset past the segment (Make entry's offset field at
    // TIFF+10+8 = payload offset 28).
    assert(exifOf(patched(28, 0x7f.toByte)).isEmpty)
    // Truncations anywhere must never throw.
    for (n <- 0 until app1.length)
      ExifCodec.parseJpegMeta(tagged(app1.take(n)))
    // Random mutations never throw.
    val rnd = new scala.util.Random(12L)
    for (_ <- 0 until 500) {
      val mut = app1.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      ExifCodec.parseJpegMeta(tagged(mut))
    }
  }

  test("IFD tag order: EXIF parses two swapped entries, TIFF rejects the same swap") {
    def swapped(b: Array[Byte], entries: Int): Array[Byte] = {
      val out = b.clone()
      System.arraycopy(b, entries + 12, out, entries, 12)
      System.arraycopy(b, entries, out, entries + 12, 12)
      out
    }
    for (le <- Seq(true, false)) {
      // APP1 layout: 4-byte segment header, "Exif\0\0", the TIFF header
      // at 10, IFD0 at TIFF+8, its entries after the 2-byte count.
      val app1 = graft.multimodal.ExifCodec.exifApp1("CAMx", "MODyz", 6,
        "2026:08:14 12:34:56", littleEndian = le)
      val (_, _, _, jpg, _) = jpegFixture(9L)
      def exifOf(a1: Array[Byte]) =
        graft.multimodal.ExifCodec.parseJpegMeta(jpg.take(2) ++ a1 ++ jpg.drop(2)).get.exif
      val swappedApp1 = swapped(app1, 10 + 8 + 2)
      assert(!swappedApp1.sameElements(app1))
      assert(exifOf(swappedApp1).isDefined, s"le=$le")
      assert(exifOf(swappedApp1) === exifOf(app1), s"le=$le")
      // TIFF: the IFD offset is the header's u32 at 4; tags must ascend.
      val px = Array.tabulate[Byte](6 * 5)(i => (i * 11).toByte)
      val tiff = TiffCodec.tiffEncode(6, 5, px, le, rowsPerStrip = 5, compression = 1)
      val ifd = java.nio.ByteBuffer.wrap(tiff)
        .order(if (le) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
        .getInt(4)
      assert(TiffCodec.tiffDecodePixels(tiff).isDefined, s"le=$le")
      assert(TiffCodec.tiffDecodePixels(swapped(tiff, ifd + 2)).isEmpty, s"le=$le")
    }
  }

  test("mm14 end-to-end: imageMeta over realExifJpegTable matches the generation formulas") {
    import spark.implicits._
    val metas = Multimodal.imageMeta(
      Multimodal.realExifJpegTable(spark, docs)).collect()
    val ids = docs.select($"doc_id").as[Long].collect().filter(_ % 6 == 3).toSet
    assert(metas.map(_.doc_id).toSet === ids, "every tagged row must parse")
    metas.foreach { m =>
      val id = m.doc_id; val k = id / 3
      assert(m.width === (16 + 8 * (k % 3)).toInt, s"id=$id")
      assert(m.height === (16 + 8 * ((k * 5) % 3)).toInt, s"id=$id")
      assert(m.density_units === (id % 3).toInt, s"id=$id")
      assert(m.x_density === (1 + id % 300).toInt, s"id=$id")
      assert(m.y_density === (1 + (id * 3) % 300).toInt, s"id=$id")
      assert(m.make === s"CAM${id % 5}" && m.model === s"MOD${id % 7}", s"id=$id")
      assert(m.orientation === (1 + id % 8).toInt, s"id=$id")
      assert(m.capture_ts ===
        f"${2000 + id % 26}%04d:${1 + id % 12}%02d:${1 + id % 28}%02d " +
          f"${id % 24}%02d:${id % 60}%02d:${(id * 7) % 60}%02d", s"id=$id")
    }
  }

  test("mm13 end-to-end: videoFrameStats over realMjpegAviTable matches the per-frame formulas") {
    import spark.implicits._
    val stats = Multimodal.videoFrameStats(
      Multimodal.realMjpegAviTable(spark, docs)).collect()
    val vidIds = docs.select($"doc_id").as[Long].collect().filter(_ % 3 == 2).toSet
    assert(stats.map(_.doc_id).toSet === vidIds, "every video row must decode")
    stats.groupBy(_.doc_id).foreach { case (id, rows) =>
      val k = id / 3
      val w = 16 + 8 * (k % 2); val h = 16 + 8 * ((k / 2) % 2)
      val nb = ((w / 8) * (h / 8)).toInt
      assert(rows.length === (1 + k % 3).toInt, s"id=$id frame count")
      rows.foreach { st =>
        val f = st.frame_idx
        val vs = (0 until nb).map(b => (28 + (id + 17L * f + 11L * b) % 200).toInt)
        val ms = (0 until nb).map(b => ((id + f + b) % 8).toInt)
        assert(st.n_pixels === w * h, s"id=$id f=$f")
        assert(st.sum_lum === vs.map(64L * _).sum, s"id=$id f=$f")
        assert(st.sum_sq === vs.lazyZip(ms).map((v, m) => 64L * v * v + 64L * m * m).sum,
          s"id=$id f=$f")
        assert(st.min_lum === vs.lazyZip(ms).map(_ - _).min, s"id=$id f=$f")
        assert(st.max_lum === vs.lazyZip(ms).map(_ + _).max, s"id=$id f=$f")
      }
    }
  }

  test("lossless JPEG: roundtrip is bit-exact across predictors, precisions, point transforms, restarts") {
    val rnd = new scala.util.Random(20260815L)
    for {
      precision <- Seq(8, 12, 16)
      sel <- 1 to 7
      pt <- Seq(0, 1, 2)
      ri <- Seq(0, 1, 2) // ×w below
    } {
      val w = 5 + rnd.nextInt(20); val h = 3 + rnd.nextInt(20)
      val maxV = (1 << precision) - 1
      val px = Array.fill(w * h)(rnd.nextInt(maxV + 1))
      val bytes = JpegCodec.jpegEncodeLossless(w, h, precision, sel, pt, px,
        restartInterval = ri * w)
      val dec = JpegCodec.jpegDecodeLossless(bytes)
      assert(dec.isDefined, s"P=$precision sel=$sel pt=$pt ri=$ri")
      val im = dec.get
      assert(im.width === w && im.height === h && im.precision === precision)
      val expected = px.map(v => (v >> pt) << pt)
      assert(im.samples.toSeq === expected.toSeq,
        s"P=$precision sel=$sel pt=$pt ri=$ri")
      // 8-bit lossless also rides the shared grayscale surface (mm16).
      if (precision == 8) {
        val gray = JpegCodec.jpegDecodePixels(bytes)
        assert(gray.isDefined && gray.get.pixels.toSeq ===
          expected.map(_.toByte).toSeq)
      } else {
        assert(JpegCodec.jpegDecodePixels(bytes).isEmpty,
          "the byte-plane surface must not narrow >8-bit samples")
      }
    }
  }

  test("lossless JPEG: mod-2^16 differences and the bit-free SSSS-16 category decode exactly") {
    // First sample 0 against the 16-bit default prediction 32768 gives
    // diff = −32768 → the 0x8000 representative → SSSS 16, no appended
    // bits (§H.1.2.2). The 0→65535→0 staircase then wraps the mod-2^16
    // difference arithmetic in both directions.
    val px = Array(0, 32768, 65535, 0, 65535, 1, 65534, 2)
    val bytes = JpegCodec.jpegEncodeLossless(4, 2, 16, 1, 0, px)
    val dec = JpegCodec.jpegDecodeLossless(bytes)
    assert(dec.isDefined)
    assert(dec.get.samples.toSeq === px.toSeq)
  }

  test("lossless JPEG decode rejects malformed structures, never throws") {
    val w = 11; val h = 7
    val px = Array.tabulate(w * h)(i => (i * 37) % 256)
    val good = JpegCodec.jpegEncodeLossless(w, h, 8, 4, 0, px,
      restartInterval = 2 * w)
    assert(JpegCodec.jpegDecodeLossless(good).isDefined)
    def sosOffset(b: Array[Byte]): Int = {
      var p = 2
      while (!((b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) == 0xda)) p += 1
      p
    }
    val sos = sosOffset(good)
    def mutated(off: Int, v: Int): Array[Byte] = {
      val m = good.clone(); m(off) = v.toByte; m
    }
    // SOS payload layout: [len(2) Ns Cs TdTa Ss Se AhAl]; Ss = predictor,
    // Se must be 0, Ah must be 0, Al (= Pt) < precision.
    val ssOff = sos + 7
    assert(JpegCodec.jpegDecodeLossless(mutated(ssOff, 0)).isEmpty, "predictor 0")
    assert(JpegCodec.jpegDecodeLossless(mutated(ssOff, 8)).isEmpty, "predictor 8")
    assert(JpegCodec.jpegDecodeLossless(mutated(ssOff + 1, 5)).isEmpty, "Se != 0")
    assert(JpegCodec.jpegDecodeLossless(mutated(ssOff + 2, 0x10)).isEmpty, "Ah != 0")
    assert(JpegCodec.jpegDecodeLossless(mutated(ssOff + 2, 0x09)).isEmpty, "Pt >= precision")
    // DRI not a multiple of the line length: documented subset reject.
    val oddRi = JpegCodec.jpegEncodeLossless(w, h, 8, 1, 0, px)
      .patch(2, Seq(0xff.toByte, 0xdd.toByte, 0x00.toByte, 0x04.toByte,
        0x00.toByte, 5.toByte), 0)
    assert(JpegCodec.jpegDecodeLossless(oddRi).isEmpty, "mid-line restart interval")
    // Out-of-range reconstruction: raise a stored sample's category bits so
    // pred + diff leaves 0..255 — the decoder must reject, not mask.
    // (Entropy stream starts right after SOS; flip high bits until decode
    // fails or output changes — assert it never throws and never returns
    // wrong-but-accepted out-of-range samples.)
    val entStart = sos + 2 + (((good(sos + 2) & 0xff) << 8) | (good(sos + 3) & 0xff))
    for (off <- entStart until math.min(entStart + 40, good.length - 2); bit <- 0 to 7) {
      val m = good.clone(); m(off) = (m(off) ^ (1 << bit)).toByte
      JpegCodec.jpegDecodeLossless(m).foreach { im =>
        assert(im.samples.forall(v => v >= 0 && v <= 255),
          s"accepted out-of-range sample after flipping bit $bit at $off")
      }
    }
    // Truncations never throw.
    for (len <- 0 until good.length)
      JpegCodec.jpegDecodeLossless(good.take(len))
    // Trailing bytes after EOI are structural violations.
    assert(JpegCodec.jpegDecodeLossless(good ++ Array[Byte](0)).isEmpty)
    // DNL rejects.
    val dnl = good.patch(2, Seq(0xff.toByte, 0xdc.toByte, 0x00.toByte,
      0x04.toByte, 0x00.toByte, 0x07.toByte), 0)
    assert(JpegCodec.jpegDecodeLossless(dnl).isEmpty)
    // A 2-component SOF3 rejects (documented subset).
    val sof = {
      var p = 2
      while (!((good(p) & 0xff) == 0xff && (good(p + 1) & 0xff) == 0xc3)) p += 1
      p
    }
    assert(JpegCodec.jpegDecodeLossless(mutated(sof + 9, 2)).isEmpty, "Nf = 2")
    // Non-lossless surfaces must not accept an SOF3 stream.
    assert(JpegCodec.jpegDecodeColorPixels(good).isEmpty)
  }

  test("12-bit JPEG: fixture encode/decode is pixel-EXACT incl. restarts and a 16-bit quant step") {
    val id = 1234567L
    for (k <- 0L to 4L) {
      val w = (16 + 8 * (k % 3)).toInt; val h = (16 + 8 * ((k * 5) % 3)).toInt
      val nb = (w / 8) * (h / 8)
      val q = Array.fill(64)(16); q(0) = 8; q(36) = 264; q(63) = 300
      val blocks = Array.tabulate(nb) { b =>
        val c = new Array[Int](64)
        c(0) = (520 + (id + 37L * b) % 3000).toInt - 2048
        c(36) = ((id + b) % 16).toInt
        c
      }
      val bytes = JpegCodec.jpegEncode12(w, h, q, blocks,
        restartInterval = if (k % 4 == 1) 2 else 0)
      val dec = JpegCodec.jpegDecode12(bytes)
      assert(dec.isDefined, s"k=$k")
      val im = dec.get
      assert(im.width === w && im.height === h && im.precision === 12)
      // Expected: block b is v ± 33m on the (4,4) checkerboard
      // (pointwise sign s(x)·s(y) with s = +−−++−−+).
      val sgn = Array(1, -1, -1, 1, 1, -1, -1, 1)
      for (b <- 0 until nb) {
        val v = (520 + (id + 37L * b) % 3000).toInt
        val amp = 33 * ((id + b) % 16).toInt
        val bx = (b % (w / 8)) * 8; val by = (b / (w / 8)) * 8
        for (yy <- 0 until 8; xx <- 0 until 8) {
          val expected = v + sgn(xx) * sgn(yy) * amp
          val got = im.samples((by + yy) * w + bx + xx)
          assert(got === expected, s"k=$k block=$b px=($xx,$yy)")
        }
      }
      // The byte-plane grayscale surface must not accept 12-bit frames.
      assert(JpegCodec.jpegDecodePixels(bytes).isEmpty)
    }
  }

  test("12-bit JPEG decode rejects malformed structures; baseline stays 8-bit-table strict") {
    val q = Array.fill(64)(16); q(0) = 8
    val blocks = Array.tabulate(4)(b => { val c = new Array[Int](64); c(0) = b * 10; c })
    val good = JpegCodec.jpegEncode12(16, 16, q, blocks)
    assert(JpegCodec.jpegDecode12(good).isDefined)
    // A 12-bit SOF0: rewrite the frame marker to baseline — the baseline
    // decoder must reject both the precision and the Pq=1 table.
    val asSof0 = good.clone()
    var p = 2
    while (!((asSof0(p) & 0xff) == 0xff && (asSof0(p + 1) & 0xff) == 0xc1)) p += 1
    asSof0(p + 1) = 0xc0.toByte
    assert(JpegCodec.jpegDecodePixels(asSof0).isEmpty, "12-bit SOF0 must reject")
    assert(JpegCodec.jpegDecode12(asSof0).isEmpty, "SOF dispatch")
    // Precision 10 in the SOF1 header rejects.
    val p10 = good.clone(); p10(p + 4) = 10
    assert(JpegCodec.jpegDecode12(p10).isEmpty)
    // Truncations never throw.
    for (len <- 0 until good.length) JpegCodec.jpegDecode12(good.take(len))
    // Trailing bytes after EOI reject.
    assert(JpegCodec.jpegDecode12(good ++ Array[Byte](1)).isEmpty)
  }

  test("mm17 end-to-end: jpeg12PixelStats over realJpeg12Table matches the per-block formulas") {
    import spark.implicits._
    val stats = Multimodal.jpeg12PixelStats(
      Multimodal.realJpeg12Table(spark, docs)).collect()
    assert(stats.nonEmpty)
    val ids = docs.select($"doc_id").as[Long].collect().filter(_ % 6 == 3).toSet
    assert(stats.map(_.doc_id).toSet === ids, "every fixture row must decode")
    stats.foreach { st =>
      val id = st.doc_id; val k = id / 6
      val w = 16 + 8 * (k % 3); val h = 16 + 8 * ((k * 5) % 3)
      val nb = ((w / 8) * (h / 8)).toInt
      val vs = (0 until nb).map(b => (520 + (id + 37L * b) % 3000).toInt)
      val as = (0 until nb).map(b => 33 * ((id + b) % 16).toInt)
      assert(st.n_pixels === w * h)
      assert(st.sum_lum === vs.map(64L * _).sum, s"id=$id")
      assert(st.sum_sq === vs.lazyZip(as).map((v, a) => 64L * v * v + 64L * a * a).sum, s"id=$id")
      assert(st.min_lum === vs.lazyZip(as).map(_ - _).min, s"id=$id")
      assert(st.max_lum === vs.lazyZip(as).map(_ + _).max, s"id=$id")
      assert(st.max_lum > 255, s"id=$id must exercise the 12-bit range")
    }
  }

  test("mm20 CMYK JPEG: roundtrip, Adobe inversion, 4-predictor restarts, structural rejects") {
    // Exact roundtrip: DC-only M/Y/K planes + the AC checkerboard on C,
    // with restarts every 2 MCUs (all four predictors must reset).
    val w = 24; val h = 16
    val nb = (w / 8) * (h / 8)
    val q = Array.fill(64)(16); q(0) = 8; q(36) = 8
    def flat(f: Int => Int): Array[Array[Int]] =
      Array.tabulate(nb) { b => val c = new Array[Int](64); c(0) = f(b) - 128; c }
    val cBlocks = Array.tabulate(nb) { b =>
      val c = new Array[Int](64); c(0) = (60 + 9 * b) - 128; c(36) = b % 8; c
    }
    val stored = Array(cBlocks, flat(b => 40 + 11 * b), flat(b => 80 + 5 * b),
      flat(b => 30 + 17 * b))
    val bytes = JpegCodec.jpegEncodeCmyk(w, h, q, stored, restartInterval = 2)
    val img = JpegCodec.jpegDecodeCmykPixels(bytes).get
    assert(img.width === w && img.height === h)
    // The (4,4) cosine basis is ±1/2 pointwise with sign s(x)·s(y),
    // s = +,−,−,+ repeating (same convention the mm8 fixture pins).
    val s44 = Array(1, -1, -1, 1, 1, -1, -1, 1)
    for (y <- 0 until h; x <- 0 until w) {
      val b = (y / 8) * (w / 8) + (x / 8)
      val sign = s44(x % 8) * s44(y % 8)
      val expC = 255 - ((60 + 9 * b) + sign * (b % 8))
      val i = 4 * (y * w + x)
      assert((img.cmyk(i) & 0xff) === expC, s"C at ($x,$y)")
      assert((img.cmyk(i + 1) & 0xff) === 255 - (40 + 11 * b), s"M at ($x,$y)")
      assert((img.cmyk(i + 2) & 0xff) === 255 - (80 + 5 * b), s"Y at ($x,$y)")
      assert((img.cmyk(i + 3) & 0xff) === 255 - (30 + 17 * b), s"K at ($x,$y)")
    }
    // Gray/color accessors must not accept a 4-component frame.
    assert(JpegCodec.jpegDecodePixels(bytes).isEmpty)
    assert(JpegCodec.jpegDecodeColorPixels(bytes).isEmpty)
    // Rejects: 4-component without the Adobe APP14 (strip the first
    // segment after SOI: APP14 is emitted first, len 14).
    val noAdobe = bytes.take(2) ++ bytes.drop(2 + 2 + 2 + 12)
    assert(JpegCodec.jpegDecodeCmykPixels(noAdobe).isEmpty, "no APP14")
    // Transform 1 (YCbCr — meaningless at Nf=4) rejects; 2 (YCCK) is now
    // a supported path, tested in its own case below.
    val t1 = bytes.clone()
    t1(2 + 4 + 11) = 1 // SOI(2) + marker+len(4) + 11 bytes into payload
    assert(JpegCodec.jpegDecodeCmykPixels(t1).isEmpty, "transform 1")
    // Truncations never throw.
    for (len <- 0 until bytes.length by 3) JpegCodec.jpegDecodeCmykPixels(bytes.take(len))
  }

  test("mm20 YCCK JPEG (ColorTransform 2): inverse YCbCr on CMY, K untouched, floor-exact") {
    // Y carries the checkerboard; Cb/Cr flat near 128 (offsets small
    // enough that the inverse never clamps); K flat. The decoded ink must
    // equal 255 − floor(inverse-YCbCr + 0.5) computed with the exact
    // same IEEE literals.
    val w = 24; val h = 16
    val nb = (w / 8) * (h / 8)
    val q = Array.fill(64)(16); q(0) = 8; q(36) = 8
    def flat(f: Int => Int): Array[Array[Int]] =
      Array.tabulate(nb) { b => val c = new Array[Int](64); c(0) = f(b) - 128; c }
    val yBlocks = Array.tabulate(nb) { b =>
      val c = new Array[Int](64); c(0) = (60 + 9 * b) - 128; c(36) = b % 8; c
    }
    val stored = Array(yBlocks, flat(b => 128 + (3 * b) % 8),
      flat(b => 128 + (5 * b) % 8), flat(b => 30 + 17 * b))
    val bytes = JpegCodec.jpegEncodeCmyk(w, h, q, stored,
      restartInterval = 2, colorTransform = 2)
    val img = JpegCodec.jpegDecodeCmykPixels(bytes).get
    assert(img.width === w && img.height === h)
    val s44 = Array(1, -1, -1, 1, 1, -1, -1, 1)
    for (y <- 0 until h; x <- 0 until w) {
      val b = (y / 8) * (w / 8) + (x / 8)
      val sign = s44(x % 8) * s44(y % 8)
      val yy = (60 + 9 * b) + sign * (b % 8)
      val cbp = (3 * b) % 8; val crp = (5 * b) % 8
      val expC = 255 - math.floor(yy + 1.402 * crp + 0.5).toInt
      val expM = 255 - math.floor(yy - 0.344136 * cbp - 0.714136 * crp + 0.5).toInt
      val expY = 255 - math.floor(yy + 1.772 * cbp + 0.5).toInt
      val i = 4 * (y * w + x)
      assert((img.cmyk(i) & 0xff) === expC, s"C at ($x,$y)")
      assert((img.cmyk(i + 1) & 0xff) === expM, s"M at ($x,$y)")
      assert((img.cmyk(i + 2) & 0xff) === expY, s"Y at ($x,$y)")
      assert((img.cmyk(i + 3) & 0xff) === 255 - (30 + 17 * b), s"K at ($x,$y)")
    }
    // The SAME entropy data under transform 0 decodes to DIFFERENT ink —
    // a decoder that records but ignores the APP14 byte goes red above,
    // and this pins that the two interpretations genuinely differ.
    val t0 = bytes.clone()
    t0(2 + 4 + 11) = 0
    val img0 = JpegCodec.jpegDecodeCmykPixels(t0).get
    assert(img0.cmyk.toSeq !== img.cmyk.toSeq)
  }

  test("mm20 end-to-end: cmykPixelStats over realCmykJpegTable matches the ink formulas") {
    import spark.implicits._
    val stats = Multimodal.cmykPixelStats(
      Multimodal.realCmykJpegTable(spark, docs)).collect()
    assert(stats.nonEmpty)
    val ids = docs.select($"doc_id").as[Long].collect().filter(_ % 7 == 2).toSet
    assert(stats.map(_.doc_id).toSet === ids, "every fixture row must decode")
    // Both transform variants must be present in the fixture population.
    assert(stats.exists(_.doc_id / 7 % 2 == 0) && stats.exists(_.doc_id / 7 % 2 == 1))
    stats.foreach { st =>
      val id = st.doc_id; val k = id / 7
      val w = 16 + 8 * (k % 3); val h = 16 + 8 * ((k * 5) % 3)
      val nb = ((w / 8) * (h / 8)).toInt
      val ks = (0 until nb).map(b => 255 - (20 + (id + 3L * b) % 100))
      assert(st.n_pixels === w * h)
      assert(st.sum_k === ks.map(64L * _).sum, s"id=$id")
      assert(st.min_k === ks.min, s"id=$id")
      assert(st.max_k === ks.max, s"id=$id")
      if (k % 2 == 0) { // transform 0: ink directly from the block formulas
        def inks(base: Long, mult: Long, mod: Long) =
          (0 until nb).map(b => 255 - (base + (id + mult * b) % mod))
        val cs = inks(28, 11, 200); val ms2 = inks(40, 7, 180)
        val ys = inks(60, 13, 160)
        val amps = (0 until nb).map(b => (id + b) % 8)
        assert(st.sum_c === cs.map(64L * _).sum, s"id=$id")
        assert(st.sum_sq_c === cs.lazyZip(amps).map((c, a) => 64L * c * c + 64L * a * a).sum, s"id=$id")
        assert(st.sum_m === ms2.map(64L * _).sum, s"id=$id")
        assert(st.sum_y === ys.map(64L * _).sum, s"id=$id")
      } else { // transform 2: YCCK — inverse YCbCr with the mm9 literals
        def lvl(b: Int, up: Boolean): (Long, Long, Long) = {
          val v = (28 + (id + 11L * b) % 200) + (if (up) 1 else -1) * ((id + b) % 8)
          val cbp = (id + 3L * b) % 8; val crp = (id + 5L * b) % 8
          (255L - math.floor(v + 1.402 * crp + 0.5).toLong,
            255L - math.floor(v - 0.344136 * cbp - 0.714136 * crp + 0.5).toLong,
            255L - math.floor(v + 1.772 * cbp + 0.5).toLong)
        }
        val two = (0 until nb).map(b => (lvl(b, up = true), lvl(b, up = false)))
        assert(st.sum_c === two.map { case (a, b) => 32L * (a._1 + b._1) }.sum, s"id=$id")
        assert(st.sum_sq_c === two.map { case (a, b) =>
          32L * (a._1 * a._1 + b._1 * b._1) }.sum, s"id=$id")
        assert(st.sum_m === two.map { case (a, b) => 32L * (a._2 + b._2) }.sum, s"id=$id")
        assert(st.sum_y === two.map { case (a, b) => 32L * (a._3 + b._3) }.sum, s"id=$id")
      }
    }
  }

  test("TIFF codec: encode/decode round-trips across endians, strips, PackBits, photometrics") {
    val rnd = new scala.util.Random(42424242L)
    for {
      le <- Seq(true, false)
      comp <- Seq(1, 5, 32773)
      pred <- Seq(1, 2)
      if pred == 1 || comp == 5 // §14: predictor is an LZW companion
      photo <- Seq(0, 1)
      rps <- Seq(1, 3, 1000)
    } {
      val w = 5 + rnd.nextInt(25); val h = 4 + rnd.nextInt(20)
      val px = Array.fill[Byte](w * h)(rnd.nextInt(256).toByte)
      val bytes = graft.multimodal.TiffCodec.tiffEncode(w, h, px, le, rps,
        compression = comp, photometric = photo, predictor = pred)
      val dec = graft.multimodal.TiffCodec.tiffDecodePixels(bytes)
      assert(dec.isDefined, s"le=$le comp=$comp pred=$pred photo=$photo rps=$rps")
      assert(dec.get.width === w && dec.get.height === h)
      assert(dec.get.pixels.toSeq === px.toSeq,
        s"le=$le comp=$comp pred=$pred photo=$photo rps=$rps")
    }
    // LZW width growth + table reset: a strip long and varied enough to
    // push the dictionary past the 9→10→11→12-bit boundaries and the
    // 4096-entry reset (random bytes barely compress, so entries accrue
    // at nearly one per input byte).
    locally {
      val w = 200; val h = 40
      val px = Array.fill[Byte](w * h)(rnd.nextInt(256).toByte)
      for (pred <- Seq(1, 2)) {
        val bytes = graft.multimodal.TiffCodec.tiffEncode(w, h, px,
          littleEndian = true, rowsPerStrip = h, compression = 5,
          photometric = 1, predictor = pred)
        val dec = graft.multimodal.TiffCodec.tiffDecodePixels(bytes)
        assert(dec.isDefined && dec.get.pixels.toSeq === px.toSeq,
          s"LZW long-strip roundtrip pred=$pred")
      }
    }
    // PackBits boundary shapes: long replicate (>128), long literal
    // (>128), alternating 2-runs.
    for (row <- Seq(
        Array.fill[Byte](300)(7),
        Array.tabulate[Byte](300)(i => (i * 31 % 251).toByte),
        Array.tabulate[Byte](64)(i => (i / 2 * 9).toByte))) {
      val enc = graft.multimodal.TiffCodec.packBits(row)
      val bytes = graft.multimodal.TiffCodec.tiffEncode(row.length, 1, row,
        littleEndian = true, rowsPerStrip = 1, compression = 32773)
      val dec = graft.multimodal.TiffCodec.tiffDecodePixels(bytes)
      assert(dec.isDefined && dec.get.pixels.toSeq === row.toSeq,
        s"packbits shape len=${enc.length}")
    }
  }

  test("TIFF interop: ImageIO reads our files; our decoder reads ImageIO's TIFF output") {
    val w = 23; val h = 17
    val px = Array.tabulate[Byte](w * h)(i => (i * 37 % 256).toByte)
    for (le <- Seq(true, false); comp <- Seq(1, 5, 32773); pred <- Seq(1, 2)
         if pred == 1 || comp == 5) {
      val bytes = graft.multimodal.TiffCodec.tiffEncode(w, h, px, le, 4,
        compression = comp, photometric = 1, predictor = pred)
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(bi != null, s"ImageIO rejected our TIFF (le=$le comp=$comp pred=$pred)")
      assert(bi.getWidth === w && bi.getHeight === h)
      val ras = bi.getRaster
      for (y <- 0 until h; x <- 0 until w)
        assert(ras.getSample(x, y, 0) === (px(y * w + x) & 0xff),
          s"ImageIO pixel ($x,$y) le=$le comp=$comp pred=$pred")
    }
    // Reverse: the JDK's own TIFF writer output decodes through our
    // parser — default (uncompressed) AND its LZW encoder, which pins our
    // early-change width handling against an independent implementation.
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, px(y * w + x) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "tiff", bos), "JDK has no TIFF writer?")
    val dec = graft.multimodal.TiffCodec.tiffDecodePixels(bos.toByteArray)
    assert(dec.isDefined, "our decoder rejected the JDK's TIFF output")
    assert(dec.get.width === w && dec.get.height === h)
    assert(dec.get.pixels.toSeq === px.toSeq)
    locally {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType("LZW")
      val bos2 = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos2)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
      ios.close(); writer.dispose()
      val dec2 = graft.multimodal.TiffCodec.tiffDecodePixels(bos2.toByteArray)
      assert(dec2.isDefined, "our decoder rejected the JDK's LZW TIFF output")
      assert(dec2.get.pixels.toSeq === px.toSeq, "JDK LZW pixels")
    }
  }

  test("TIFF decode rejects malformed structures, never throws") {
    val w = 11; val h = 9
    val px = Array.tabulate[Byte](w * h)(i => (i * 13).toByte)
    val good = graft.multimodal.TiffCodec.tiffEncode(w, h, px,
      littleEndian = true, rowsPerStrip = 3, compression = 1)
    def dec(b: Array[Byte]) = graft.multimodal.TiffCodec.tiffDecodePixels(b)
    assert(dec(good).isDefined)
    // Bad magic / version.
    assert(dec("XX".getBytes ++ good.drop(2)).isEmpty)
    val badVer = good.clone(); badVer(2) = 43
    assert(dec(badVer).isEmpty)
    // IFD offset past EOF.
    val badIfd = good.clone(); badIfd(4) = 0xff.toByte; badIfd(5) = 0xff.toByte
    assert(dec(badIfd).isEmpty)
    // Truncations never throw.
    for (len <- 0 until good.length) dec(good.take(len))
    // Unsupported depth/compression via surgical IFD edits: locate the
    // IFD (offset at header), entries are 12 bytes after the 2-byte count.
    def ifdAt(b: Array[Byte]): Int =
      ((b(4) & 0xff) | ((b(5) & 0xff) << 8) | ((b(6) & 0xff) << 16) | ((b(7) & 0xff) << 24))
    val ifd = ifdAt(good)
    def withEntryValue(tagIdx: Int, v: Int): Array[Byte] = {
      val m = good.clone()
      val at = ifd + 2 + 12 * tagIdx + 8
      m(at) = (v & 0xff).toByte; m(at + 1) = ((v >> 8) & 0xff).toByte
      m
    }
    // Entry order (ascending tags): 0=w 1=h 2=bits 3=compression
    // 4=photometric 5=offsets 6=samples 7=rowsPerStrip 8=counts.
    assert(dec(withEntryValue(2, 16)).isEmpty, "16-bit depth")
    assert(dec(withEntryValue(3, 2)).isEmpty, "CCITT compression")
    assert(dec(withEntryValue(4, 3)).isEmpty, "palette photometric")
    assert(dec(withEntryValue(6, 3)).isEmpty, "RGB samples")
    // Compression tag flipped to LZW over an UNCOMPRESSED payload: the
    // raw bytes don't open with a Clear code, so the LZW path must
    // reject, never mis-decode.
    assert(dec(withEntryValue(3, 5)).isEmpty, "raw payload under LZW tag")
    // Unknown predictor value on a file that carries the tag (10-entry
    // IFD, predictor is entry index 9).
    val lzwPred = graft.multimodal.TiffCodec.tiffEncode(w, h, px,
      littleEndian = true, rowsPerStrip = 3, compression = 5,
      photometric = 1, predictor = 2)
    val ifdL = ifdAt(lzwPred)
    val badPred = lzwPred.clone()
    badPred(ifdL + 2 + 12 * 9 + 8) = 3
    assert(dec(lzwPred).isDefined)
    assert(dec(badPred).isEmpty, "predictor 3")
    // Predictor on a non-LZW compression (readers diverge — reject).
    val predNoLzw = lzwPred.clone()
    predNoLzw(ifdL + 2 + 12 * 3 + 8) = (32773 & 0xff).toByte
    predNoLzw(ifdL + 2 + 12 * 3 + 9) = ((32773 >> 8) & 0xff).toByte
    assert(dec(predNoLzw).isEmpty, "predictor without LZW")
    // Non-ascending IFD: swap the first two entries' tags.
    val swapped = good.clone()
    val e0 = ifd + 2; val e1 = e0 + 12
    for (i <- 0 until 12) {
      val t = swapped(e0 + i); swapped(e0 + i) = swapped(e1 + i); swapped(e1 + i) = t
    }
    assert(dec(swapped).isEmpty, "non-ascending IFD tags")
  }

  test("mm18 end-to-end: tiffPixelStats over realTiffTable matches the pixel formula") {
    import spark.implicits._
    val stats = Multimodal.tiffPixelStats(
      Multimodal.realTiffTable(spark, docs)).collect()
    assert(stats.nonEmpty)
    val ids = docs.select($"doc_id").as[Long].collect().filter(_ % 6 == 5).toSet
    assert(stats.map(_.doc_id).toSet === ids, "every fixture row must decode")
    stats.foreach { st =>
      val id = st.doc_id; val k = id / 6
      val w = (14 + k % 15).toInt; val h = (10 + (3 * k) % 13).toInt
      val px = for (y <- 0 until h; x <- 0 until w)
        yield ((id + 5L * x + 11L * y + (x * y) % 7) % 256).toInt
      assert(st.n_pixels === w.toLong * h, s"id=$id")
      assert(st.sum_lum === px.map(_.toLong).sum, s"id=$id")
      assert(st.sum_sq === px.map(v => v.toLong * v).sum, s"id=$id")
      assert(st.min_lum === px.min, s"id=$id")
      assert(st.max_lum === px.max, s"id=$id")
    }
  }

  test("PNG color codec: encode/decode is sample-exact across all color types, depths, interlace") {
    // Every implemented (colorType, bitDepth) combo, sequential AND Adam7,
    // filters cycling all five types — the decode must recover every
    // channel sample exactly (palette rows after PLTE expansion).
    val combos = Seq((0, 8, 1), (0, 16, 1), (2, 8, 3), (2, 16, 3),
      (3, 8, 1), (4, 8, 2), (4, 16, 2), (6, 8, 4), (6, 16, 4),
      (0, 1, 1), (0, 2, 1), (0, 4, 1), (3, 1, 1), (3, 2, 1), (3, 4, 1))
    val palette = Array.tabulate(256)(i => (i << 16) | (((i * 3 + 7) % 256) << 8) | ((i * 5 + 11) % 256))
    for ((ct, depth, ch) <- combos; interlaced <- Seq(false, true)) {
      val (w, h) = (21, 13) // odd dims exercise ragged Adam7 passes
      val mx = (1 << depth) - 1
      val samples = Array.tabulate(w * h * ch)(i => (i * 2654435761L % (mx + 1)).toInt)
      val pal = if (depth < 8) palette.take(1 << depth) else palette
      val bytes = MediaCodec.pngEncodeImage(w, h, ct, depth, samples,
        if (ct == 3) pal else Array.emptyIntArray,
        filterFor = r => r % 5, interlaced = interlaced)
      val img = MediaCodec.pngDecodeImage(bytes)
        .getOrElse(fail(s"decode failed for ct=$ct depth=$depth interlaced=$interlaced"))
      assert(img.width === w && img.height === h)
      assert(img.colorType === ct && img.bitDepth === depth)
      val want: Array[Int] =
        if (ct == 3) samples.flatMap { idx =>
          val e = pal(idx); Array((e >> 16) & 0xff, (e >> 8) & 0xff, e & 0xff)
        } else samples
      assert(img.samples.toSeq === want.toSeq,
        s"samples diverged for ct=$ct depth=$depth interlaced=$interlaced")
      // The gray8 view stays consistent with the old decode surface.
      if (ct == 0 && depth == 8)
        assert(MediaCodec.pngDecodePixels(bytes).get.pixels.toSeq ===
          samples.map(_.toByte).toSeq)
      else if (ct != 0)
        assert(MediaCodec.pngDecodePixels(bytes).isEmpty,
          "pngDecodePixels must stay gray8-only")
    }
    // Palette + tRNS expands to RGBA with per-entry alpha, entries past
    // the chunk opaque; tRNS is prohibited for the alpha-bearing types
    // and must follow PLTE.
    val (w, h) = (21, 13)
    val idx = Array.tabulate(w * h)(i => i % 256)
    val trns = Array.tabulate(100)(i => (i * 7 + 3) % 256)
    for (interlaced <- Seq(false, true)) {
      val bytes = MediaCodec.pngEncodeImage(w, h, 3, 8, idx, palette,
        r => r % 5, interlaced, trns)
      val img = MediaCodec.pngDecodeImage(bytes).get
      assert(img.channels === 4 && img.colorType === 3)
      for (i <- 0 until w * h) {
        val e = palette(idx(i))
        assert(img.samples(4 * i) === ((e >> 16) & 0xff))
        assert(img.samples(4 * i + 3) ===
          (if (idx(i) < trns.length) trns(idx(i)) else 255),
          s"alpha at $i interlaced=$interlaced")
      }
    }
    intercept[IllegalArgumentException] { // encoder refuses tRNS off-palette
      MediaCodec.pngEncodeImage(21, 13, 6, 8,
        Array.fill(21 * 13 * 4)(0), Array.emptyIntArray, trns = trns)
    }
    // Decoder: tRNS on an RGBA container rejects (§11.3.2.1).
    val rgba = MediaCodec.pngEncodeImage(8, 8, 6, 8, Array.fill(8 * 8 * 4)(1),
      Array.emptyIntArray)
    val trnsChunk = {
      val data = "tRNS".getBytes("US-ASCII") ++ Array.fill[Byte](4)(9)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      java.nio.ByteBuffer.allocate(16).putInt(4).put(data).putInt(crc.getValue.toInt).array()
    }
    assert(MediaCodec.pngDecodeImage(
      rgba.take(33) ++ trnsChunk ++ rgba.drop(33)).isEmpty)
    // tRNS BEFORE the PLTE violates §5.6 ordering.
    val pal8 = MediaCodec.pngEncodeImage(8, 8, 3, 8,
      Array.tabulate(64)(_ % 16), palette.take(16), r => 0)
    assert(MediaCodec.pngDecodeImage(
      pal8.take(33) ++ trnsChunk ++ pal8.drop(33)).isEmpty)
    // tRNS longer than the palette rejects.
    val longTrns = {
      val data = "tRNS".getBytes("US-ASCII") ++ Array.fill[Byte](17)(9)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      java.nio.ByteBuffer.allocate(29).putInt(17).put(data).putInt(crc.getValue.toInt).array()
    }
    val plteEnd = 33 + 12 + 48 // IHDR end + PLTE chunk (16 entries)
    assert(MediaCodec.pngDecodeImage(
      pal8.take(plteEnd) ++ longTrns ++ pal8.drop(plteEnd)).isEmpty)
    assert(MediaCodec.pngDecodeImage(pal8).isDefined, "baseline must stay green")
  }

  test("PNG color decode rejects palette violations and spec-invalid depth combos") {
    val px = Array.tabulate(16 * 16)(i => i % 256)
    val pal = Array.tabulate(256)(i => i * 0x010101)
    val good = MediaCodec.pngEncodeImage(16, 16, 3, 8, px, pal, r => r % 5)
    assert(MediaCodec.pngDecodeImage(good).isDefined)
    // Palette index past the PLTE: shrink the palette to 16 entries so
    // fixture indices >= 16 dangle — must reject, never clamp.
    val shortPal = MediaCodec.pngEncodeImage(16, 16, 3, 8, px, pal.take(16), r => r % 5)
    assert(MediaCodec.pngDecodeImage(shortPal).isEmpty)
    // Sub-byte bit depths (legal PNG, unimplemented): reject, not garble.
    def withIhdr(depth: Int, ctype: Int): Array[Byte] = {
      val b = good.clone()
      b(24) = depth.toByte; b(25) = ctype.toByte
      // recompute IHDR CRC (type+data = bytes 12..28, CRC at 29..32)
      val crc = new java.util.zip.CRC32(); crc.update(b, 12, 17)
      val v = crc.getValue.toInt
      b(29) = (v >> 24).toByte; b(30) = (v >> 16).toByte
      b(31) = (v >> 8).toByte; b(32) = v.toByte
      b
    }
    assert(MediaCodec.pngDecodeImage(withIhdr(16, 3)).isEmpty) // palette-16 is spec-invalid
    assert(MediaCodec.pngDecodeImage(withIhdr(4, 2)).isEmpty)  // truecolor-4 is spec-invalid
    assert(MediaCodec.pngDecodeImage(withIhdr(4, 4)).isEmpty)  // gray+alpha-4 is spec-invalid
    assert(MediaCodec.pngDecodeImage(withIhdr(4, 6)).isEmpty)  // RGBA-4 is spec-invalid
    // Sub-byte palette with MORE PLTE entries than 2^depth fit: reject
    // (§11.2.3) — a 4-bit image shipping a 256-entry palette is corrupt.
    val idx4 = Array.tabulate(16 * 16)(i => i % 16)
    assert(MediaCodec.pngDecodeImage(
      MediaCodec.pngEncodeImage(16, 16, 3, 4, idx4, pal.take(16), r => r % 5)).isDefined)
    assert(MediaCodec.pngDecodeImage(
      MediaCodec.pngEncodeImage(16, 16, 3, 4, idx4, pal.take(17), r => r % 5)).isEmpty)
    // PLTE on a grayscale image is forbidden (§11.2.3).
    val gray = MediaCodec.pngEncode(16, 16, px.map(_.toByte), r => r % 5)
    val plteChunk = {
      val data = "PLTE".getBytes("US-ASCII") ++ Array.fill[Byte](9)(1)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      java.nio.ByteBuffer.allocate(21).putInt(9).put(data).putInt(crc.getValue.toInt).array()
    }
    val grayWithPlte = gray.take(33) ++ plteChunk ++ gray.drop(33)
    assert(MediaCodec.pngDecodeImage(grayWithPlte).isEmpty)
  }

  test("mm23 end-to-end: colorPngStats over realColorPngTable matches the luma formulas") {
    import spark.implicits._
    val stats = Multimodal.colorPngStats(
      Multimodal.realColorPngTable(spark, docs)).collect()
    assert(stats.nonEmpty)
    val ids = docs.select($"doc_id").as[Long].collect().filter(_ % 6 == 0).toSet
    assert(stats.map(_.doc_id).toSet === ids, "every fixture row must decode")
    // All ten variants must actually appear in the fixture population
    // (palette-8 occurs with AND without tRNS, same (type, depth) key).
    assert(stats.map(s => (s.color_type, s.bit_depth)).toSet ===
      Set((2, 8), (3, 8), (6, 8), (0, 16), (2, 16), (4, 8),
        (0, 4), (3, 4), (0, 1)))
    assert(stats.exists(_.doc_id / 6 % 10 == 9), "tRNS variant present")
    stats.foreach { st =>
      val id = st.doc_id; val v = (id / 6 % 10).toInt
      val w = (16 + id % 16).toInt; val h = (16 + (id * 3) % 16).toInt
      def lum(x: Int, y: Int): Int = v match {
        case 0 | 2 =>
          def c8(c: Int) = ((id + 7L * x + 13L * y + 31L * c) % 256).toInt
          (299 * c8(0) + 587 * c8(1) + 114 * c8(2)) / 1000
        case 1 =>
          val i = ((id + 7L * x + 13L * y) % 256).toInt
          val (r, g, b) = (((id + i) % 256).toInt,
            ((id + 2L * i + 5) % 256).toInt, ((id + 3L * i + 11) % 256).toInt)
          (299 * r + 587 * g + 114 * b) / 1000
        case 3 => (((257L * id + 101L * x + 59L * y) % 65536) >> 8).toInt
        case 4 =>
          def c16(c: Int) = (((257L * id + 101L * x + 59L * y + 31L * c) % 65536) >> 8).toInt
          (299 * c16(0) + 587 * c16(1) + 114 * c16(2)) / 1000
        case 6 => ((id + 7L * x + 13L * y) % 16).toInt * 17
        case 7 =>
          val i = ((id + 7L * x + 13L * y) % 16).toInt
          val (r, g, b) = (((id + i) % 256).toInt,
            ((id + 2L * i + 5) % 256).toInt, ((id + 3L * i + 11) % 256).toInt)
          (299 * r + 587 * g + 114 * b) / 1000
        case 8 => ((id + 7L * x + 13L * y) % 2).toInt * 255
        case 9 =>
          val i = ((id + 7L * x + 13L * y) % 256).toInt
          val (r, g, b) = (((id + i) % 256).toInt,
            ((id + 2L * i + 5) % 256).toInt, ((id + 3L * i + 11) % 256).toInt)
          (299 * r + 587 * g + 114 * b) / 1000
        case _ => ((id + 7L * x + 13L * y) % 256).toInt
      }
      def alpha(x: Int, y: Int): Long = v match {
        case 2 => (id + 7L * x + 13L * y + 93) % 256
        case 5 => (id + 7L * x + 13L * y + 31) % 256
        case 9 => (id + 5L * ((id + 7L * x + 13L * y) % 256) + 3) % 256
        case _ => 255L
      }
      val ls = for (y <- 0 until h; x <- 0 until w) yield lum(x, y)
      assert(st.w === w && st.h === h, s"id=$id")
      assert(st.n_pixels === w.toLong * h, s"id=$id")
      assert(st.sum_lum === ls.map(_.toLong).sum, s"id=$id v=$v")
      assert(st.sum_sq === ls.map(l => l.toLong * l).sum, s"id=$id v=$v")
      assert(st.min_lum === ls.min && st.max_lum === ls.max, s"id=$id")
      val rsSum = (for (by <- 0 until h / 2; bx <- 0 until w / 2) yield
        (lum(2 * bx, 2 * by) + lum(2 * bx + 1, 2 * by) +
          lum(2 * bx, 2 * by + 1) + lum(2 * bx + 1, 2 * by + 1)) / 4).map(_.toLong).sum
      assert(st.rs_w === w / 2 && st.rs_h === h / 2 && st.rs_sum_lum === rsSum,
        s"id=$id v=$v resize")
      val aSum = (for (y <- 0 until h; x <- 0 until w) yield alpha(x, y)).sum
      assert(st.sum_alpha === aSum, s"id=$id v=$v alpha")
    }
  }

  test("mm16 end-to-end: jpegPixelStats over realLosslessJpegTable matches the formula + point transform") {
    import spark.implicits._
    val stats = Multimodal.jpegPixelStats(
      Multimodal.realLosslessJpegTable(spark, docs)).collect()
    assert(stats.nonEmpty)
    val ids = docs.select($"doc_id").as[Long].collect().filter(_ % 6 == 4).toSet
    assert(stats.map(_.doc_id).toSet === ids, "every fixture row must decode")
    stats.foreach { st =>
      val id = st.doc_id; val k = id / 6
      val w = (13 + k % 17).toInt; val h = (11 + (3 * k) % 19).toInt
      val pt = (k % 3).toInt
      val px = for (y <- 0 until h; x <- 0 until w) yield {
        val v = ((id + 7L * x + 13L * y + (x * y) % 5) % 256).toInt
        (v >> pt) << pt
      }
      assert(st.n_pixels === w.toLong * h, s"id=$id")
      assert(st.sum_lum === px.map(_.toLong).sum, s"id=$id")
      assert(st.sum_sq === px.map(v => v.toLong * v).sum, s"id=$id")
      assert(st.min_lum === px.min, s"id=$id")
      assert(st.max_lum === px.max, s"id=$id")
    }
  }

  // Quantized blocks for the byte pins: sparse AC (ZRL runs, EOB, all-zero
  // bands for progressive EOB runs), and blocks 0 and 1 carry a DC
  // difference and AC values at the process's category caps.
  private def pinBlocks(n: Int, seed: Long, dcMax: Int, acMax: Int): Array[Array[Int]] = {
    val r = new scala.util.Random(seed)
    Array.tabulate(n) { b =>
      val c = new Array[Int](64)
      c(0) = if (b < 2) (2 * b - 1) * dcMax else r.nextInt(2 * dcMax + 1) - dcMax
      if (b < 2) { c(1) = -acMax; c(63) = acMax }
      else if (r.nextInt(4) != 0)
        for (k <- 1 until 64 if r.nextInt(5) == 0) c(k) = r.nextInt(2 * acMax + 1) - acMax
      c
    }
  }

  private def pinQuant(seed: Long, max: Int): Array[Int] = {
    val r = new scala.util.Random(seed)
    Array.fill(64)(1 + r.nextInt(max))
  }

  test("JPEG writer: every encoder and header builder emits its pinned bytes (SHA-256)") {
    val q = pinQuant(1, 255); val qc = pinQuant(2, 255)
    def gray(w: Int, h: Int, seed: Long) = pinBlocks(((w + 7) / 8) * ((h + 7) / 8), seed, 1023, 1023)
    def color(w: Int, h: Int, lh: Int, lv: Int, ri: Int) = {
      val nc = (w / (8 * lh)) * (h / (8 * lv))
      JpegCodec.jpegEncodeColor(w, h, q, qc, gray(w, h, 3), pinBlocks(nc, 4, 1023, 1023),
        pinBlocks(nc, 5, 1023, 1023), lumaH = lh, lumaV = lv, restartInterval = ri)
    }
    val lossRnd = new scala.util.Random(6)
    def lossless(w: Int, h: Int, p: Int, sel: Int, pt: Int, ri: Int) =
      JpegCodec.jpegEncodeLossless(w, h, p, sel, pt,
        Array.fill(w * h)(lossRnd.nextInt(1 << p)), restartInterval = ri)
    val q12 = pinQuant(7, 255); q12(0) = 1000; q12(9) = 65535
    def cmyk(ct: Int, ri: Int) = JpegCodec.jpegEncodeCmyk(16, 24, q,
      Array.tabulate(4)(c => pinBlocks(6, 10 + c, 1023, 1023)), ri, ct)
    val cases: Seq[(String, () => Array[Byte])] = Seq(
      "gray 16x16" -> (() => JpegCodec.jpegEncode(16, 16, q, gray(16, 16, 8))),
      "gray 20x12 ri1" -> (() => JpegCodec.jpegEncode(20, 12, q, gray(20, 12, 9), 1)),
      "gray 64x32 ri1" -> (() => JpegCodec.jpegEncode(64, 32, q, gray(64, 32, 9), 1)),
      "gray 24x24 ri4" -> (() => JpegCodec.jpegEncode(24, 24, q, gray(24, 24, 9), 4)),
      "color 1x1" -> (() => color(32, 32, 1, 1, 0)),
      "color 1x1 ri3" -> (() => color(32, 32, 1, 1, 3)),
      "color 2x1" -> (() => color(32, 32, 2, 1, 0)),
      "color 2x1 ri1" -> (() => color(32, 32, 2, 1, 1)),
      "color 1x2" -> (() => color(32, 32, 1, 2, 0)),
      "color 1x2 ri2" -> (() => color(32, 32, 1, 2, 2)),
      "color 2x2" -> (() => color(32, 48, 2, 2, 0)),
      "color 2x2 ri1" -> (() => color(32, 48, 2, 2, 1)),
      "progressive gray" -> (() => JpegCodec.jpegEncodeProgressive(16, 24, q, null,
        Array(pinBlocks(6, 11, 1023, 1023)))),
      "progressive color" -> (() => JpegCodec.jpegEncodeProgressive(24, 16, q, qc,
        Array.tabulate(3)(c => pinBlocks(6, 12 + c, 1023, 1023)))),
      // 32,768 blocks with all-zero AC: the EOB run reaches its 0x7FFF cap.
      "progressive eob cap" -> (() => JpegCodec.jpegEncodeProgressive(2048, 1024, q, null,
        Array(Array.tabulate(32768) { b => val c = new Array[Int](64); c(0) = b % 5; c }))),
      "cmyk ct0" -> (() => cmyk(0, 0)),
      "cmyk ct2 ri2" -> (() => cmyk(2, 2)),
      "lossless p8 sel1" -> (() => lossless(9, 6, 8, 1, 0, 0)),
      "lossless p8 sel2" -> (() => lossless(9, 6, 8, 2, 0, 0)),
      "lossless p8 sel3" -> (() => lossless(9, 6, 8, 3, 0, 0)),
      "lossless p8 sel4" -> (() => lossless(9, 6, 8, 4, 0, 0)),
      "lossless p8 sel5" -> (() => lossless(9, 6, 8, 5, 0, 0)),
      "lossless p8 sel6" -> (() => lossless(9, 6, 8, 6, 0, 0)),
      "lossless p8 sel7" -> (() => lossless(9, 6, 8, 7, 0, 0)),
      "lossless p2 sel7 pt1" -> (() => lossless(7, 5, 2, 7, 1, 0)),
      "lossless p12 sel4 pt2 ri" -> (() => lossless(11, 7, 12, 4, 2, 11)),
      "lossless p16 sel5 ri2w" -> (() => lossless(6, 9, 16, 5, 0, 12)),
      "lossless ssss16" -> (() => JpegCodec.jpegEncodeLossless(4, 2, 16, 1, 0,
        Array(0, 32768, 65535, 0, 65535, 1, 65534, 2))),
      "12-bit" -> (() => JpegCodec.jpegEncode12(24, 16, q12, pinBlocks(6, 13, 16383, 16383))),
      "12-bit ri3" -> (() => JpegCodec.jpegEncode12(24, 16, q12, pinBlocks(6, 14, 16383, 16383), 3)),
      "jpegHeader 1024x768" -> (() => MediaCodec.jpegHeader(1024, 768)),
      "jpegHeader 1x65535" -> (() => MediaCodec.jpegHeader(1, 65535)),
      "jfifApp0 0" -> (() => graft.multimodal.ExifCodec.jfifApp0(0, 1, 1)),
      "jfifApp0 2" -> (() => graft.multimodal.ExifCodec.jfifApp0(2, 300, 65535)),
      "exifApp1 II" -> (() => graft.multimodal.ExifCodec.exifApp1("CAM1", "MODEL-2", 6,
        "2024:01:02 03:04:05", true)),
      "exifApp1 MM" -> (() => graft.multimodal.ExifCodec.exifApp1("Cam", "M", 1,
        "1999:12:31 23:59:59", false)))
    // SHA-256 of each call's output, taken before the encoders shared one
    // writer; any change to a segment's order or bytes shows here.
    val pinned = Map[String, String](
      "gray 16x16" -> "02c2a4028eb465faf6c59b088304e5567d2e8c6e2a43403485e21471d1704571",
      "gray 20x12 ri1" -> "645bc715b073181f83b9d3c240de174ec892790c098b100281c26a44777ab982",
      "gray 64x32 ri1" -> "d9e0bd961b3774c999b1f3e818a047396c504ca65befc92366ed0292a8b98423",
      "gray 24x24 ri4" -> "6433efdb4d66e32d1645566540f7fe3b2daf8bfa5bd2d7a0bb89b5a20c729e28",
      "color 1x1" -> "78ea4d9864d4384c8678d07acb7be5feaaa66d1e5ecc5e7f89a1b14cf1903fe9",
      "color 1x1 ri3" -> "02277e7c90937aaa7ad997812956bba8c6bd2910175589f311bd522b92c9af58",
      "color 2x1" -> "b65fd4204d999ff2618ff897b395259400cb14742805706c30fbecb59bb81406",
      "color 2x1 ri1" -> "5d20338ec9226888b0cc66d6d9b755a21a4928b753b68ceb87b40383a4961924",
      "color 1x2" -> "f31ce0c04cfb3982d65499422a98471b80c201ff36599a49dd57fa1f9e4676fb",
      "color 1x2 ri2" -> "7f9305f1b6cb23670fa86f9686897507e0e24a5ad99b9cde9f763dbcc5133f3e",
      "color 2x2" -> "74f54544dca508b5381ca340287b877e5d3461a67cbc8fd71ea6aa12d268d42d",
      "color 2x2 ri1" -> "e279c6d528d43ec60a7f729b86cdb65a309191da2d162d7ba1933683adae963d",
      "progressive gray" -> "0a032551f07d641bc75cb843aa7d357445532aab7b7a53628333734299e410fa",
      "progressive color" -> "15bb77d03906a7a2966a0bfcc02601f313523a4fdd2ffd067394f0d1958de763",
      "progressive eob cap" -> "56563c48beb1b922ef371d0bc92db7859105d505b087edb4778f6bca5d53fcd2",
      "cmyk ct0" -> "c8f532db972afe302e98892fe179a85b3501b9c8a062ba73c7dd59b19d9e3e1c",
      "cmyk ct2 ri2" -> "5595dba1b1fb3d7d34786e18523b19802aa5b98df250ef581aebb209b93b3e8b",
      "lossless p8 sel1" -> "aaab6e51f997093feba96dff55904fe9759927fd307b758d36c36511a7a129cb",
      "lossless p8 sel2" -> "4bdf61aab1c9c23ca04588409150f42e03a123e5153378605d1b318dc8693bb4",
      "lossless p8 sel3" -> "fa25bc21c2c0a1316b26454d439638582a30af7274b782a814471f9addd9b132",
      "lossless p8 sel4" -> "e06ee83137bdd1b4ba6e4ffc59a8318cabcb133a1d26108d9a7c90535d0e5c37",
      "lossless p8 sel5" -> "88fd5fbab85d015da4783d4caa1e5ffd9b53ed15f806727f2d26b38016f46534",
      "lossless p8 sel6" -> "8112d12c0dbf9e457f01a899a1670499b632e502bf24a2938fdae13882f0fb5d",
      "lossless p8 sel7" -> "a3fbe6864346c99ced24f4e31436dcde349bf69b139ee289cac72e0cee1173df",
      "lossless p2 sel7 pt1" -> "a7844ca4fcdac26acae71f0877505f82a126e59cfccc3265aebb64fa313c5697",
      "lossless p12 sel4 pt2 ri" -> "4b880bbf899bf55d6f7906ef2aa7b39ef0c6675ef1305cebecec81096fc34326",
      "lossless p16 sel5 ri2w" -> "c81583415e248eb61c4b1fcbde39b4cc2f6e7a3bc5ff85a94aaddb383f994fb2",
      "lossless ssss16" -> "3361142f2ee63bda444ffdc6bdb9f30278e5f149bedccd38028f9e1f6a79092d",
      "12-bit" -> "d553f173652e43ad363e2fd0b7a0575dbba60b13cc1397efac4265eef012fe2a",
      "12-bit ri3" -> "92ce28e3518231481127bea58275874c96e29e63ddf0476dcbba78bc49c0169b",
      "jpegHeader 1024x768" -> "b444657206e92d88a7fd34d4ff7577f71ac04f3583a4e4fdecaea01c2fc9fb41",
      "jpegHeader 1x65535" -> "38ddf9cff7fd6942356442c6c51ee9093740f6750daf687cfa21c45898aa990f",
      "jfifApp0 0" -> "4ee93f04ce50acbb8abde17758e15ab55ac708c92dccaefb0c48f7c4a7a608bf",
      "jfifApp0 2" -> "4af82d5d83aa2c7ef5dcb4558ab5354fd1a66f1d2ae8f72b0c923ddcbd9631e2",
      "exifApp1 II" -> "913490407815b5fe76daf63616162efeaba3845914717d8c94fcf588720a64b2",
      "exifApp1 MM" -> "1eb8d3bba8ccf62d5558623a148c421cc8fb76c55649acd6d796f861556ed591")
    def sha(b: Array[Byte]) =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    val got = cases.map { case (name, f) => name -> sha(f()) }
    val wrong = got.filter { case (name, h) => !pinned.get(name).contains(h) }
    assert(wrong.isEmpty, wrong.map { case (n, h) => s"\"$n\" -> \"$h\"," }.mkString("\n", "\n", ""))
  }

  test("JPEG encoders reject a restart interval outside 0..0xFFFF instead of truncating its DRI") {
    val q = Array.fill(64)(4)
    val blocks = pinBlocks(4, 15, 100, 100)
    for (ri <- Seq(0x10000, 0x10001, -1)) {
      // Width 1 makes every interval a multiple of the line length, the
      // lossless encoder's own restart rule.
      val calls: Seq[(String, () => Array[Byte])] = Seq(
        "baseline" -> (() => JpegCodec.jpegEncode(16, 16, q, blocks, ri)),
        "color" -> (() => JpegCodec.jpegEncodeColor(16, 16, q, q, blocks, blocks, blocks,
          restartInterval = ri)),
        "cmyk" -> (() => JpegCodec.jpegEncodeCmyk(16, 16, q, Array.fill(4)(blocks), ri)),
        "12-bit" -> (() => JpegCodec.jpegEncode12(16, 16, q, blocks, ri)),
        "lossless" -> (() => JpegCodec.jpegEncodeLossless(1, 4, 8, 1, 0, Array(1, 2, 3, 4), ri)))
      calls.foreach { case (name, f) =>
        withClue(s"$name, interval $ri: ")(intercept[IllegalArgumentException](f()))
      }
    }
  }
}
