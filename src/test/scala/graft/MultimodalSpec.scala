package graft

import org.apache.spark.sql.functions._
import graft.multimodal.{FormatException, Media, Multimodal}
import graft.multimodal.Media.{Image, Pcm}

/** Multimodal binary-column plumbing: metadata, sniffing, the
  * partition-parallel feature-extraction stage, and the JDK codecs
  * behind `Media` on every format the queries decode.
  */
class MultimodalSpec extends SparkFunSuite {
  import spark.implicits._

  private val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 1, 2)
  private val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 3, 4)
  private val txt = "hello world".getBytes("UTF-8")

  test("sniffKind detects jpeg/png magic, unknown otherwise") {
    val df = Seq((1L, jpeg), (2L, png), (3L, txt)).toDF("id", "payload")
    val kinds = Multimodal.withMeta(df, "payload")
      .select($"id", $"kind").as[(Long, String)].collect().toMap
    assert(kinds === Map(1L -> "jpeg", 2L -> "png", 3L -> "unknown"))
  }

  test("withMeta exposes byte length and header hex") {
    val df = Seq((1L, txt)).toDF("id", "payload")
    val r = Multimodal.withMeta(df, "payload")
      .select($"byte_len", $"header_hex").as[(Int, String)].head()
    assert(r._1 === 11)
    assert(r._2 === "68656c6c6f20776f") // "hello wo"
  }

  test("sniffKind + extractFeatures: real headers per kind, per-kind rows") {
    import graft.multimodal.Multimodal.{GifHeader, JpegHeader, PngHeader, RiffWaveHeader}
    val body = "payload-bytes".getBytes("UTF-8")
    val df = Seq(
      (1L, PngHeader ++ body), (2L, JpegHeader ++ body),
      (3L, RiffWaveHeader ++ body), (4L, GifHeader ++ body),
      (5L, body)).toDF("id", "payload")
    val byKind = Multimodal.extractFeatures(spark, df).toDF()
      .groupBy("kind").count().as[(String, Long)].collect().toMap
    assert(byKind === Map("png" -> 1L, "jpeg" -> 1L, "riff" -> 1L,
      "gif" -> 1L, "unknown" -> 1L))
  }

  test("sampleFrames + resizeStub: bounded frame count, fixed-size thumbs") {
    val payload = (0 until 1000).map(_.toByte).toArray
    val df = Seq((1L, payload), (2L, Array.empty[Byte])).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(spark, df, everyN = 100,
      maxFrames = 3).collect().map(f => f.id -> f).toMap
    assert(frames(1L).n_frames === 3) // capped, not 10
    assert(frames(1L).frames.forall(_.length <= 100))
    assert(frames(2L).n_frames === 0)
    val thumb = Multimodal.resizeStub(payload, 8, 8)
    assert(thumb.length === 64)
    assert(Multimodal.resizeStub(payload, 8, 8).toSeq === thumb.toSeq)
    assert(Multimodal.resizeStub(Array.empty[Byte], 8, 8).length === 64)
  }

  test("extractFeatures: fixed-size normalized features, deterministic") {
    val df = Seq((1L, jpeg), (2L, txt)).toDF("id", "payload")
    val feats = Multimodal.extractFeatures(spark, df).collect()
      .map(f => f.id -> f).toMap
    assert(feats(1L).kind === "jpeg" && feats(2L).kind === "unknown")
    feats.values.foreach { f =>
      assert(f.feature.length === 16)
      assert(math.abs(f.feature.sum - 1.0f) < 1e-5)
    }
    val again = Multimodal.extractFeatures(spark, df).collect()
      .map(f => f.id -> f.feature.toSeq).toMap
    assert(again === feats.view.mapValues(_.feature.toSeq).toMap)
  }

  test("boxResize: hand-computed uneven boxes; identity resize; guards") {
    import graft.multimodal.Multimodal
    // 3x2 → 2x1: columns {0,1}→ox0, {2}→ox1; both rows →oy0
    // pixels r-channel = 10*(y*3+x), g=b=0
    val rgb = Array.tabulate(3 * 2 * 3)(i =>
      if (i % 3 == 0) (10 * (i / 3)).toByte else 0.toByte)
    val t = Multimodal.boxResize(3, 2, rgb, 2, 1)
    // ox0 box: pixels (0,0),(1,0),(0,1),(1,1) → r mean (0+10+30+40)/4=20
    // ox1 box: pixels (2,0),(2,1) → (20+50)/2=35
    assert((t(0) & 0xff) == 20 && (t(3) & 0xff) == 35)
    assert(t(1) == 0 && t(2) == 0 && t(4) == 0 && t(5) == 0)
    // identity: ow=w, oh=h returns the source values
    val id3 = Multimodal.boxResize(3, 2, rgb, 3, 2)
    assert(id3.toSeq == rgb.toSeq)
    intercept[IllegalArgumentException] {
      Multimodal.boxResize(3, 2, rgb, 4, 1) // upscale unsupported
    }
    intercept[IllegalArgumentException] {
      Multimodal.boxResize(3, 2, rgb.take(5), 2, 1)
    }
  }

  private def rejects(bytes: Array[Byte], fmt: String): FormatException = {
    val e = intercept[FormatException](Media.decodeImage(fmt, bytes))
    assert(e.getMessage.startsWith(s"$fmt:"), e.getMessage)
    e
  }

  /** [[rejects]], and the rejection allocates under 16 MB on the
    * calling thread (after a warm-up decode of a valid `warm` payload):
    * a header declaring gigabytes is refused before any pixel buffer.
    */
  private def rejectsUnallocated(bytes: Array[Byte], fmt: String,
                                 warm: Array[Byte]): FormatException = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    Media.decodeImage(fmt, warm)
    val before = mx.getThreadAllocatedBytes(tid)
    val e = rejects(bytes, fmt)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(allocated < (16L << 20), s"$fmt rejection allocated $allocated bytes")
    e
  }

  test("Bmp round-trips RGB through padding, bottom-up storage, BGR order") {
    // width 5 → 15-byte rows padded to 16; asymmetric pixels catch
    // row-order or channel-order mistakes
    val rgb = Array.tabulate(5 * 3 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val bytes = Media.encodeImage(Image(5, 3, rgb), "bmp")
    assert(bytes(0) == 'B' && bytes(1) == 'M' && bytes.length === 54 + 16 * 3)
    assert(((bytes(18) & 0xff): Int) === 5 && ((bytes(22) & 0xff): Int) === 3)
    // bottom-up rows, B,G,R: the file's first pixel is the last row's first
    assert(bytes.slice(54, 57).toSeq === Seq(rgb(32), rgb(31), rgb(30)))
    val back = Media.decodeImage("bmp", bytes)
    assert(back.width === 5 && back.height === 3)
    assert(back.rgb.toSeq === rgb.toSeq)
  }

  test("Bmp decodes top-down (negative height) files too") {
    val rgb = Array.tabulate(2 * 2 * 3)(i => (i * 19).toByte)
    val bytes = Media.encodeImage(Image(2, 2, rgb), "bmp")
    // flip to top-down: height := -2, rows already bottom-up in the file
    // → reverse the two rows so pixel content is unchanged
    val h = -2
    bytes(22) = (h & 0xff).toByte; bytes(23) = ((h >> 8) & 0xff).toByte
    bytes(24) = ((h >> 16) & 0xff).toByte; bytes(25) = ((h >> 24) & 0xff).toByte
    val rowBytes = ((2 * 3 + 3) / 4) * 4
    val row0 = bytes.slice(54, 54 + rowBytes)
    Array.copy(bytes, 54 + rowBytes, bytes, 54, rowBytes)
    Array.copy(row0, 0, bytes, 54 + rowBytes, rowBytes)
    assert(Media.decodeImage("bmp", bytes).rgb.toSeq === rgb.toSeq)
  }

  test("Bmp round-trips every width 1..9 (all pad remainders) and height 1..4") {
    val rnd = new java.util.Random(7)
    for (w <- 1 to 9; h <- 1 to 4) {
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val back = Media.decodeImage("bmp", Media.encodeImage(Image(w, h, rgb), "bmp"))
      assert(back.width === w && back.height === h)
      assert(back.rgb.toSeq === rgb.toSeq, s"mismatch at ${w}x$h")
    }
  }

  test("Bmp.decode rejects non-BMP and unsupported flavors loudly") {
    rejects("nope".getBytes, "bmp")
    rejects(Multimodal.RiffWaveHeader, "riff") // not an image kind
    val ok = Media.encodeImage(Image(2, 2, new Array[Byte](12)), "bmp")
    val badHeader = ok.clone(); badHeader(14) = 52 // no such info-header size
    rejects(badHeader, "bmp")
    rejects(ok.take(40), "bmp") // truncated inside the info header
  }

  test("Wav round-trips samples, rate and channels through encode/decode") {
    val rnd = new java.util.Random(11)
    for (n <- Seq(0, 1, 7, 64, 513); ch <- Seq(1, 2)) {
      val samples = Array.fill(n)(rnd.nextInt(65536).toShort)
      if (n % ch != 0) // a partial frame is not a WAV the encoder writes
        intercept[IllegalArgumentException](
          Media.encodeWav(Pcm(8000, ch, samples)))
      else {
        val bytes = Media.encodeWav(Pcm(8000, ch, samples))
        assert(bytes.length === 44 + 2 * n, "canonical 44-byte header")
        val back = Media.decodeWav(bytes)
        assert(back.sampleRate === 8000 && back.channels === ch)
        assert(back.samples.toSeq === samples.toSeq, s"mismatch at n=$n ch=$ch")
      }
    }
  }

  test("Wav.decode walks unknown chunks and honors RIFF word alignment") {
    val samples = Array[Short](100, -200, 300)
    val canonical = Media.encodeWav(Pcm(8000, 1, samples))
    // splice an odd-sized unknown chunk between 'fmt ' and 'data':
    // 'junk' + size 3 + 3 payload bytes + 1 alignment pad byte
    val junk = "junk".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](9, 9, 9) ++ Array[Byte](0)
    val spliced = canonical.take(36) ++ junk ++ canonical.drop(36)
    val back = Media.decodeWav(spliced)
    assert(back.samples.toSeq === samples.toSeq)
  }

  test("Wav.decode rejects non-WAV and unsupported flavors loudly") {
    intercept[FormatException](Media.decodeWav("RIFFxxxx".getBytes))
    intercept[FormatException](
      Media.decodeWav(Multimodal.RiffWaveHeader ++ "just text".getBytes)) // no chunks
    val ok = Media.encodeWav(Pcm(8000, 1, Array[Short](1, 2)))
    val nonPcm = ok.clone(); nonPcm(20) = 3           // IEEE float format
    intercept[FormatException](Media.decodeWav(nonPcm))
    val bad8 = ok.clone(); bad8(34) = 8               // 8 bits per sample
    intercept[FormatException](Media.decodeWav(bad8))
    val overrun = ok.clone(); overrun(40) = 127       // data size > remaining
    val e = intercept[FormatException](Media.decodeWav(overrun))
    assert(e.getMessage.startsWith("wav:"), e.getMessage)
  }

  test("extractFeatures dispatches riff to the REAL wav decoder, with row fallback") {
    // all samples in amplitude bin 0 (most negative 4096-wide band)
    val low = Media.encodeWav(Pcm(8000, 1, Array.fill(32)((-32768).toShort)))
    // sniffs as riff but isn't a parseable WAV → per-row stub fallback
    val fake = Multimodal.RiffWaveHeader ++ "not really audio".getBytes
    val out = Multimodal.extractFeatures(spark,
      Seq((1L, low), (2L, fake)).toDF("id", "payload"))
      .collect().map(f => f.id -> f).toMap
    assert(out(1L).kind === "wav")
    assert(out(1L).feature(0) === 1.0f && out(1L).feature.sum === 1.0f)
    assert(out(2L).kind === "riff") // sniff kind kept honest on fallback
    // stub feature = byte histogram, mass spread beyond bin 0
    assert(out(2L).feature(0) < 1.0f)
  }

  test("extractFeatures dispatches bmp to the REAL pixel decoder") {
    // a solid mid-gray image: every pixel luma 128 → all mass in bin 8
    val gray = Array.fill(4 * 4 * 3)(128.toByte)
    val bmp = Media.encodeImage(Image(4, 4, gray), "bmp")
    val df = Seq((7L, bmp)).toDF("id", "payload")
    val f = Multimodal.extractFeatures(spark, df).collect().head
    assert(f.kind === "bmp")
    assert(f.feature(8) === 1.0f && f.feature.sum === 1.0f)
    // the stub (byte histogram over the whole file) would spread mass
    // over header bytes — the real decoder must not
  }

  test("decoded-size bound: BMP and PNG declaring 50000x50000 degrade to the stub without allocating") {
    def putLe(b: Array[Byte], off: Int, v: Int): Unit =
      for (k <- 0 until 4) b(off + k) = (v >>> (8 * k)).toByte
    def putBe(b: Array[Byte], off: Int, v: Int): Unit =
      for (k <- 0 until 4) b(off + k) = (v >>> (24 - 8 * k)).toByte
    val small = Image(2, 2, Array.tabulate(12)(_.toByte))
    val bmp = Media.encodeImage(small, "bmp")
    putLe(bmp, 18, 50000); putLe(bmp, 22, 50000)
    val png = Media.encodeImage(small, "png")
    putBe(png, 16, 50000); putBe(png, 20, 50000)
    val crc = new java.util.zip.CRC32()
    crc.update(png, 12, 4 + 13)
    putBe(png, 12 + 4 + 13, crc.getValue.toInt)
    // 7.5 GB decoded: refused from the header, before any pixel buffer;
    // the JDK's BMP header check refuses first, PNG reaches the bound
    rejectsUnallocated(bmp, "bmp", Media.encodeImage(small, "bmp"))
    val e = rejectsUnallocated(png, "png", Media.encodeImage(small, "png"))
    assert(e.getMessage.contains("implausible dimensions 50000x50000"), e.getMessage)
    val fs = Multimodal.extractFeatures(spark,
      Seq((1L, bmp), (2L, png)).toDF("id", "payload")).collect()
      .map(f => f.id -> f).toMap
    assert(fs(1L).kind === "bmp" && fs(2L).kind === "png")
    assert(fs(1L).feature.toSeq === Multimodal.decodeStub(1L, "bmp", bmp).feature.toSeq)
    assert(fs(2L).feature.toSeq === Multimodal.decodeStub(2L, "png", png).feature.toSeq)
  }

  test("Png round-trips arbitrary RGB for every size 1..6 x 1..4") {
    for (w <- 1 to 6; h <- 1 to 4) {
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 131 + 7) % 256).toByte)
      val out = Media.decodeImage("png", Media.encodeImage(Image(w, h, rgb), "png"))
      assert(out.width == w && out.height == h)
      assert(out.rgb.sameElements(rgb), s"pixels corrupted at ${w}x$h")
    }
  }

  test("Png.decode unfilters all five scanline filter types") {
    // hand-filter a known 3x4 image with filters None/Sub/Up/Average/
    // Paeth on successive rows (row 0 must be None-compatible), then
    // deflate + chunk-wrap BY HAND and require exact pixel recovery
    import java.util.zip.{CRC32, Deflater}
    val w = 3; val h = 4; val bpr = w * 3
    val rgb = Array.tabulate(bpr * h)(i => ((i * 37 + 11) % 256).toByte)
    def px(y: Int, x: Int): Int = rgb(y * bpr + x) & 0xff
    val filters = Array(1, 2, 3, 4) // Sub, Up, Average, Paeth per row
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      raw.write(filters(y))
      for (x <- 0 until bpr) {
        val a = if (x >= 3) px(y, x - 3) else 0
        val b = if (y > 0) px(y - 1, x) else 0
        val c = if (x >= 3 && y > 0) px(y - 1, x - 3) else 0
        val v = filters(y) match {
          case 1 => px(y, x) - a
          case 2 => px(y, x) - b
          case 3 => px(y, x) - (a + b) / 2
          case 4 => px(y, x) - paeth(a, b, c)
        }
        raw.write(v & 0xff)
      }
    }
    val d = new Deflater(); d.setInput(raw.toByteArray); d.finish()
    val comp = new Array[Byte](1024)
    val n = d.deflate(comp); d.end()
    def be(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def chunk(t: String, data: Array[Byte]): Array[Byte] = {
      val crc = new CRC32(); crc.update(t.getBytes("US-ASCII"))
      crc.update(data)
      be(data.length) ++ t.getBytes("US-ASCII") ++ data ++ be(crc.getValue.toInt)
    }
    val ihdr = be(w) ++ be(h) ++ Array[Byte](8, 2, 0, 0, 0)
    val png = Multimodal.PngHeader ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", comp.take(n)) ++ chunk("IEND", Array.emptyByteArray)
    val out = Media.decodeImage("png", png)
    assert(out.rgb.sameElements(rgb),
      "filtered scanlines (Sub/Up/Average/Paeth) did not unfilter to the source")
  }

  test("Png.decode rejects garbage and truncation by name") {
    val good = Media.encodeImage(
      Image(6, 4, Array.tabulate(72)(i => (i * 37).toByte)), "png")
    rejects(good.take(20), "png")  // inside IHDR
    rejects(good.take(good.length / 2), "png") // inside IDAT
    rejects(Multimodal.PngHeader ++ "just text behind a magic".getBytes, "png")
    rejects("not a png".getBytes, "png")
  }

  test("Gif round-trips arbitrary RGB for every size 1..6 x 1..4") {
    for (w <- 1 to 6; h <- 1 to 4) {
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 131 + 7) % 256).toByte)
      val bytes = Media.encodeImage(Image(w, h, rgb), "gif")
      val out = Media.decodeImage("gif", bytes)
      assert(out.width == w && out.height == h)
      assert(out.rgb.sameElements(rgb), s"pixels corrupted at ${w}x$h")
    }
  }

  test("Gif LZW survives dictionary growth, width bumps, and the reset path") {
    // 160x120 two-color repetitive image: long runs force composite
    // codes through every width 3..12 and past the 4090-entry reset;
    // a stripe phase shift exercises the code==next self-reference
    val w = 160; val h = 120
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val on = ((x + y * 7) / 3) % 2 == 0
      val i = (y * w + x) * 3
      rgb(i) = if (on) 200.toByte else 10.toByte
      rgb(i + 1) = if (on) 100.toByte else 20.toByte
      rgb(i + 2) = if (on) 50.toByte else 30.toByte
    }
    val bytes = Media.encodeImage(Image(w, h, rgb), "gif")
    // two colors -> real compression must beat 1 byte/pixel handily
    assert(bytes.length < w * h / 2, s"LZW not compressing: ${bytes.length}")
    val out = Media.decodeImage("gif", bytes)
    assert(out.rgb.sameElements(rgb), "pixels corrupted through LZW growth/reset")
  }

  test("codec encoders reject dimensions their formats cannot represent") {
    // GIF descriptors are u16: silently truncated dimensions would
    // emit a file that decodes to the wrong shape
    intercept[IllegalArgumentException](Media.encodeImage(
      Image(70000, 1, new Array[Byte](70000 * 3)), "gif"))
    // and a GIF palette holds at most 256 colors
    intercept[IllegalArgumentException](Media.encodeImage(
      Image(257, 1, Array.tabulate(257 * 3)(i =>
        (if (i % 3 == 0) i / 3 else if (i % 3 == 1) i / 3 / 256 else 0).toByte)),
      "gif"))
    // decode: a PNG header must be bounded even when w*h*3 alone fits
    // one array (the JDK reader would take a 2 GB raster for it before
    // failing on the missing data), and refused by name
    val ihdrW = 1365; val ihdrH = 524288
    val good = Media.encodeImage(Image(2, 2, Array.tabulate(12)(_.toByte)), "png")
    // patch IHDR dims + recompute its CRC
    val b = good.clone()
    def putBe(off: Int, v: Int): Unit = {
      b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
      b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
    }
    putBe(16, ihdrW); putBe(20, ihdrH)
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 4 + 13)
    putBe(12 + 4 + 13, crc.getValue.toInt)
    val ex = rejectsUnallocated(b, "png", good)
    assert(ex.getMessage.contains("implausible dimensions"))
  }

  test("Gif.decode rejects garbage and truncation by name; interlaced files decode") {
    val rgb = Array.tabulate(18)(_.toByte)
    val good = Media.encodeImage(Image(3, 2, rgb), "gif")
    rejects("GIF89a then garbage".getBytes, "gif")
    rejects(good.take(good.length - 6), "gif")
    // the JDK writer interlaces by default: such a file decodes to the
    // same pixels (interlacing is supported, not a rejected flavor)
    val (w, h) = (7, 9)
    val big = Array.tabulate(w * h * 3)(i => ((i * 29) % 256).toByte)
    val indexed = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Media.encodeImage(Image(w, h, big), "gif")))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(indexed, "gif", bos))
    val interlaced = bos.toByteArray
    // walk past the color table and extension blocks to the descriptor
    var off = 13 + (if ((interlaced(10) & 0x80) != 0)
      3 * (2 << (interlaced(10) & 7)) else 0)
    while (interlaced(off) == 0x21) {
      off += 2
      while (interlaced(off) != 0) off += (interlaced(off) & 0xff) + 1
      off += 1
    }
    assert(interlaced(off) == 0x2c && (interlaced(off + 9) & 0x40) != 0,
      "writer did not interlace")
    assert(Media.decodeImage("gif", interlaced).rgb.sameElements(big))
  }

  test("extractFeatures dispatches gif to the REAL decoder, with row fallback") {
    val gray = Array.fill(4 * 4 * 3)(128.toByte)
    val gif = Media.encodeImage(Image(4, 4, gray), "gif")
    val fake = Multimodal.GifHeader ++ "just text behind a magic".getBytes
    val df = Seq((1L, gif), (2L, fake)).toDF("id", "payload")
    val fs = Multimodal.extractFeatures(spark, df).collect()
      .map(f => f.id -> f).toMap
    assert(fs(1L).kind === "gif" && fs(1L).feature(8) === 1.0f)
    assert(fs(2L).kind === "gif" && fs(2L).feature.sum > 0.99f)
  }

  test("extractFeatures dispatches png to the REAL decoder, with row fallback") {
    val gray = Array.fill(4 * 4 * 3)(128.toByte)
    val png = Media.encodeImage(Image(4, 4, gray), "png")
    val fake = Multimodal.PngHeader ++ "just text behind a magic".getBytes
    val df = Seq((1L, png), (2L, fake)).toDF("id", "payload")
    val fs = Multimodal.extractFeatures(spark, df).collect()
      .map(f => f.id -> f).toMap
    assert(fs(1L).kind === "png" && fs(1L).feature(8) === 1.0f)
    // undecodable payload behind the magic degrades to the byte stub
    assert(fs(2L).kind === "png" && fs(2L).feature.sum > 0.99f)
  }

  private def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    var se = 0.0
    for (i <- a.indices) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      se += d.toDouble * d
    }
    10 * math.log10(255.0 * 255.0 / math.max(1e-9, se / a.length))
  }

  private def sofAt(bytes: Array[Byte], marker: Int): Int =
    bytes.indices.find(i => i + 1 < bytes.length &&
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == marker).get

  test("Jpeg: block-constant grayscale at quality 100 is EXACT") {
    // 24x16: six 8x8 blocks, each a distinct constant
    val consts = Array(0, 17, 96, 128, 200, 255)
    val (w, h) = (24, 16)
    val px = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w)
      px(y * w + x) = consts((y / 8) * 3 + (x / 8)).toByte
    // a one-component gray file, and the r = g = b color file the
    // multimodal_jpeg fixture writes: both DC-only, both lossless
    val gray = JpegFixtures.encode(w, h, 1, px, 1f)
    val color = Media.encodeImage(
      Image(w, h, px.flatMap(v => Array(v, v, v))), "jpeg")
    for (bytes <- Seq(gray, color)) {
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      val back = Media.decodeImage("jpeg", bytes)
      assert(back.width === w && back.height === h)
      assert(JpegFixtures.samples(back, 1).toSeq === px.toSeq,
        "DC-only blocks must be lossless")
      assert(back.rgb.grouped(3).forall(p => p(0) == p(1) && p(1) == p(2)))
    }
  }

  test("Jpeg: color 4:4:4 round-trip stays within quantization error") {
    val (w, h) = (17, 11) // non-multiple-of-8: exercises edge padding
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      rgb(i) = ((x * 29 + y * 7) % 256).toByte
      rgb(i + 1) = ((x * 13 + y * 31) % 256).toByte
      rgb(i + 2) = ((x * 5 + y * 17) % 256).toByte
    }
    val bytes = JpegFixtures.encode(w, h, 3, rgb, 0.95f)
    assert((bytes(sofAt(bytes, 0xc0) + 11) & 0xff) === 0x11, "Y not 1x1-sampled")
    val back = Media.decodeImage("jpeg", bytes)
    assert(back.width === w && back.height === h)
    val p = psnr(back.rgb, rgb)
    assert(p > 25.0, f"PSNR $p%.1f dB too low for q95 4:4:4")
  }

  test("Jpeg: 4:2:0 subsampled round-trip (the real-world layout)") {
    val (w, h) = (19, 13) // non-multiple of the 16x16 MCU: edge padding
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      // smooth fields: chroma varies slowly, as 4:2:0 assumes
      rgb(i) = (40 + x * 6 + y * 4).toByte
      rgb(i + 1) = (90 + x * 3 + y * 5).toByte
      rgb(i + 2) = (140 + x * 2 + y * 2).toByte
    }
    val bytes = JpegFixtures.encode(w, h, 3, rgb, 0.95f, subsample = true)
    assert((bytes(sofAt(bytes, 0xc0) + 11) & 0xff) === 0x22, "Y not 2x2-sampled")
    val back = Media.decodeImage("jpeg", bytes)
    assert(back.width === w && back.height === h)
    val p = psnr(back.rgb, rgb)
    assert(p > 25.0, f"4:2:0 PSNR $p%.1f dB too low")
    // and the subsampled stream is genuinely smaller than 4:4:4
    val full = JpegFixtures.encode(w, h, 3, rgb, 0.95f)
    assert(bytes.length < full.length,
      s"4:2:0 (${bytes.length}B) not smaller than 4:4:4 (${full.length}B)")
    // Media writes color JPEG in this layout too, at quality 1.0
    val media = Media.encodeImage(Image(w, h, rgb), "jpeg")
    assert((media(sofAt(media, 0xc0) + 11) & 0xff) === 0x22, "Y not 2x2-sampled")
    assert(psnr(Media.decodeImage("jpeg", media).rgb, rgb) > 25.0)
  }

  test("Jpeg: smooth gradient at quality 90 reconstructs closely") {
    val (w, h) = (32, 32)
    val px = Array.tabulate(w * h)(i => ((i % w) * 4 + (i / w) * 3).toByte)
    val back = JpegFixtures.samples(
      Media.decodeImage("jpeg", JpegFixtures.encode(w, h, 1, px, 0.9f)), 1)
    var maxErr = 0
    for (i <- 0 until w * h)
      maxErr = math.max(maxErr, math.abs((back(i) & 0xff) - (px(i) & 0xff)))
    assert(maxErr <= 8, s"gradient max error $maxErr")
  }

  test("Jpeg: restart intervals (DRI/RSTn) survive both directions") {
    // 40x24 gray = 15 MCUs; interval 4 -> RST0..RST2 mid-stream
    val (w, h) = (40, 24)
    val px = Array.tabulate(w * h)(i => ((i * 7) % 251).toByte)
    val bytes = JpegFixtures.encode(w, h, 1, px, 1f, restartInterval = 4)
    // stream truly contains a DRI segment and at least one RST marker
    assert(bytes.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xdd), "no DRI")
    assert(bytes.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) >= 0xd0 &&
        (p(1) & 0xff) <= 0xd7), "no RSTn in scan")
    val back = Media.decodeImage("jpeg", bytes)
    assert(back.width === w && back.height === h)
    // quality 100 + per-pixel gradient is NOT DC-only, so compare by
    // near-exactness, not equality
    val g = JpegFixtures.samples(back, 1)
    var maxErr = 0
    for (i <- 0 until w * h)
      maxErr = math.max(maxErr, math.abs((g(i) & 0xff) - (px(i) & 0xff)))
    assert(maxErr <= 2, s"restart round-trip max error $maxErr")
    // a 4:2:0 color stream with restarts also round-trips
    val rgb = Array.tabulate(w * h * 3)(i => (50 + (i / 3) % 97).toByte)
    val cBytes = JpegFixtures.encode(w, h, 3, rgb, 0.95f, subsample = true,
      restartInterval = 2)
    val cBack = Media.decodeImage("jpeg", cBytes)
    assert(cBack.width === w && cBack.height === h)
    assert(psnr(cBack.rgb, rgb) > 25.0)
  }

  test("Jpeg.decode rejects non-JPEG, progressive markers, and truncation") {
    rejects("definitely not a jpeg".getBytes, "jpeg")
    val px = Array.fill(8 * 8)(100.toByte)
    val good = JpegFixtures.encode(8, 8, 1, px, 0.75f)
    // flip SOF0 (FFC0) to SOF2 (FFC2): a sequential scan behind a
    // progressive frame header is invalid and must throw, not decode
    val prog = good.clone()
    prog(sofAt(prog, 0xc0) + 1) = 0xc2.toByte
    rejects(prog, "jpeg")
    rejects(java.util.Arrays.copyOfRange(good, 0, good.length / 2), "jpeg")
    // a scan cut short decodes with gray fill and a reader warning: the
    // warning is a rejection, not a half-gray image
    rejects(good.dropRight(6) ++ Array(0xff, 0xd9).map(_.toByte), "jpeg")
    // a real progressive file decodes (the JDK reads SOF2)
    val grad = Array.tabulate(16 * 16)(i => (i % 16 * 8 + i / 16 * 4).toByte)
    val progressive = JpegFixtures.encode(16, 16, 1, grad, 1f, progressive = true)
    assert(progressive.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc2), "not progressive")
    val back = JpegFixtures.samples(Media.decodeImage("jpeg", progressive), 1)
    assert(back.indices.forall(i => math.abs((back(i) & 0xff) - (grad(i) & 0xff)) <= 2))
  }

  test("extractFeatures dispatches jpeg to the REAL decoder, with row fallback") {
    val px = Array.fill(8 * 8 * 3)(136.toByte) // constant -> exact -> bin 8
    val jpg = Media.encodeImage(Image(8, 8, px), "jpeg")
    val fake = Multimodal.JpegHeader ++ "just text behind a magic".getBytes
    val df = Seq((1L, jpg), (2L, fake)).toDF("id", "payload")
    val fs = Multimodal.extractFeatures(spark, df).collect()
      .map(f => f.id -> f).toMap
    assert(fs(1L).kind === "jpeg" && fs(1L).feature(8) === 1.0f)
    assert(fs(2L).kind === "jpeg" && fs(2L).feature.sum > 0.99f)
  }

  test("dhash: brightness-shift invariant, gradient-sensitive, 16 hex chars") {
    def img(shift: Int, f: (Int, Int) => Int): Array[Byte] = {
      val rgb = new Array[Byte](9 * 8 * 3)
      for (y <- 0 until 8; x <- 0 until 9; c <- 0 until 3)
        rgb((y * 9 + x) * 3 + c) = (f(x, y) + shift).toByte
      rgb
    }
    // gradient image, values 0..120 so +100 shifts without wrap
    val base = img(0, (x, y) => x * 10 + y * 5)
    val h0 = Multimodal.dhash(9, 8, base)
    assert(h0.length === 16 && h0.matches("[0-9a-f]{16}"))
    // uniform brightness shift: gradients unchanged -> SAME hash
    assert(Multimodal.dhash(9, 8, img(100, (x, y) => x * 10 + y * 5)) === h0)
    // reversed gradient: every comparison flips -> different hash
    val rev = Multimodal.dhash(9, 8, img(0, (x, y) => 120 - x * 10))
    assert(rev !== h0)
    // monotone-increasing rows: all 8 bits set per row -> "ff" x 8
    assert(h0 === "ff" * 8)
    assert(rev === "00" * 8)
    // larger image reaches the same hash via the box resample
    val big = new Array[Byte](18 * 16 * 3)
    for (y <- 0 until 16; x <- 0 until 18; c <- 0 until 3)
      big((y * 18 + x) * 3 + c) = ((x / 2) * 10 + (y / 2) * 5).toByte
    assert(Multimodal.dhash(18, 16, big) === h0)
  }

  test("multimodal_phash finds every planted duplicate pair at gate SF") {
    val pairs = SparkEntry.queries("multimodal_phash")(spark, SparkSpec.Sf0001)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // ids 160..199: id % 4 == 3 re-encodes id - 3
    val planted = (160L until 200L).filter(_ % 4 == 3).map(i => (i - 3, i))
    planted.foreach { p =>
      assert(pairs.contains(p), s"planted duplicate pair $p not found")
    }
  }

  test("multimodal_neardup finds every perturbed near-dup within hamming 3") {
    val rows = SparkEntry.queries("multimodal_neardup")(spark, SparkSpec.Sf0001)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Long]("hamming")).toMap
    // ids 200..239: id % 4 == 3 is id - 3 with one pixel forced white
    val planted = (200L until 240L).filter(_ % 4 == 3).map(i => (i - 3, i))
    planted.foreach { p =>
      assert(rows.contains(p), s"planted near-dup pair $p not found")
      assert(rows(p) <= 3L, s"pair $p hamming ${rows(p)} > 3")
    }
    // the perturbation must actually flip bits somewhere (this is the
    // near-MISS path, not the exact-dup path)
    assert(planted.exists(p => rows(p) > 0L),
      "every planted pair hashed identically — perturbation too weak")
  }
}
