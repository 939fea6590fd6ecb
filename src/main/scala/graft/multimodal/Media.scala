package graft.multimodal

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.ServiceLoader
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.spi.ImageReaderSpi
import javax.imageio.stream.MemoryCacheImageInputStream
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
  UnsupportedAudioFileException}
import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}
import scala.jdk.CollectionConverters._

/** Image and audio payloads through the JDK's own codecs
  * (`javax.imageio` for BMP/PNG/GIF/JPEG, `javax.sound.sampled` for
  * WAV). This object only converts between their types and the flat
  * arrays the feature code works on, and turns every way a payload can
  * fail to decode into one [[FormatException]] that names the format
  * and the cause.
  */
object Media {

  // no temp files on executors: reads stream from a memory cache by
  // construction, and ImageIO's output streams are told to do the same
  ImageIO.setUseCache(false)

  /** Decoded pixels: RGB interleaved, row-major, top-down. */
  final case class Image(width: Int, height: Int, rgb: Array[Byte])

  /** Decoded 16-bit PCM: interleaved samples, all channels. */
  final case class Pcm(sampleRate: Int, channels: Int, samples: Array[Short])

  /** The JDK reader provider of each image kind `Multimodal.sniffKind`
    * names, looked up once: a payload is handed to its kind's reader
    * alone, with no probe of every registered reader.
    */
  private lazy val readerSpis: Map[String, ImageReaderSpi] =
    Seq("bmp", "png", "gif", "jpeg").map(k => k ->
      ImageIO.getImageReadersByFormatName(k).next().getOriginatingProvider
    ).toMap

  /** Pixels one payload may declare. No JDK raster takes more than 8
    * bytes a pixel (16-bit RGBA), so a decode stays within 1 GiB of
    * raster plus 384 MiB of RGB, well under one array.
    */
  private val MaxPixels: Long = 1L << 27

  /** Decode a payload of image `kind` ("bmp", "png", "gif", "jpeg").
    * The declared size is read from the header and refused past
    * [[MaxPixels]] before anything is allocated; a reader warning (e.g.
    * a truncated JPEG scan, which the JDK fills with gray) is a
    * rejection too.
    */
  def decodeImage(kind: String, bytes: Array[Byte]): Image = {
    val spi = readerSpis.getOrElse(kind,
      throw new FormatException(s"$kind: not an image kind"))
    val reader = spi.createReaderInstance()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    try {
      var warning: String = null
      reader.addIIOReadWarningListener((_, msg) => warning = msg)
      reader.setInput(in, true, true)
      val (w, h) = (reader.getWidth(0), reader.getHeight(0))
      Codec.check(w > 0 && h > 0 && w.toLong * h <= MaxPixels,
        s"$kind: implausible dimensions ${w}x$h")
      val img = reader.read(0)
      Codec.check(warning == null, s"$kind: $warning")
      toImage(img)
    } catch {
      case e: FormatException => throw e
      case e @ (_: IOException | _: RuntimeException) =>
        throw new FormatException(s"$kind: $e")
    } finally {
      reader.dispose()
      in.close()
    }
  }

  private def toImage(img: BufferedImage): Image = {
    val (w, h) = (img.getWidth, img.getHeight)
    val rgb = new Array[Byte](w * h * 3)
    // gray color models map samples through a linear-to-sRGB curve in
    // getRGB; the gray level itself is the first band's sample
    val cm = img.getColorModel
    val grayShift =
      if (cm.getColorSpace.getType == ColorSpace.TYPE_GRAY)
        cm.getComponentSize(0) - 8
      else -1
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      if (grayShift >= 0) img.getRaster.getSamples(0, y, w, 1, 0, row)
      else img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        val p = row(x)
        if (grayShift >= 0) {
          val v = (p >> grayShift).toByte
          rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
        } else {
          rgb(o) = (p >> 16).toByte; rgb(o + 1) = (p >> 8).toByte
          rgb(o + 2) = p.toByte
        }
        x += 1
      }
      y += 1
    }
    Image(w, h, rgb)
  }

  /** Encode as `format` ("bmp", "png", "gif", "jpeg"); JPEG is written
    * at quality 1.0. GIF is written from an exact palette (at most 256
    * colors) and not interlaced, so it round-trips exactly like BMP and
    * PNG.
    */
  def encodeImage(img: Image, format: String): Array[Byte] = {
    require(img.width > 0 && img.height > 0 &&
      img.rgb.length == img.width * img.height * 3,
      s"rgb length ${img.rgb.length} != ${img.width}x${img.height}x3")
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    val param = writer.getDefaultWriteParam
    val buf = format match {
      case "gif" =>
        // the logical screen size is u16; a larger one would be truncated
        require(img.width <= 0xffff && img.height <= 0xffff,
          s"GIF dimensions ${img.width}x${img.height} exceed 65535")
        param.setProgressiveMode(ImageWriteParam.MODE_DISABLED)
        indexed(img)
      case _ =>
        if (format == "jpeg") {
          param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
          param.setCompressionQuality(1f)
        }
        val b = new BufferedImage(img.width, img.height,
          BufferedImage.TYPE_3BYTE_BGR)
        // data elements go in band order, and band 0 of 3BYTE_BGR is red
        b.getRaster.setDataElements(0, 0, img.width, img.height, img.rgb)
        b
    }
    val bos = new ByteArrayOutputStream()
    val out = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(buf, null, null), param)
    } finally {
      out.close()
      writer.dispose()
    }
    bos.toByteArray
  }

  private def indexed(img: Image): BufferedImage = {
    val n = img.width * img.height
    val colors = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    val idx = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val c = ((img.rgb(3 * i) & 0xff) << 16) |
        ((img.rgb(3 * i + 1) & 0xff) << 8) | (img.rgb(3 * i + 2) & 0xff)
      idx(i) = colors.getOrElseUpdate(c, {
        require(colors.size < 256, "GIF needs at most 256 distinct colors")
        colors.size
      }).toByte
      i += 1
    }
    val pal = colors.keys.toArray
    val cm = new IndexColorModel(8, pal.length, pal.map(c => (c >> 16).toByte),
      pal.map(c => (c >> 8).toByte), pal.map(_.toByte))
    val b = new BufferedImage(img.width, img.height,
      BufferedImage.TYPE_BYTE_INDEXED, cm)
    b.getRaster.setDataElements(0, 0, img.width, img.height, idx)
    b
  }

  // AudioSystem finds its readers and writers with a service-loader
  // scan of the whole class path on every call, which on an executor's
  // class path of a few hundred jars costs more than the decode. The
  // JDK's own providers are listed once instead, with a fresh instance
  // per call as AudioSystem makes. The reader of the canonical WAV that
  // encodeWav writes goes first, so such a file decodes without the
  // other readers' failed attempts (the MIDI reader's attempt scans the
  // class path itself); the rest keep the JDK's order, for the WAV
  // flavors that reader does not read.
  private lazy val audioReaders = {
    val all = ServiceLoader.loadInstalled(classOf[AudioFileReader])
      .stream().toList.asScala.toSeq
    val canonical = encodeWav(Pcm(8000, 1, Array[Short](0)))
    val (wav, rest) = all.partition(p => scala.util.Try(p.get()
      .getAudioFileFormat(new ByteArrayInputStream(canonical))).isSuccess)
    wav ++ rest
  }
  private lazy val audioWriters =
    ServiceLoader.loadInstalled(classOf[AudioFileWriter]).stream().toList.asScala

  /** Decode a 16-bit signed PCM WAV. The declared data size is checked
    * against the bytes present: a short data chunk is a rejection, not a
    * silently shorter signal.
    */
  def decodeWav(bytes: Array[Byte]): Pcm =
    try {
      val in = audioReaders.iterator.flatMap { p =>
        try Some(p.get().getAudioInputStream(new ByteArrayInputStream(bytes)))
        catch { case _: UnsupportedAudioFileException => None }
      }.nextOption().getOrElse(
        throw new FormatException("wav: no audio reader recognizes the payload"))
      val f = in.getFormat
      Codec.check(f.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
        f.getSampleSizeInBits == 16 && !f.isBigEndian,
        s"wav: only 16-bit little-endian signed PCM is decoded (got $f)")
      val data = in.readAllBytes()
      Codec.check(data.length.toLong == in.getFrameLength * f.getFrameSize,
        s"wav: data chunk declares ${in.getFrameLength} frames, " +
          s"holds ${data.length / f.getFrameSize}")
      val samples = new Array[Short](data.length / 2)
      ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer
        .get(samples)
      Pcm(f.getSampleRate.toInt, f.getChannels, samples)
    } catch {
      case e: FormatException => throw e
      case e @ (_: IOException | _: RuntimeException) =>
        throw new FormatException(s"wav: $e")
    }

  /** Encode as a canonical 44-byte-header WAV. */
  def encodeWav(p: Pcm): Array[Byte] = {
    require(p.channels >= 1 && p.samples.length % p.channels == 0,
      s"${p.samples.length} samples do not fill ${p.channels}-channel frames")
    val data = new Array[Byte](p.samples.length * 2)
    ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer
      .put(p.samples)
    val fmt = new AudioFormat(p.sampleRate.toFloat, 16, p.channels, true, false)
    val in = new AudioInputStream(new ByteArrayInputStream(data), fmt,
      p.samples.length / p.channels)
    val writer = audioWriters.iterator.map(_.get())
      .find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, in))
      .getOrElse(throw new IllegalStateException("no WAV writer for " + fmt))
    val out = new ByteArrayOutputStream()
    writer.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }
}
