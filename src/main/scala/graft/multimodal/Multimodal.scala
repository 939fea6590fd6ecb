package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (BASELINE.json north-star): image/audio/
  * video payloads ride as opaque `binary` columns with typed metadata;
  * decode / feature-extraction runs batched per partition.
  *
  * BMP, PNG, GIF and JPEG payloads decode to pixels and WAV payloads to
  * 16-bit samples through the JDK's own codecs ([[Media]]); features
  * are histograms over what decoded. `decodeStub` (a histogram of the
  * raw bytes) covers unknown kinds and is the per-row degradation
  * target for a payload that sniffs as a format but does not decode.
  *
  * Scale notes: payload bytes stay in the partition where they were read
  * (`mapPartitions` is narrow — no shuffle of blobs); only the fixed-size
  * feature vectors and scalar metadata flow onward. Control batch memory
  * with `spark.sql.files.maxPartitionBytes` at read time, not here.
  */
object Multimodal {

  /** Real file-format signatures (fixture building, tests): the exact
    * leading bytes a genuine file of each kind starts with.
    */
  val PngHeader: Array[Byte] = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a,
    0x1a, 0x0a).map(_.toByte)
  val JpegHeader: Array[Byte] = Array(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10,
    0x4a, 0x46, 0x49, 0x46, 0x00).map(_.toByte) // SOI + APP0 "JFIF"
  val RiffWaveHeader: Array[Byte] =
    "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII")
  val GifHeader: Array[Byte] = "GIF89a".getBytes("US-ASCII")

  /** Magic-number content sniffing on the leading bytes — pure built-in
    * expressions (hex of a binary prefix), codegen'd.
    */
  def sniffKind(bin: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h8 = hex(substring(bin, 1, 4)) // upper-case digits already
    when(h8.startsWith("FFD8FF"), "jpeg")
      .when(h8 === "89504E47", "png")
      .when(h8 === "52494646", "riff") // wav/avi container
      .when(h8 === "47494638", "gif")
      .when(h8.startsWith("424D"), "bmp")
      .otherwise("unknown")
  }

  /** Typed metadata projection over a binary column: byte length, header
    * hex, sniffed kind.
    */
  def withMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("byte_len", length(col(binCol)))
      .withColumn("header_hex", lower(hex(substring(col(binCol), 1, 8))))
      .withColumn("kind", sniffKind(col(binCol)))

  final case class Feature(id: Long, kind: String, n_bytes: Long,
                           feature: Array[Float])

  /** 16-bin histogram of `n` bin indices, L1-normalized. */
  private def histFeature(id: Long, kind: String, nBytes: Long, n: Int)(
      bin: Int => Int): Feature = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < n) { hist(bin(i)) += 1f; i += 1 }
    val total = math.max(1, n).toFloat
    var j = 0
    while (j < 16) { hist(j) /= total; j += 1 }
    Feature(id, kind, nBytes, hist)
  }

  /** Byte-level feature: a 16-bin histogram of the payload's raw bytes
    * (high nibble). Same Feature shape as the decoded kinds, so the
    * pipeline downstream of the dispatch is identical.
    */
  def decodeStub(id: Long, kind: String, bytes: Array[Byte]): Feature =
    histFeature(id, kind, bytes.length.toLong, bytes.length)(i =>
      (bytes(i) & 0xf0) >>> 4)

  /** Decoded image → 16-bin LUMINANCE histogram (Rec.601 luma over
    * decoded top-down RGB; gray images decode with r = g = b, so their
    * luma is the gray level itself).
    */
  def decodeImageFeature(id: Long, kind: String, bytes: Array[Byte]): Feature = {
    val img = Media.decodeImage(kind, bytes)
    val rgb = img.rgb
    histFeature(id, kind, bytes.length.toLong, img.width * img.height) { i =>
      ((rgb(3 * i) & 0xff) * 299 + (rgb(3 * i + 1) & 0xff) * 587 +
        (rgb(3 * i + 2) & 0xff) * 114) / 1000 >> 4
    }
  }

  /** Decoded 16-bit PCM WAV → 16-bin AMPLITUDE histogram over the
    * samples (bin = (s + 32768) >> 12). Kind is reported as "wav" (the
    * decode proved it; "riff" is only the sniff).
    */
  def decodeWavFeature(id: Long, bytes: Array[Byte]): Feature = {
    val samples = Media.decodeWav(bytes).samples
    histFeature(id, "wav", bytes.length.toLong, samples.length)(i =>
      (samples(i) + 32768) >> 12)
  }

  /** Partition-parallel feature extraction over (id, kind, payload) rows.
    * Batched per partition (the decoder amortizes any model/codec init
    * across the partition's rows — same shape as mapInPandas batches).
    * BMP, PNG, GIF and JPEG payloads decode to pixels, RIFF payloads to
    * WAV samples; a payload that sniffs as one of them but does not
    * decode ([[FormatException]]: arbitrary data behind 2-8 magic
    * bytes, truncation, an unsupported sample format) degrades that
    * ROW to the byte stub under its sniffed kind, never the batch.
    */
  def extractFeatures(spark: SparkSession, df: DataFrame,
                      idCol: String = "id", binCol: String = "payload"): Dataset[Feature] = {
    import spark.implicits._
    // null contract (r15, NULL audit): a NULL payload is a MISSING
    // asset — it produces no feature row (the skip-missing-asset
    // behavior of any media pipeline), never an NPE inside the codec
    df.filter(col(binCol).isNotNull)
      .select(col(idCol).cast("long"), sniffKind(col(binCol)), col(binCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, bytes) =>
          try kind match {
            case "bmp" | "png" | "gif" | "jpeg" =>
              decodeImageFeature(id, kind, bytes)
            case "riff" => decodeWavFeature(id, bytes)
            case _ => decodeStub(id, kind, bytes)
          } catch {
            case _: FormatException => decodeStub(id, kind, bytes)
          }
        }
      }
  }

  /** REAL pixel-space box resample over decoded RGB (the downscale
    * step of a thumbnail/feature pipeline): every source pixel lands
    * in output cell `(x·ow/w, y·oh/h)` (integer division — uneven box
    * boundaries when ow∤w), and each cell is the integer mean of its
    * box per channel. Deterministic integer arithmetic end to end, so
    * an oracle can replay it from the source pixel values.
    */
  def boxResize(w: Int, h: Int, rgb: Array[Byte],
                ow: Int, oh: Int): Array[Byte] = {
    require(w > 0 && h > 0 && ow > 0 && oh > 0 && ow <= w && oh <= h,
      s"box resample needs 0 < ow <= w, 0 < oh <= h (got ${w}x$h -> ${ow}x$oh)")
    require(rgb.length == w * h * 3, s"rgb length ${rgb.length} != ${w}x${h}x3")
    val sum = new Array[Long](ow * oh * 3)
    val cnt = new Array[Int](ow * oh)
    var y = 0
    while (y < h) {
      // Long products: decoded planes admit up to 2^20 px per side, so
      // y*oh / x*ow overflow Int and would corrupt the cell index
      val oy = (y.toLong * oh / h).toInt
      var x = 0
      while (x < w) {
        val o = oy * ow + (x.toLong * ow / w).toInt
        cnt(o) += 1
        var c = 0
        while (c < 3) {
          sum(o * 3 + c) += rgb((y * w + x) * 3 + c) & 0xff; c += 1
        }
        x += 1
      }
      y += 1
    }
    Array.tabulate(ow * oh * 3)(i => (sum(i) / cnt(i / 3)).toByte)
  }

  /** Difference-hash (dHash) perceptual fingerprint of decoded RGB:
    * box-resample to 9×8, integer grayscale `(r+g+b)/3` per pixel,
    * then one bit per horizontal neighbor pair (`gray[x+1] > gray[x]`,
    * 8 bits × 8 rows). Emitted as a 16-hex-char string (row bytes in
    * row order, bit x = comparison at column x) — no 64-bit sign games
    * and directly replayable by an engine building the same hex.
    *
    * dHash keys on luminance GRADIENTS, so uniform brightness shifts
    * (no wraparound/clipping) leave the hash unchanged — the property
    * that makes exact-hash bucketing a near-dup candidate generator
    * for re-encoded/brightness-adjusted images, the image analog of
    * MinHash banding (bucket join, never all-pairs).
    */
  def dhash(w: Int, h: Int, rgb: Array[Byte]): String = {
    val t = boxResize(w, h, rgb, 9, 8)
    val gray = Array.tabulate(9 * 8) { i =>
      ((t(3 * i) & 0xff) + (t(3 * i + 1) & 0xff) + (t(3 * i + 2) & 0xff)) / 3
    }
    val sb = new StringBuilder(16)
    var y = 0
    while (y < 8) {
      var b = 0
      var x = 0
      while (x < 8) {
        if (gray(y * 9 + x + 1) > gray(y * 9 + x)) b |= 1 << x
        x += 1
      }
      sb.append(f"$b%02x")
      y += 1
    }
    sb.toString
  }

  /** STUB resize — deterministic strided byte sample of the payload to
    * exactly w·h bytes, so the plumbing is testable. Output payloads
    * are fixed-size regardless of input size — the property downstream
    * batch-inference relies on.
    */
  def resizeStub(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h)
    if (bytes.nonEmpty) {
      var i = 0
      while (i < out.length) {
        out(i) = bytes((i.toLong * bytes.length / out.length).toInt)
        i += 1
      }
    }
    out
  }

  final case class Frames(id: Long, kind: String, n_frames: Int,
                          frames: Array[Array[Byte]])

  /** STUB frame sampling — a real implementation seeks keyframes via a
    * video codec; the fake slices the payload into `everyN`-byte strides
    * capped at `maxFrames`. Plumbing shape is the production one: blobs
    * stay in their partition, each emitted frame is itself an opaque
    * binary ready for resize → feature-extract.
    */
  def sampleFrames(spark: SparkSession, df: DataFrame, everyN: Int,
                   maxFrames: Int = 16, idCol: String = "id",
                   binCol: String = "payload"): Dataset[Frames] = {
    import spark.implicits._
    // null payload = missing asset -> no frames (see extractFeatures)
    df.filter(col(binCol).isNotNull)
      .select(col(idCol).cast("long"), sniffKind(col(binCol)), col(binCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, bytes) =>
          val frames = bytes.grouped(everyN).take(maxFrames).toArray
          Frames(id, kind, frames.length, frames)
        }
      }
  }
}
